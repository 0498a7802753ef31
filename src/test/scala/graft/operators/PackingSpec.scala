package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def collectPack(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("offsets are the exact running token sum in id order") {
    // 3 + 5 + 2 + 4 tokens; seqLen 8 puts doc 30 in sequence 1
    val docs = Seq(
      (10L, "a b c"),
      (20L, "d e f g h"),
      (30L, "i j"),
      (40L, "k l m n")).toDF("doc_id", "text")
    val got = collectPack(Packing.sequencePack(docs, "doc_id", "text", seqLen = 8))
    assert(got(10L) === ((3L, 0L, 0L, 0L)))
    assert(got(20L) === ((5L, 3L, 0L, 3L)))
    assert(got(30L) === ((2L, 8L, 1L, 0L)))
    assert(got(40L) === ((4L, 10L, 1L, 2L)))
  }

  test("hierarchical sum is independent of the bucket width") {
    val docs = (0L until 300L).map(i => (i * 7, ("w " * (1 + (i % 13).toInt)).trim))
      .toDF("doc_id", "text")
    val fine = collectPack(Packing.sequencePack(docs, "doc_id", "text", 2048, bucketWidth = 16))
    val coarse = collectPack(Packing.sequencePack(docs, "doc_id", "text", 2048, bucketWidth = 100000))
    assert(fine === coarse)
  }

  test("null text counts zero tokens; null ids are excluded (r2 review)") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "a b"),
      (java.lang.Long.valueOf(2L), null),
      (null.asInstanceOf[java.lang.Long], "x y z"),
      (java.lang.Long.valueOf(3L), "c")).toDF("doc_id", "text")
    val got = collectPack(Packing.sequencePack(docs, "doc_id", "text", seqLen = 4))
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(2L) === ((0L, 2L, 0L, 2L))) // null text = 0 tokens
    assert(got(3L)._2 === 2L)              // offsets unshifted past it
  }

  test("sparse non-contiguous ids pack without gaps in the token stream") {
    val docs = Seq((5L, "a b"), (5000L, "c"), (5000000L, "d e f"))
      .toDF("doc_id", "text")
    val got = collectPack(Packing.sequencePack(docs, "doc_id", "text", seqLen = 4))
    assert(got(5L)._2 === 0L)
    assert(got(5000L)._2 === 2L)
    assert(got(5000000L)._2 === 3L)
  }

  private def collectEnc(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("vocabEncode: frequency-ranked ids, doc-crossing windows, short tail") {
    // vocab: a(3) -> 1, b(3) -> 2, c(1) -> 3 (count desc, word asc);
    // stream: doc1 [b a b] = [2 1 2], doc2 [a c a b] = [1 3 1 2]
    val docs = Seq((1L, "b a b"), (2L, "a c a b")).toDF("doc_id", "text")
    val got = collectEnc(Packing.vocabEncode(docs, "doc_id", "text", seqLen = 4))
    // (n_tokens, sum_id, first_id, last_id)
    assert(got(0L) === ((4L, 6L, 2L, 1L))) // [2 1 2 1] spans both docs
    assert(got(1L) === ((3L, 6L, 3L, 2L))) // [3 1 2] short tail
  }

  test("vocabEncode: tie ids are assigned by word order and all tokens covered") {
    val docs = Seq((1L, "z y z y")).toDF("doc_id", "text")
    // y and z tie at 2 -> y=1, z=2; stream [2 1 2 1]
    val got = collectEnc(Packing.vocabEncode(docs, "doc_id", "text", seqLen = 2))
    assert(got(0L) === ((2L, 3L, 2L, 1L)))
    assert(got(1L) === ((2L, 3L, 2L, 1L)))
    assert(got.values.map(_._1).sum === 4L)
  }
}
