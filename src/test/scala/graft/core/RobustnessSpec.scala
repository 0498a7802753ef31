package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Chunking, Dedup, TextAnalysis}

/** Edge inputs the 100 TB crawl will certainly contain: unicode, empty
  * strings, nulls, single-word docs. */
class RobustnessSpec extends AnyFunSuite with graft.SharedSpark {

  test("tokenizer is lossless on CJK, emoji, RTL, and mixed scripts") {
    val cases = Seq(
      "中文文本没有空格但有标点。还有第二句！",
      "mixed 中文 and english متن فارسی וגם עברית",
      "emoji 😀🎉 and  control chars",
      "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕞𝕒𝕥𝕙 (surrogate pairs)",
      "", " ", "\n\n\n", "a")
    cases.foreach { s =>
      assert(GraftTokenizer.decode(GraftTokenizer.encode(s)) == s, s"roundtrip: ${s.take(20)}")
    }
  }

  test("chunkers handle empty and tiny inputs without error") {
    assert(Chunkers.exact(Seq(""), 16, 0).isEmpty)
    assert(Chunkers.exactByCharacters(Seq(""), 16, 0).isEmpty)
    assert(Chunkers.paragraph(Seq(""), 16, 0).length == 1) // python: [''] -> one empty chunk
    assert(Chunkers.sentence(Seq("x"), 16, 0).map(_.text) == Vector("x"))
    assert(Chunkers.splitFile("", 10).isEmpty)
  }

  test("DataFrame operators survive null/empty/unicode text rows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "normal words here and there"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "短 文"),
      (5L, "one"))
      .toDF("doc_id", "text")
    // chunk generator: null -> no chunks, empty -> no chunks
    val chunks = docs.select(col("doc_id"), Chunking.chunks(col("text"), ChunkStrategy.Exact, 8, 0))
      .collect()
    assert(!chunks.exists(r => r.getLong(0) == 3L))
    assert(chunks.exists(r => r.getLong(0) == 4L))
    // text profile: null text yields null stats, not a crash
    val prof = TextAnalysis.profile(docs.na.drop(Seq("text"))).collect()
    assert(prof.length == 4)
    // dedup on tiny docs (fewer words than the shingle size)
    val pairs = Dedup.minHashLshPairs(docs.na.fill("", Seq("text")), "doc_id", "text", 3, 64, 16, 0.5)
    assert(pairs.collect().forall(r => r.getDouble(2) >= 0.5))
  }

  test("uuid5 of empty and unicode names matches Python") {
    // python: uuid.uuid5(uuid.NAMESPACE_DNS, "") -> 4ebd0208-8328-5d69-8c44-ec50939c0967
    assert(Uuid5.of("") == "4ebd0208-8328-5d69-8c44-ec50939c0967")
    // python: uuid.uuid5(uuid.NAMESPACE_DNS, "中文") -> f3420d42-9a30-5884-b3eb-52fefbf0d107
    assert(Uuid5.of("中文") == "f3420d42-9a30-5884-b3eb-52fefbf0d107")
  }
}
