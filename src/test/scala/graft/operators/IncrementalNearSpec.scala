package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Dedup.nearMatchAgainstBase]] (the d16 batch operator) and
  * proves the streamable plan shape
  * ([[Dedup.nearMatchAgainstBaseStreamable]]) row-for-row equal to it,
  * including under the hot-bucket guard.
  */
class IncrementalNearSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val tA = "the quick brown fox jumps over the lazy dog near the river bank " * 3
  private val tB = "spark shuffles partition data across executors during wide transformations " * 3

  test("near-edits match their source; disjoint docs do not; base never pairs with itself") {
    val base = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val today = Seq(
      (101L, tA + "updated"),                                 // near-dup of 1
      (102L, tB.split(" ").reverse.mkString(" ")),            // shingle-disjoint
      (103L, "completely unrelated short words only here now")
    ).toDF("doc_id", "text")
    val out = Dedup.nearMatchAgainstBase(today, "doc_id", "text",
      base, "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5)
    val got = rows(out)
    assert(got.map(r => (r._1, r._2)) === Set((101L, 1L)))
    val j = got.head._3
    assert(j > 0.8 && j <= 1.0, s"trailing-edit jaccard should be high, got $j")
  }

  test("jaccard is the exact shingle value, not an LSH estimate") {
    // one appended word on a w-word doc: |A∩B| = w-2 3-shingles (distinct),
    // |A∪B| = w-1, but repetition collapses distinct shingles — compute
    // the expected value directly from the shingle sets instead
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val doc = words.mkString(" ")
    def shingles(ws: Array[String]) = ws.sliding(3).map(_.mkString(" ")).toSet
    val a = shingles(words); val b = shingles(words :+ "updated")
    val expected = (a intersect b).size.toDouble / (a union b).size
    val base = Seq((1L, doc)).toDF("doc_id", "text")
    val today = Seq((11L, doc + " updated")).toDF("doc_id", "text")
    val out = rows(Dedup.nearMatchAgainstBase(today, "doc_id", "text",
      base, "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5))
    assert(out.size === 1)
    assert(math.abs(out.head._3 - expected) < 1e-6,
      s"got ${out.head._3}, expected $expected")
  }

  test("hot-bucket guard preserves the match decision, pointing at the bucket representative") {
    // 500 identical base docs: every band bucket they occupy has df=500 >> cap,
    // so the guard collapses them to the min-id representative (id 0)
    val base = (0L until 500L).map(i => (i, tA)).toDF("doc_id", "text")
    val today = Seq((9001L, tA + "updated"), (9002L, tB)).toDF("doc_id", "text")
    val out = rows(Dedup.nearMatchAgainstBase(today, "doc_id", "text",
      base, "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5,
      maxBaseBucketDf = Some(10)))
    assert(out.map(r => (r._1, r._2)) === Set((9001L, 0L)),
      "guarded match must still fire, against the min-id representative")
  }

  test("streamable plan == batch plan on a mixed corpus (guard on and off)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val today = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" updated")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
    for (cap <- Seq(Some(100), None, Some(3))) {
      val batch = rows(Dedup.nearMatchAgainstBase(today, "doc_id", "text",
        docs, "doc_id", "text", 3, 64, 32, 0.5, cap))
      val stream = rows(Dedup.nearMatchAgainstBaseStreamable(today, "doc_id", "text",
        docs, "doc_id", "text", 3, 64, 32, 0.5, cap))
      assert(stream === batch, s"cap=$cap: streamable plan diverged from batch")
      if (cap.contains(100)) assert(batch.nonEmpty, "expected matches on the edit half")
    }
  }
}
