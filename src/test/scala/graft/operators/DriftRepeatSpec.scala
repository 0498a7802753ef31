package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-5 mixture/monitoring operators: [[Drift.sourceDrift]]
  * (exact total-variation drift), [[TextAnalysis.epochRepeat]]
  * (with-replacement upsampling), and [[Profile.winsorize]]. */
class DriftRepeatSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("sourceDrift: hand-computed TV on a two-source corpus") {
    // corpus: s1 = {a:3, b:1}, s2 = {a:1, b:3}; N=8, c_a=c_b=4
    // TV(s1) numerator = |3·8 − 4·4| + |1·8 − 4·4| = 8 + 8 = 16
    // TV(s1) = 16 / (2·4·8) = 0.25 (same for s2 by symmetry)
    val df = Seq(
      ("s1", "a a a b"), ("s2", "a b b b")).toDF("source", "text")
    val out = Drift.sourceDrift(df, "source", "text", maxVocab = 10)
      .collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("n_words") === 4L)
      assert(r.getAs[String]("tv_num") === "16")
      // 0.25 exactly → 250000 ppm via floor division
      assert(r.getAs[Long]("tv_ppm") === 250000L)
    }
  }

  test("sourceDrift: identical distributions drift zero; cap lumps tail") {
    val df = Seq(("s1", "a b c d"), ("s2", "a b c d")).toDF("source", "text")
    val out = Drift.sourceDrift(df, "source", "text", maxVocab = 2)
    // with vocab capped at 2, the other-bucket derivation must still
    // see identical distributions → TV = 0
    assert(out.collect().forall(_.getAs[Long]("tv_ppm") === 0L))
  }

  test("epochRepeat: whole repeat factor replicates exactly") {
    // one domain, total = 4 tokens, target = 12 → r = 3 exactly:
    // every doc appears exactly 3 times (frac = 0 → no extra coin)
    val df = Seq((1L, "d", "w1 w2"), (2L, "d", "w3 w4")).toDF("doc_id", "src", "text")
    val out = TextAnalysis.epochRepeat(df, "doc_id", "src", "text", 12L)
      .collect()
    assert(out.length === 6)
    assert(out.map(_.getAs[Long]("n_copies")).toSet === Set(3L))
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy"))).toSet
      === Set(1L, 2L).flatMap(d => Set(1L, 2L, 3L).map(d -> _)))
  }

  test("epochRepeat: fractional factor keeps expectation; deterministic") {
    val docs = (1 to 200).map(i => (i.toLong, "d", s"w$i x$i y$i z$i"))
      .toDF("doc_id", "src", "text")
    // total = 800 tokens, target = 1000 → r = 1.25: every doc at least
    // once, ~25% twice
    val out = TextAnalysis.epochRepeat(docs, "doc_id", "src", "text", 1000L)
    val copies = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(copies.size === 200)
    assert(copies.values.forall(c => c == 1L || c == 2L))
    val extra = copies.values.count(_ == 2L)
    assert(extra > 20 && extra < 80, s"extra-copy count $extra far from 50")
    // deterministic across partitionings
    val again = TextAnalysis.epochRepeat(docs.repartition(7),
        "doc_id", "src", "text", 1000L)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === copies)
  }

  test("epochRepeat: sub-one factor downsamples, zero-copy docs vanish") {
    val docs = (1 to 100).map(i => (i.toLong, "d", s"w$i x$i"))
      .toDF("doc_id", "src", "text")
    // total = 200, target = 50 → r = 0.25
    val out = TextAnalysis.epochRepeat(docs, "doc_id", "src", "text", 50L)
      .collect()
    assert(out.nonEmpty && out.length < 60)
    assert(out.forall(_.getAs[Long]("n_copies") === 1L))
  }

  test("winsorize: NULL group survives (null-safe bounds join)") {
    val df = ((1 to 100).map(i => (i.toLong, null.asInstanceOf[String], i.toLong)) :+
      (999L, "g", 5L)).toDF("id", "g", "v")
    val out = Profile.winsorize(df, "id", "g", col("v"), 10, 90)
      .filter(col("g").isNull).collect()
    assert(out.nonEmpty, "null-group tails must be reported")
  }

  test("winsorize: hand-computed clip bounds, clipped rows only") {
    // group g: values 1..100 (micro-units ×1: pass value as-is).
    // p10/p90: k = p·99 div 100 → lo rank; bounds interpolate between
    // neighbors — with values = rank this is 1 + p·99/100 (×100 units)
    val df = (1 to 100).map(i => (i.toLong, "g", i.toLong)).toDF("id", "g", "v")
    val out = Profile.winsorize(df, "id", "g", col("v"), 10, 90).collect()
    // lo100 = 100·1 + 10·99 % 100 interpolated: k=9, frac=90 →
    // lo = 10·(100−90) + 11·90 = 1090; hi: k=89, frac=10 →
    // 90·90 + 91·10 = 9010
    val lows = out.filter(_.getAs[String]("side") == "low")
      .map(_.getAs[Long]("id")).sorted
    val highs = out.filter(_.getAs[String]("side") == "high")
      .map(_.getAs[Long]("id")).sorted
    // values v with 100·v < 1090 → v ≤ 10; 100·v > 9010 → v ≥ 91
    assert(lows.toSeq === (1L to 10L))
    assert(highs.toSeq === (91L to 100L))
    assert(out.forall(r => r.getAs[Long]("w100") == 1090L ||
      r.getAs[Long]("w100") == 9010L))
  }
}
