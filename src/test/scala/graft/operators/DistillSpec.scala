package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Distill.olsDistill]]: per-group integer OLS via one-pass normal
  * equations + in-plan Cramer solve + quantized-model R². */
class DistillSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("exact linear data recovers its coefficients with r2 = 1") {
    // y = 2 + 3*x1 - x2, integer-exact on an affinely independent grid
    val rows = for (x1 <- 0 to 20; x2 <- 0 to 10)
      yield ("g", x1, x2, 2 + 3 * x1 - x2)
    val out = Distill.olsDistill(
        rows.toDF("source", "x1", "x2", "y"), "source", "x1", "x2", "y")
      .collect()
    assert(out.toSeq == Seq(
      Row("g", 231L, 2000L, 3000L, -1000L, 1000000L)))
  }

  test("singular design matrix (constant features) yields NULLs") {
    val rows = Seq(("s", 5, 7, 1), ("s", 5, 7, 2), ("s", 5, 7, 3))
    val out = Distill.olsDistill(
        rows.toDF("source", "x1", "x2", "y"), "source", "x1", "x2", "y")
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("source") == "s" && r.getAs[Long]("n") == 3L)
    assert(r.isNullAt(r.fieldIndex("b0_milli")) &&
      r.isNullAt(r.fieldIndex("b1_milli")) &&
      r.isNullAt(r.fieldIndex("b2_milli")) &&
      r.isNullAt(r.fieldIndex("r2_ppm")))
  }

  test("near-singular group (coefficients past the cap) degrades to NULL model") {
    // synthetic sufficient statistics: det = 1 (sx = 0, s12 = 0,
    // n = s11 = s22 = 1), so b0_milli = sy * 1000 — set sy to force
    // |b0_milli| = 2e12 past Distill.coeffCapMilli on one group and a
    // sane 5000 on the control group
    val cols = Seq("n", "sx1", "sx2", "s11", "s12", "s22",
      "sy", "s1y", "s2y", "syy")
    val stats = Seq(
        ("hot", 1L, 0L, 0L, 1L, 0L, 1L, 2000000000L, 0L, 0L, 0L),
        ("ok",  1L, 0L, 0L, 1L, 0L, 1L, 5L,          0L, 0L, 0L))
      .toDF(("source" +: cols): _*)
      .select(col("source") +:
        cols.map(c => col(c).cast("decimal(38,0)").as(c)): _*)
    val out = Distill.solveFromStats(stats).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val hot = out("hot")
    assert(hot.isNullAt(hot.fieldIndex("b0_milli")) &&
      hot.isNullAt(hot.fieldIndex("b1_milli")) &&
      hot.isNullAt(hot.fieldIndex("b2_milli")) &&
      hot.isNullAt(hot.fieldIndex("r2_ppm")))
    assert(out("ok").getAs[Long]("b0_milli") == 5000L)
  }

  test("noisy data matches an independent exact BigInt reference") {
    // deterministic pseudo-noise (LCG), two groups, independent
    // reference solver in plain BigInt — same math, none of the
    // operator's SQL machinery
    val rng = new scala.util.Random(41)
    val rows = for (g <- Seq("a", "b"); _ <- 1 to 200) yield {
      val x1 = rng.nextInt(100); val x2 = rng.nextInt(50)
      (g, x1, x2, 10 + 2 * x1 + 3 * x2 + rng.nextInt(21) - 10)
    }
    def reference(pts: Seq[(Int, Int, Int)]): (Long, Long, Long, Long) = {
      def I(v: Long) = BigInt(v)
      val n = I(pts.size)
      val (sx1, sx2, sy) = (I(pts.map(_._1.toLong).sum),
        I(pts.map(_._2.toLong).sum), I(pts.map(_._3.toLong).sum))
      val s11 = I(pts.map(p => p._1.toLong * p._1).sum)
      val s12 = I(pts.map(p => p._1.toLong * p._2).sum)
      val s22 = I(pts.map(p => p._2.toLong * p._2).sum)
      val s1y = I(pts.map(p => p._1.toLong * p._3).sum)
      val s2y = I(pts.map(p => p._2.toLong * p._3).sum)
      val det = n * (s11 * s22 - s12 * s12) -
        sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2)
      val num0 = sy * (s11 * s22 - s12 * s12) -
        sx1 * (s1y * s22 - s12 * s2y) + sx2 * (s1y * s12 - s11 * s2y)
      val num1 = n * (s1y * s22 - s12 * s2y) -
        sy * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s2y - s1y * sx2)
      val num2 = n * (s11 * s2y - s1y * s12) -
        sx1 * (sx1 * s2y - s1y * sx2) + sy * (sx1 * s12 - s11 * sx2)
      def milli(num: BigInt): Long = {
        val sign = if (num.signum * det.signum < 0) -1 else 1
        (BigInt(sign) * ((num.abs * 1000) / det.abs)).toLong
      }
      val (b0, b1, b2) = (milli(num0), milli(num1), milli(num2))
      val ybar = (sy * 1000) / n
      val sse = pts.map { p =>
        val r = I(p._3) * 1000 - (I(b0) + I(b1) * p._1 + I(b2) * p._2)
        r * r
      }.sum
      val sst = pts.map { p =>
        val d = I(p._3) * 1000 - ybar; d * d }.sum
      (b0, b1, b2, (BigInt(1000000) - (sse * 1000000) / sst).toLong)
    }
    val out = Distill.olsDistill(
        rows.toDF("source", "x1", "x2", "y"), "source", "x1", "x2", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for (g <- Seq("a", "b")) {
      val exp = reference(rows.filter(_._1 == g).map(t => (t._2, t._3, t._4)))
      assert(out(g) == exp, s"group $g")
      // sanity: the quantized model still explains nearly everything
      assert(out(g)._4 > 990000L, s"group $g r2 = ${out(g)._4}")
    }
  }

  test("empty input yields an empty model table, not an error") {
    val out = Distill.olsDistill(
      Seq.empty[(String, Int, Int, Int)].toDF("source", "x1", "x2", "y"),
      "source", "x1", "x2", "y")
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq ==
      Seq("source", "n", "b0_milli", "b1_milli", "b2_milli", "r2_ppm"))
  }

  test("a single-row group is singular (n < features): NULLs, no crash") {
    val out = Distill.olsDistill(
        Seq(("solo", 3, 4, 7)).toDF("source", "x1", "x2", "y"),
        "source", "x1", "x2", "y")
      .collect()
    assert(out.length == 1 && out(0).getAs[Long]("n") == 1L)
    assert(out(0).isNullAt(out(0).fieldIndex("b0_milli")) &&
      out(0).isNullAt(out(0).fieldIndex("r2_ppm")))
  }

  test("result is invariant under repartitioning (mergeable monoid)") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 500).map(_ =>
      ("g", rng.nextInt(200), rng.nextInt(200), rng.nextInt(1000)))
    val df = rows.toDF("source", "x1", "x2", "y")
    val a = Distill.olsDistill(df.coalesce(1), "source", "x1", "x2", "y")
      .collect().toSeq
    val b = Distill.olsDistill(df.repartition(17, col("y")),
      "source", "x1", "x2", "y").collect().toSeq
    assert(a == b)
  }
}
