package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the a18 hash-sampled quantile estimator (md5 predicate +
  * [[Profile.exactQuantiles]] on the sample): determinism and
  * partition-invariance of the sample, mergeability (a union's sample
  * is the union of samples), sample-rate concentration, and rank-error
  * bounds of the resulting quantiles. */
class SampleQuantileSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val n = 40000
  private def df = (1 to n).map(i => ("g", i.toLong, i.toLong * 10))
    .toDF("g", "id", "v")
  private val pred = HyperLogLog.hashExpr("id", "qs") + s" < ${1L << 57}"

  test("sample is deterministic, partition-invariant, and ~1/8 of rows") {
    val a = df.filter(expr(pred)).select("id").collect().map(_.getLong(0)).toSet
    val b = df.repartition(17).filter(expr(pred))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    val rate = a.size.toDouble / n
    assert(rate > 0.11 && rate < 0.14, s"sample rate $rate far from 1/8")
  }

  test("mergeable: union's sample == union of samples") {
    val half1 = df.filter(col("id") <= n / 2)
    val half2 = df.filter(col("id") > n / 2)
    val merged = half1.unionAll(half2).filter(expr(pred))
      .select("id").collect().map(_.getLong(0)).toSet
    val parts = half1.filter(expr(pred)).select("id").collect()
      .map(_.getLong(0)).toSet ++
      half2.filter(expr(pred)).select("id").collect().map(_.getLong(0)).toSet
    assert(merged === parts)
  }

  test("sampled quantiles land within the 3-sigma rank envelope") {
    val got = Profile.exactQuantiles(df.filter(expr(pred)), "g",
        col("v"), Seq(50, 90, 99))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // value of v at percentile p is ~ p/100 * n * 10 * 100 (pctl_u is
    // interpolated value ×100); sampled rank error sigma ≈
    // sqrt(p(1-p)/m) with m = sampled count ≈ n/8
    val m = n / 8.0
    Seq(50, 90, 99).foreach { p =>
      val q = p / 100.0
      val sigmaPct = 3 * math.sqrt(q * (1 - q) / m)
      val lo = ((q - sigmaPct) * n * 10 * 100).toLong
      val hi = ((q + sigmaPct) * n * 10 * 100).toLong
      assert(got(p) >= lo && got(p) <= hi,
        s"p$p = ${got(p)} outside [$lo, $hi]")
    }
  }
}
