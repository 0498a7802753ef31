package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the KMV bottom-k distinct sketch ([[Kmv]]): exactness below k,
  * the error bound at the default k, partition-invariance of the
  * aggregator monoid, and equality with an independent Spark SQL
  * window replay of the sketch definition.
  */
class KmvSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def asMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("exact below k: sketches holding every hash return the true distinct count") {
    val df = (1 to 300).map(i => (s"g${i % 3}", i)).toDF("grp", "v")
    // 100 distinct per group < k=128: estimate must be exact
    val got = asMap(Kmv.approxCountDistinct(df, "grp", "v", "t", "nd"))
    assert(got === Map("g0" -> 100L, "g1" -> 100L, "g2" -> 100L))
    // and idempotent: duplicated input changes nothing
    val dup = df.unionAll(df)
    assert(asMap(Kmv.approxCountDistinct(dup, "grp", "v", "t", "nd")) === got)
  }

  test("estimate error within 3/sqrt(k-2) of exact at the default k") {
    val ev = graft.Tables.events(spark, sfDir)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = asMap(Kmv.approxCountDistinct(ev, "event_type", "user_id", "ku", "nd"))
    val bound = 3.0 / math.sqrt(Kmv.K - 2) // ~26.7% at k=128
    exact.foreach { case (g, n) =>
      val e = est(g)
      val rel = math.abs(e - n).toDouble / n
      assert(rel <= bound, s"$g: est $e vs exact $n (rel $rel > $bound)")
    }
  }

  test("aggregator is partition-invariant (merge is a true monoid)") {
    val ev = graft.Tables.events(spark, sfDir)
    val one = asMap(Kmv.approxCountDistinct(
      ev.repartition(1), "event_type", "user_id", "ku", "nd"))
    val many = asMap(Kmv.approxCountDistinct(
      ev.repartition(13), "event_type", "user_id", "ku", "nd"))
    assert(one === many)
  }

  test("aggregator equals an independent Spark SQL window replay of the sketch") {
    val k = Kmv.K
    val ev = graft.Tables.events(spark, sfDir)
    val agg = asMap(Kmv.approxCountDistinct(ev, "event_type", "user_id", "ku", "nd"))
    // replay the definition: distinct hashes ranked per group, read h_k,
    // (k-1)*2^60 div h_k in DECIMAL(38,0) (exceeds Long for k=128)
    ev.select(col("event_type").as("grp"),
        expr(HyperLogLog.hashExpr("user_id", "ku")).as("h"))
      .distinct()
      .createOrReplaceTempView("kmv_hashes")
    val replay = spark.sql(
      s"""SELECT grp, CAST(CASE WHEN nd < $k THEN nd
         |    ELSE CAST(FLOOR(CAST(${k - 1} AS DECIMAL(38,0)) * ${1L << 60}
         |               / hk) AS BIGINT) END AS BIGINT) AS nd
         |FROM (
         |  SELECT grp, count(*) AS nd, max(CASE WHEN rn = $k THEN h END) AS hk
         |  FROM (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
         |        FROM kmv_hashes)
         |  WHERE rn <= $k GROUP BY grp)""".stripMargin)
    assert(asMap(replay) === agg)
  }
}
