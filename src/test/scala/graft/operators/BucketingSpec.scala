package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with graft.SharedSpark {

  // the join under test must not degrade to a broadcast
  override protected def suiteConf = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val dir = "/root/testdata/sf0.001"

  /** Drop catalog entries AND stale warehouse directories — a previous
    * JVM's default-warehouse leftovers otherwise raise
    * LOCATION_ALREADY_EXISTS on a fresh in-memory catalog. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val stale = new java.io.File(s"spark-warehouse/$name")
    if (stale.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stale)
    }
  }

  test("co-located join of same-bucketed tables plans with zero exchanges") {
    resetTable("li_b"); resetTable("o_b")
    Bucketing.writeBucketed(
      graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "li_b", "l_orderkey", buckets = 8)
    Bucketing.writeBucketed(
      graft.Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
      "o_b", "o_orderkey", buckets = 8)
    val joined = Bucketing.coLocatedJoin(spark, "li_b", "o_b", "l_orderkey", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    // and the result is right
    val n = joined.count()
    val expected = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(n == expected)
  }

  test("aggregation on the bucket key also skips the exchange") {
    val agg = spark.table("li_b").groupBy("l_orderkey").agg(sum("l_quantity"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed agg must reuse the layout:\n$plan")
  }
}
