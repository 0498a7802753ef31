package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CurationQueries, Relational6}

/** Pins [[Profile]]: the single-scan plan claim (no Expand, one
  * aggregate exchange), distinct-sketch exactness below k, quantile
  * agreement with Spark's own percentile, and the split audit. */
class ProfileSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("profile plan: one scan, no Expand, a single aggregate exchange") {
    val df = Relational6.q31Profile(spark, sfDir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      "multi-distinct must NOT plan through Expand — that is the scan replay the sketch exists to avoid")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one parquet scan, got $scans")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected at most the final agg exchange, got $exchanges")
  }

  test("profile: null accounting and below-k exactness agree with exact aggregates") {
    val d = graft.Tables.documents(spark, sfDir)
    val rows = Relational6.q31Profile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val total = d.count()
    assert(rows.values.forall(_.getLong(1) == total))
    val nullText = d.filter(col("text").isNull).count()
    assert(rows("text").getLong(2) === nullText)
    // source cardinality is far below k=128: sketch must be exact
    // (null counted as one value if present)
    val exactSource = d.select(col("source")).distinct().count() +
      (if (d.filter(col("source").isNull).count() > 0) 1 else 0)
    assert(rows("source").getLong(3) === exactSource)
    assert(rows("doc_id").getString(4) === d.agg(min(col("doc_id"))).head.getLong(0).toString)
  }

  test("exactQuantiles matches Spark's percentile() definition") {
    val li = graft.Tables.lineitem(spark, sfDir)
    val got = Relational6.q32Quantiles(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val expected = li
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 1000000L).cast("long").as("v6"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(v6, array(0.5, 0.90, 0.99))").as("ps"))
      .collect()
      .flatMap { r =>
        val ps = r.getSeq[Double](1)
        Seq(50, 90, 99).zip(ps).map { case (p, v) => (r.getString(0), p) -> v }
      }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, u) =>
      // pctl_u is the interpolated micro value ×100; percentile() is
      // the same definition in double — agree to double precision
      assert(math.abs(u / 100.0 - expected(k)) < 1.0, s"$k: $u vs ${expected(k)}")
    }
  }

  test("windowed and distributed exactQuantiles are row-equal") {
    val spark2 = spark
    import spark2.implicits._
    // ties, a null value, an uneven group, and a null GROUP — the
    // distributed form's null-safe joins must keep the null group
    val rows = Seq(("a", 5L), ("a", 1L), ("a", 1L), ("a", 9L), ("a", 3L),
      ("b", 2L), ("b", 7L), (null.asInstanceOf[String], 4L),
      (null.asInstanceOf[String], 8L))
      .toDF("g", "v")
    val ps = Seq(0, 37, 50, 100)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getInt(1),
        r.getLong(2))).toSet
    val w = canon(Profile.exactQuantiles(rows, "g", col("v"), ps))
    // localComputeMaxRows = 0 forces the DISTRIBUTED two-level plan
    val d = canon(Profile.exactQuantilesDistributed(
      rows.repartition(5), "g", col("v"), ps, localComputeMaxRows = 0L))
    assert(w === d)
    // and the r11 LOCAL regime (primitive per-group sorts) is
    // row-equal too — including the null group
    val l = canon(Profile.exactQuantilesDistributed(
      rows.repartition(5), "g", col("v"), ps))
    assert(w === l)
    assert(w.nonEmpty && w.exists(_._1.isEmpty), "null group must survive")
  }

  test("split assign partitions the corpus with ~98/1/1 strata") {
    val rows = CurationQueries.splitAssign(spark, sfDir).collect()
    val d = graft.Tables.documents(spark, sfDir)
    assert(rows.map(_.getLong(2)).sum === d.count())
    val bySplit = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    val total = d.count().toDouble
    assert(bySplit("train") / total > 0.9, s"train share ${bySplit("train") / total}")
    assert(bySplit.getOrElse("val", 0L) + bySplit.getOrElse("test", 0L) > 0)
    // determinism: a re-run assigns identically
    val again = CurationQueries.splitAssign(spark, sfDir).collect()
    assert(again.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ===
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq)
  }
}
