package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class TopKPerKeySpec extends AnyFunSuite with graft.SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("custom top-k operator returns exactly the window-form result") {
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 7)
    val viaWindow = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val viaExec = Similarity.bruteForceTopKExec(q, e, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(viaExec.length == 70)
    assert(viaExec.toSeq == viaWindow.toSeq)
  }

  test("filtered search restricts candidates to the query's segment exactly") {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val q = e.filter(col("vec_id") < 7)
    val filtered = Similarity.filteredBruteForceTopK(
      q, e, "vec_id", "embedding", "label", k = 5)
    val rows = filtered.join(
        e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        "neighbor_id")
      .join(e.select(col("vec_id").as("query_id"), col("label").as("ql")),
        "query_id")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Any]("nl") == r.getAs[Any]("ql")),
      "every neighbor must share the query's label segment")
    // reference semantics: unfiltered window-form top-k over the
    // PRE-FILTERED corpus per query must agree row for row
    val perQuery = q.select(col("vec_id"), col("label")).collect()
    perQuery.foreach { qr =>
      val qid = qr.getLong(0); val lbl = qr.get(1)
      val seg = e.filter(col("label") === lbl)
      val ref = Similarity.bruteForceTopK(
          seg.filter(col("vec_id") === qid), seg, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val got = filtered.filter(col("query_id") === qid)
        .orderBy(col("rank"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(got == ref, s"query $qid: filtered result must equal the " +
        "window-form search over its segment")
    }
  }

  test("ties at the k-th position break by tiebreak asc, matching SQL") {
    import spark.implicits._
    // many rows share the same score; the kept set must be the lowest ids
    val df = (0L until 100L).map(i => (1L, i, if (i < 5) 10.0 else 1.0)).toDF("k", "id", "s")
      .repartition(4)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val plan = ColumnBridge.logicalPlan(df)
    val out = ColumnBridge.ofRows(spark, TopKPerKeyNode(
        Seq(plan.output.find(_.name == "k").get),
        plan.output.find(_.name == "s").get,
        plan.output.find(_.name == "id").get, 8, plan))
      .collect().map(_.getLong(1)).sorted
    // top 8 by (s desc, id asc): ids 0-4 (score 10) then 5,6,7 (score 1)
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("array tiebreaks are deep-copied, not buffer views (r9 regression)") {
    import spark.implicits._
    // all rows share one score so ONLY the array tiebreak decides the
    // kept set; before the fix the heap held UnsafeArrayData views into
    // the scan's reused row buffer, so comparisons read whatever row
    // the iterator was on — silently wrong survivors. Many rows per
    // partition force buffer reuse.
    val df = (0L until 200L).map(i => (1L, i, 5.0, Seq(200L - i, i)))
      .toDF("k", "id", "s", "tie").repartition(2)
    val out = TopKPerKey.prune(df, "k", "s", "tie", 3)
      .collect().map(_.getLong(1)).sorted
    // tie asc on arrays = lexicographic on (200-i, i): smallest are
    // i = 199, 198, 197
    assert(out.toSeq == Seq(197L, 198L, 199L))
  }

  test("k = 0 fails fast at the API instead of NPEing in the executor") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1.0)).toDF("k", "id", "s")
    val e = intercept[IllegalArgumentException] {
      TopKPerKey.prune(df, "k", "s", "id", 0)
    }
    assert(e.getMessage.contains("k must be >= 1"))
  }

  test("null scores rank last (window desc NULLS LAST parity) and float scores work") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // ids 0-3 have real scores, 4-9 null; k=6 must keep all scored rows
    // then fill with the lowest-id null rows — exactly the window form
    val df = (0L until 10L).map(i => (1L, i, if (i < 4) Some(i * 1.0f) else None))
      .toDF("k", "id", "s").repartition(3)
    val plan = ColumnBridge.logicalPlan(df)
    val out = ColumnBridge.ofRows(spark, TopKPerKeyNode(
        Seq(plan.output.find(_.name == "k").get),
        plan.output.find(_.name == "s").get,
        plan.output.find(_.name == "id").get, 6, plan))
      .collect().map(_.getLong(1)).sorted
    val viaWindow = df.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("s").desc, col("id").asc)))
      .filter(col("rn") <= 6).collect().map(_.getLong(1)).sorted
    assert(out.toSeq == viaWindow.toSeq, "float score + null rows must match window form")
  }

  test("non-numeric score is rejected at node construction") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val df = Seq((1L, 2L, "x")).toDF("k", "id", "s")
    val plan = ColumnBridge.logicalPlan(df)
    assertThrows[IllegalArgumentException] {
      TopKPerKeyNode(Seq(plan.output.head), plan.output.find(_.name == "s").get,
        plan.output.find(_.name == "id").get, 3, plan)
    }
  }

  test("plan shows two-phase TopKPerKeyExec with one exchange between") {
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 2)
    val p = Similarity.bruteForceTopKExec(q, e, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    // exec nodes render as "TopKPerKey [keys], score..., partial" in the
    // plan string (no Exec suffix)
    assert("TopKPerKey \\[".r.findAllIn(p).length == 2, s"expected partial+final:\n$p")
  }

  test("the rank window reuses the final phase's exchange on the query key") {
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 2)
    val p = Similarity.bruteForceTopKExec(q, e, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    // the final phase and the row_number window both cluster on
    // query_id; the final phase keeps its input partitioning, so no
    // second shuffle sits between them
    assert("Exchange hashpartitioning\\(query_id".r.findAllIn(p).length == 1,
      s"expected one exchange on query_id:\n$p")
  }

  test("GraftExtensions injects the strategy at session build time") {
    // getOrCreate returns any ACTIVE session as it is — clear both
    // handles so Graft.session builds a genuinely new session (the
    // SparkContext is reused), then restore the suite session after
    spark.sparkContext // force the suite session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = graft.Graft.session(4, "graft-session-pin")
      assert(s2 ne spark)
      def strategies = s2.sessionState.planner.strategies.count(_ == TopKStrategy)
      assert(strategies == 1)
      // prune finds the injected strategy and adds no second one
      val df = s2.range(10).selectExpr("id % 2 AS k", "id", "CAST(id AS DOUBLE) AS s")
      assert(TopKPerKey.prune(df, "k", "s", "id", 2).count() == 4)
      assert(strategies == 1)
      // the native SQL functions and the extractor UDFs resolve
      val cos = s2.sql(
        "SELECT cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) c")
        .collect()(0).getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      assert(s2.sql("SELECT uuid5('hello') AS u").head().getString(0)
        == "9342d47a-1bab-5709-9869-c840b2eac501")
      assert(s2.sql("SELECT lang_id('the of and to a in is') l")
        .collect()(0).getString(0) === "en")
      val extracted = s2.sql("SELECT pdf_pages(CAST(NULL AS BINARY)) p, " +
        "graft_extract(CAST('plain text' AS BINARY), '.txt') t").head()
      assert(extracted.isNullAt(0) && extracted.getString(1) == "plain text")
    } finally {
      // a failed assertion must not leave the suite session cleared for
      // every later test in this JVM
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
