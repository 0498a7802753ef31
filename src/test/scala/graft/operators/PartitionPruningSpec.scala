package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hive-style partition layout + partition pruning: at 100 TB the
  * event-type filter must prune directories at planning time, not scan
  * and discard. */
class PartitionPruningSpec extends AnyFunSuite with graft.SharedSpark {

  test("partitioned write + filter prunes partitions at the scan") {
    val out = Files.createTempDirectory("events_part").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    // one directory per event type
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("event_type=")) == 5)

    val q = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter missing:\n$plan")
    // the pruned scan reads only the purchase directory
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).headOption
    q.collect()
    scanned.foreach(m => assert(m.value <= dirs.length.toLong))
  }

  test("DYNAMIC partition pruning: a dim-side filter prunes the fact scan") {
    // the 100 TB star-join shape: the fact table is partitioned on the
    // join key, the selective filter sits on the DIM side — static
    // pruning can't help (no literal predicate on the fact), so the
    // runtime must push the dim's surviving keys into the fact scan as
    // a planning-time subquery (Spark's DPP)
    val out = Files.createTempDirectory("fact_part").toString
    val spark2 = spark
    import spark2.implicits._
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    // the dim must be FILE-backed: a Filter over a LocalRelation is
    // constant-folded away by ConvertToLocalRelation before the DPP
    // rule looks for a selective build-side predicate (found the hard
    // way — an in-memory Seq.toDF dim never triggers DPP)
    val dimDir = Files.createTempDirectory("dim").toString
    Seq(("purchase", "rev"), ("view", "nonrev"), ("click", "nonrev"))
      .toDF("event_type", "kind")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = spark.read.parquet(out)
    val q = fact.join(dim, Seq("event_type"))
      .filter(col("kind") === "rev")         // selective filter on DIM
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on the fact scan:\n$plan")
    // and the answer is right: only purchase rows counted
    val expect = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "purchase").count()
    assert(q.head().getLong(0) === expect)
  }
}
