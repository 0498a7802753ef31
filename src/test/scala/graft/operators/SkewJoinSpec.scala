package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join demo (the ROADMAP deferred item): planted hot keys,
  * AQE splits the oversized join partitions at runtime. Own settings
  * ([[suiteConf]]) — the thresholds are deliberately tiny so the ~40 MB hot partition
  * trips the splitter at test scale. */
class SkewJoinSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("AQE splits a planted hot join key into multiple tasks (skew=true)") {
    import spark.implicits._
    // key 0 carries 200k rows with fat payloads; keys 1-99 carry 200 each
    val left = spark.range(220000).select(
      when(col("id") < 200000L, 0L).otherwise(col("id") % 100).as("k"),
      concat(lit("x" * 200), col("id")).as("payload"))
    val right = spark.range(100).select(col("id").as("k"), (col("id") * 7).as("dim"))
    val joined = left.join(right, "k")
    // drive THIS dataframe's query execution to completion (count() or
    // write() would build a separate one and leave this un-finalized)
    val qe = joined.queryExecution
    assert(qe.toRdd.count() == 220000L)
    val finalPlan = qe.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE should mark the skewed SMJ partitions for splitting:\n$finalPlan")
  }

  test("salted aggregation remains the remedy where AQE cannot split (groupBy)") {
    import spark.implicits._
    // AQE skew handling only splits JOIN partitions; a skewed groupBy
    // still needs the salting pattern
    val skewed = spark.range(100000).select(
      lit(0L).as("k"), col("id").as("row_id"), (col("id") % 97).cast("double").as("v"))
    val out = Skew.saltedStats(skewed, "k", "v", saltSource = "row_id", buckets = 16)
      .collect()
    assert(out.length == 1 && out.head.getAs[Long]("n") == 100000L)
  }
}
