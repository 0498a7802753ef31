package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bounded-state sampling aggregators behind s19/s20: the
  * monoid laws the streaming oracles rely on (any arrival/merge order
  * yields the same k records), equality with the batch
  * [[Sampling.weightedTopK]] prune path, and accumulation across real
  * micro-batches. */
class SampleAggregatorsSpec extends AnyFunSuite with graft.SharedSpark {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("weighted top-k buffer is arrival- and merge-structure-independent") {
    val agg = new SampleAggregators.WeightedTopKAggregator(5)
    val rnd = new scala.util.Random(7)
    // ids with duplicated es_keys to exercise the (key desc, id asc) tie
    val rows = (1L to 40L).map(i => (-(i % 11).toDouble, i, 10L + i)) ++
      Seq((-3.0, 1000L, 1L), (-3.0, 999L, 2L))
    val sequential = rows.foldLeft(agg.zero)(agg.reduce)
    (1 to 10).foreach { _ =>
      val shuffled = rnd.shuffle(rows)
      // random split into sub-buffers, reduce each, merge pairwise in
      // a random association order
      val parts = shuffled.grouped(1 + rnd.nextInt(7))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      val merged = rnd.shuffle(parts).reduce(agg.merge)
      assert(java.util.Arrays.equals(merged, sequential),
        "any reduce/merge order must produce the identical packed buffer")
    }
    assert(agg.finish(sequential).size === 5)
    // best draw = largest key; tie at key 0 broken by id asc
    assert(agg.finish(sequential).head._1 === 0.0)
  }

  test("bottom-k sample buffer is arrival- and merge-structure-independent") {
    val agg = new SampleAggregators.BottomKSampleAggregator(4)
    val rnd = new scala.util.Random(11)
    val rows = (1L to 30L).map(i => ((i * 7919) % 13, i)) // hash ties
    val sequential = rows.foldLeft(agg.zero)(agg.reduce)
    (1 to 10).foreach { _ =>
      val parts = rnd.shuffle(rows).grouped(1 + rnd.nextInt(5))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      val merged = rnd.shuffle(parts).reduce(agg.merge)
      assert(java.util.Arrays.equals(merged, sequential))
    }
    val out = agg.finish(sequential)
    assert(out.size === 4)
    assert(out === out.sorted, "records come out in (hash, value) order")
  }

  test("groupBy + weighted_topk aggregation equals the batch TopKPerKey prune") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 300L)
      .map(i => (s"s${i % 3}", i, 5L + i % 29))
      .toDF("src", "id", "w")
    val batch = Sampling.weightedTopK(df, "src", "id", "w", k = 12)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    val keyed = Sampling.esKeyed(df, "src", "id", "w")
    val viaAgg = keyed.groupBy(col("stratum"))
      .agg(SampleAggregators.weightedTopKAgg(
        col("es_key"), col("id"), col("weight"), 12).as("sample"))
      .select(col("stratum"), posexplode(col("sample")).as(Seq("i", "rec")))
      .select(col("stratum"), col("rec._2").as("id"),
        (col("i") + 1).cast("long").as("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAgg === batch,
      "aggregator sample order must equal the window-ranked batch sample")
  }

  test("bottom-k sample accumulates across micro-batches and equals batch") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("bk_drop"); val ckpt = tmp("bk_ckpt")
    (1L to 50L).map(i => ("a", (i * 2654435761L) % 1000, i))
      .toDF("g", "h", "v").coalesce(1).write.parquet(s"$drop/b1")
    (51L to 100L).map(i => ("a", (i * 2654435761L) % 1000, i))
      .toDF("g", "h", "v").coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream.schema("g STRING, h LONG, v LONG")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1) // force >1 trigger: the sample
      // must MERGE across micro-batches, not just within one
      .parquet(drop)
    val q = src.groupBy(col("g"))
      .agg(SampleAggregators.bottomKSampleAgg(col("h"), col("v"), 16)
        .as("sample"))
      .writeStream.format("memory").queryName("bk_sink")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("bk_sink")
      .select(col("g"), explode(col("sample")).as("rec"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getLong(1))).toSet
    val batch = spark.read.option("recursiveFileLookup", "true").parquet(drop)
      .groupBy(col("g"))
      .agg(SampleAggregators.bottomKSampleAgg(col("h"), col("v"), 16)
        .as("sample"))
      .select(col("g"), explode(col("sample")).as("rec"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getLong(1))).toSet
    assert(streamed === batch,
      "multi-batch streamed sample must equal the one-pass batch sample")
    assert(streamed.size === 16)
  }
}
