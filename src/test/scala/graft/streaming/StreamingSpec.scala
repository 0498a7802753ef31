package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EmbedPipeline

class StreamingSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.streaming.schemaInference" -> "true")

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("drop-dir ingestion: files land, vectors appear, exactly once") {
    val drop = tmp("drop"); val out = tmp("out"); val ckpt = tmp("ckpt"); val ledger = tmp("ledger")
    Files.writeString(Paths.get(drop, "doc_a.txt"), "spark table scan " * 40)
    Files.writeString(Paths.get(drop, "doc_b.txt"), "join filter merge " * 40)

    val vectors = EmbedPipeline.run(
      StreamingIngest.readDocuments(spark, drop))
    val q1 = StreamingIngest.start(vectors, out, ckpt, Some(ledger))
    q1.awaitTermination()

    val written = spark.read.parquet(out)
    assert(written.count() > 0)
    assert(written.select("id").distinct().count() == written.count())
    val led = spark.read.parquet(ledger)
    assert(led.select("job_id").distinct().count() == 2)

    // second file lands; restart from the same checkpoint -> only the new
    // file is processed (exactly-once over the drop dir)
    Files.writeString(Paths.get(drop, "doc_c.txt"), "stream window state " * 40)
    val q2 = StreamingIngest.start(EmbedPipeline.run(
      StreamingIngest.readDocuments(spark, drop)), out, ckpt, Some(ledger))
    q2.awaitTermination()
    val after = spark.read.parquet(out)
    assert(after.count() > written.count())
    assert(after.select("id").distinct().count() == after.count(),
      "restart must not duplicate previously written vectors")
  }

  test("streaming vector-DB sink upserts each micro-batch; restart sends nothing new") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val drop = tmp("vdrop"); val ckpt = tmp("vckpt")
    Files.writeString(Paths.get(drop, "doc_a.txt"), "vector store upsert " * 40)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/points", (ex: HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      val ok = "ok".getBytes
      ex.sendResponseHeaders(200, ok.length.toLong)
      ex.getResponseBody.write(ok); ex.close()
    })
    server.start()
    try {
      def run(): Unit = {
        val q = StreamingIngest.startVectorDb(
          EmbedPipeline.run(StreamingIngest.readDocuments(spark, drop)),
          ckpt, s"http://127.0.0.1:${server.getAddress.getPort}", "key",
          graft.sinks.VectorDbSinks.Qdrant, jobId = "stream-job")
        q.awaitTermination()
      }
      run()
      val posts = received.size()
      assert(posts > 0, "micro-batch must reach the vector store")
      assert(received.peek().startsWith("""{"points":["""))
      // same checkpoint, no new files -> nothing re-sent
      run()
      assert(received.size() == posts, "restart with no new data must not re-upsert")
    } finally server.stop(0)
  }

  test("watermarked hourly rollup matches the batch aggregation") {
    val src = tmp("events_src"); val ckpt = tmp("ckpt2")
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = StreamingIngest.hourlyRollup(
      spark.readStream.schema(schema).parquet(src))
    val q = streamed.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("rollup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only windows closed by the watermark; the last
    // 2h of event-time stays open, everything earlier must match batch
    val got = spark.table("rollup")
      .select(col("hour"), col("event_type"), col("n"))
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val maxClosed = got.agg(max("hour")).head().getTimestamp(0)
    val expected = batch.filter(col("hour") <= maxClosed)
    assert(got.count() > 0)
    assert(expected.except(got).count() == 0 && got.except(expected).count() == 0,
      "closed windows must equal the batch rollup")
  }

  test("streaming dedup drops re-ingested duplicate content across batches") {
    val drop = tmp("drop2"); val ckpt = tmp("ckpt3"); val out = tmp("dedup_out")
    Files.writeString(Paths.get(drop, "a.txt"), "identical content")
    Files.writeString(Paths.get(drop, "b.txt"), "identical content")
    Files.writeString(Paths.get(drop, "c.txt"), "different content")
    def runOnce(): Unit = {
      val q = StreamingIngest.dedupStream(StreamingIngest.readDocuments(spark, drop))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
    // a later batch re-delivers the same content -> streaming state
    // (restored from the checkpoint) filters it
    Files.writeString(Paths.get(drop, "d.txt"), "identical content")
    runOnce()
    assert(spark.read.parquet(out).count() == 2, "duplicate content must not re-emit")
  }

  test("stateful throttle: the anchor carries across micro-batches and restarts") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("thr_drop"); val ckpt = tmp("thr_ckpt"); val out = tmp("thr_out")
    def writeBatch(name: String, rows: Seq[(Long, String, Long, Long)]): Unit =
      rows.toDF("user_id", "event_type", "tss", "event_id")
        .coalesce(1).write.parquet(s"$drop/$name")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("user_id LONG, event_type STRING, tss LONG, event_id LONG")
        .option("recursiveFileLookup", "true").parquet(drop)
        .as[(Long, String, Long, Long)]
      val q = StreamingIngest.throttleStream(src)
        .toDF("user_id", "event_type", "ts_s", "event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: t=0 kept, t=1800 suppressed (within the hour)
    writeBatch("b1", Seq((1L, "view", 0L, 1L), (1L, "view", 1800L, 2L)))
    runOnce()
    assert(spark.read.parquet(out).count() === 1)
    // batch 2 after a RESTART: t=3000 must still be suppressed (anchor 0
    // restored from the checkpoint), t=3600 re-arms and is kept
    writeBatch("b2", Seq((1L, "view", 3000L, 3L), (1L, "view", 3600L, 4L)))
    runOnce()
    val kept = spark.read.parquet(out).orderBy("ts_s").collect()
      .map(_.getAs[Long]("ts_s")).toSeq
    assert(kept === Seq(0L, 3600L))
  }

  test("dropDuplicatesWithinWatermark: state expires with the watermark (bounded), " +
      "a key re-emits after eviction, an in-window duplicate stays suppressed") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("ddw_drop"); val ckpt = tmp("ddw_ckpt"); val out = tmp("ddw_out")
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("user_id", "event_type", "tss")
        .select(col("user_id"), col("event_type"),
          timestamp_seconds(col("tss")).as("ts"))
        .coalesce(1).write.parquet(s"$drop/$name")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("recursiveFileLookup", "true").parquet(drop)
      val q = src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // b1: key (1, view) at t=1000 → emitted; dedup state expires at t+1h
    writeBatch("b1", Seq((1L, "view", 1000L)))
    runOnce()
    assert(spark.read.parquet(out).count() === 1)
    // b2: unrelated key at t=37000 advances the watermark to 33400,
    // past (1, view)'s 4600 expiry → its state is EVICTED (this is the
    // boundedness s02's plain dropDuplicates cannot offer)
    writeBatch("b2", Seq((2L, "click", 37000L)))
    runOnce()
    assert(spark.read.parquet(out).count() === 2)
    // b3: (1, view) again at t=34200 (above the 33400 watermark, so not
    // late) — state gone → emitted AGAIN; (2, click) at t=36900 is
    // within its live state's window → suppressed
    writeBatch("b3", Seq((1L, "view", 34200L), (2L, "click", 36900L)))
    runOnce()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.length === 3, s"expected re-emission after eviction, got $rows")
    assert(rows.count(_ == (1L, "view")) === 2)
    assert(rows.count(_ == (2L, "click")) === 1)
  }

  test("streaming drift partials merge across micro-batches; final drift equals batch") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.types.DecimalType
    val drop = tmp("ddrift_drop"); val ckpt = tmp("ddrift_ckpt")
    def writeBatch(name: String, rows: Seq[(Long, Int, Seq[Float])]): Unit =
      rows.toDF("vec_id", "label", "embedding")
        .coalesce(1).write.parquet(s"$drop/$name")
    def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
      val src = spark.readStream
        .schema("vec_id LONG, label INT, embedding ARRAY<FLOAT>")
        .option("recursiveFileLookup", "true").parquet(drop)
      val parts = src.filter(col("embedding").isNotNull)
        .select((col("vec_id") % 2).as("snap"), col("label"),
          posexplode(graft.operators.Drift.quantize("embedding"))
            .as(Seq("d", "q")))
        .groupBy(col("snap"), col("label"), col("d"))
        .agg(sum(col("q")).cast(DecimalType(38, 0)).as("s"),
          count(lit(1)).as("n"))
      val q = parts.writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn)
    }
    // batch 1: label 1 gets one even-snap and one odd-snap vector
    writeBatch("b1", Seq((0L, 1, Seq(1.0f, 0.0f)), (1L, 1, Seq(4.0f, 0.0f))))
    val t1 = runOnce("drift_run1").localCheckpoint()
    assert(t1.filter(col("snap") === 0 && col("d") === 0)
      .select(col("n")).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // batch 2 resumes the SAME checkpoint: the (snap, label, d) partials
    // must MERGE batch 2's vectors into batch 1's state, not restart
    writeBatch("b2", Seq((2L, 1, Seq(3.0f, 0.0f)),
      (4L, 2, Seq(5.0f, 5.0f)), (5L, 2, Seq(5.0f, 5.0f))))
    val t2 = runOnce("drift_run2").localCheckpoint()
    assert(t2.filter(col("snap") === 0 && col("label") === 1 && col("d") === 0)
      .select(col("n")).collect().map(_.getLong(0)).toSeq === Seq(2L))
    // final drift from the streamed partials equals the batch operator
    // over all data (the mergeable-monoid contract)
    val streamed = graft.operators.Drift.embeddingDriftFromSums(
        t2.filter(col("snap") === 0).select(col("label"), col("d"),
          col("s").as("s_a"), col("n").as("n_a")),
        t2.filter(col("snap") === 1).select(col("label"), col("d"),
          col("s").as("s_b"), col("n").as("n_b")))
      .collect().map(_.toSeq).toSeq
    val all = Seq((0L, 1, Seq(1.0f, 0.0f)), (1L, 1, Seq(4.0f, 0.0f)),
      (2L, 1, Seq(3.0f, 0.0f)), (4L, 2, Seq(5.0f, 5.0f)),
      (5L, 2, Seq(5.0f, 5.0f))).toDF("vec_id", "label", "embedding")
    val batch = graft.operators.Drift.embeddingDrift(
        all.filter(col("vec_id") % 2 === 0), all.filter(col("vec_id") % 2 === 1),
        "label", "embedding")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // and the hand value: label 1 centroids (2,0) vs (4,0) → 2.0 L1
    assert(batch.exists(r => r.head == 1 && r.last == 2000000L))
  }

  test("streaming OLS sufficient statistics merge across micro-batches; " +
      "solved model equals batch") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("sols_drop"); val ckpt = tmp("sols_ckpt")
    def writeBatch(name: String, rows: Seq[(String, Int, Int, Int)]): Unit =
      rows.toDF("source", "x1", "x2", "y")
        .coalesce(1).write.parquet(s"$drop/$name")
    def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
      val src = spark.readStream
        .schema("source STRING, x1 INT, x2 INT, y INT")
        .option("recursiveFileLookup", "true").parquet(drop)
      val stats = graft.operators.Distill.suffStats(
        src, "source", "x1", "x2", "y")
      val q = stats.writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn)
    }
    val b1 = (0 to 9).map(i => ("g", i, i % 3, 5 + 2 * i))
    val b2 = (10 to 24).map(i => ("g", i % 12, (i * 7) % 5, 3 + i % 11))
    writeBatch("b1", b1)
    val t1 = runOnce("sols_run1").localCheckpoint()
    assert(t1.select(col("n").cast("long")).collect()
      .map(_.getLong(0)).toSeq === Seq(10L))
    // batch 2 resumes the SAME checkpoint: the per-source statistics
    // must MERGE (the monoid contract), not restart from zero
    writeBatch("b2", b2)
    val t2 = runOnce("sols_run2").localCheckpoint()
    assert(t2.select(col("n").cast("long")).collect()
      .map(_.getLong(0)).toSeq === Seq(25L))
    // solving the STREAMED statistics equals the batch operator end to
    // end — coefficients, quantization, and the expanded R² included
    val streamed = graft.operators.Distill.solveFromStats(t2)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Distill.olsDistill(
        (b1 ++ b2).toDF("source", "x1", "x2", "y"), "source", "x1", "x2", "y")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streaming curation drops benchmark quotes and low-quality docs at ingest") {
    import spark.implicits._
    val drop = tmp("drop3"); val ckpt = tmp("ckpt_cur"); val out = tmp("curate_out")
    val quote = "the quick brown fox jumps over the lazy sleeping dog tonight"
    // clean prose long enough to clear the quality gate
    val clean = "a perfectly ordinary document about the weather and the many " +
      "ships that sail the northern seas in the long summer months"
    Files.writeString(Paths.get(drop, "contaminated.txt"), s"prefix words $quote suffix")
    Files.writeString(Paths.get(drop, "clean.txt"), clean)
    Files.writeString(Paths.get(drop, "junk.txt"), "@@@ ###")
    val benchHashes = StreamingIngest.benchNgramHashes(
      Seq(quote).toDF("bench_text"), "bench_text", n = 8)
    assert(benchHashes.nonEmpty)
    val q = StreamingIngest.curateStream(
        StreamingIngest.readDocuments(spark, drop), benchHashes, n = 8,
        minQuality = 0.3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("text").collect().map(_.getString(0))
    val preview = kept.take(2).mkString(" | ")
    assert(kept.toSeq == Seq(clean),
      s"only the clean doc may survive, got ${kept.length}: $preview")
    // the survivor agrees with the batch operator's verdict
    val batchPairs = graft.operators.Dedup.contaminationPairs(
      Seq((1L, s"prefix words $quote suffix"), (2L, clean)).toDF("doc_id", "text"),
      Seq((9L, quote)).toDF("bench_id", "bench_text"),
      "doc_id", "text", "bench_id", "bench_text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchPairs == Set(1L))
  }

  test("streaming near-dedup drops signature-identical near-copies, keeps distinct docs") {
    val drop = tmp("drop5"); val ckpt = tmp("ckpt_nd"); val out = tmp("neardedup_out")
    val base = "the quick brown fox jumps over the lazy dog near the river " * 4
    Files.writeString(Paths.get(drop, "a.txt"), base)
    Files.writeString(Paths.get(drop, "b.txt"), base) // exact copy -> dropped
    Files.writeString(Paths.get(drop, "c.txt"), "an entirely different document about winter shipping lanes " * 4)
    Files.writeString(Paths.get(drop, "d.txt"), "tiny")
    Files.writeString(Paths.get(drop, "e.txt"), "small")
    val q = StreamingIngest.nearDedupStream(StreamingIngest.readDocuments(spark, drop))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).count()
    // a|b collapse to one; c, d, e survive (short docs keyed by text,
    // not the sentinel signature)
    assert(kept == 4, s"expected 4 survivors, got $kept")
    // restart: a later near-copy of `base` (one appended word out of
    // 40+ — signature-identical at 16 lanes w.h.p.? no: ANY lane
    // changing breaks equality, so use an exact re-delivery) must not
    // re-emit after the state restores from the checkpoint
    Files.writeString(Paths.get(drop, "f.txt"), base)
    val q2 = StreamingIngest.nearDedupStream(StreamingIngest.readDocuments(spark, drop))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 4,
      "re-delivered duplicate content must not re-emit after restart")
  }

  test("bloom-filter streaming curation agrees with the literal-array path") {
    import spark.implicits._
    val drop = tmp("drop4"); val ckpt = tmp("ckpt_curb"); val out = tmp("curate_bloom_out")
    val quote = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val clean = "a perfectly ordinary document about the weather and the many " +
      "ships that sail the northern seas in the long summer months"
    Files.writeString(Paths.get(drop, "contaminated.txt"), s"prefix words $quote suffix")
    Files.writeString(Paths.get(drop, "clean.txt"), clean)
    Files.writeString(Paths.get(drop, "junk.txt"), "@@@ ###")
    val bits = graft.operators.Bloom.ngramFilter(
      Seq(quote).toDF("bench_text"), "bench_text", n = 8)
    val q = StreamingIngest.curateStreamBloom(
        StreamingIngest.readDocuments(spark, drop), bits, n = 8,
        minQuality = 0.3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("text").collect().map(_.getString(0))
    assert(kept.toSeq == Seq(clean),
      s"bloom gate must keep exactly the clean doc, got ${kept.length}")
  }

  test("stream-stream interval join equals the batch join on closed state") {
    import org.apache.spark.sql.functions.expr
    val src = tmp("ev_src2"); val ckpt = tmp("ckpt_ss")
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def streamSide(t: String, renameTs: Option[String]) = {
      val s = spark.readStream.schema(schema).parquet(src)
        .filter(col("event_type") === t)
      renameTs match {
        case Some(newTs) => s.select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as(newTs))
        case None => s.select(col("user_id"), col("event_id"), col("ts"))
      }
    }
    val joined = StreamingIngest.purchaseViewJoin(
      streamSide("purchase", None), streamSide("view", Some("view_ts")))
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ssj").select("purchase_id", "view_id")
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("vuid"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val batch = p.join(v, expr(
        "user_id = vuid AND view_ts BETWEEN ts - INTERVAL 1 HOUR AND ts"))
      .select("purchase_id", "view_id")
    // AvailableNow processes everything; with the watermark trailing the
    // max event time, all pairs should be emitted and match batch exactly
    assert(got.count() > 0)
    assert(batch.except(got).count() == 0 && got.except(batch).count() == 0)
  }

  test("streaming sequence packing: offsets stay contiguous across batches and restarts") {
    val drop = tmp("pdrop"); val out = tmp("pout"); val ckpt = tmp("pckpt")
    Files.writeString(Paths.get(drop, "a.txt"), "one two three four five")
    Files.writeString(Paths.get(drop, "b.txt"), "six seven eight")

    val q1 = StreamingIngest.packStream(
      StreamingIngest.readDocuments(spark, drop), out, ckpt, seqLen = 4)
    q1.awaitTermination()
    val first = spark.read.parquet(s"$out/*")
    assert(first.count() === 2)
    assert(first.agg(sum("n_tokens")).head().getLong(0) === 8L)
    // offsets tile the token stream exactly: sorted starts == running sums
    def contiguous(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select("start_token", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      rows.foldLeft(0L) { case (expected, (start, n)) =>
        assert(start === expected, s"gap or overlap at offset $start")
        start + n
      }
      ()
    }
    contiguous(first)

    // two more files land; restart continues from the sink's high-water
    // mark — offsets keep growing, nothing is re-packed or duplicated
    Files.writeString(Paths.get(drop, "c.txt"), "nine ten")
    Files.writeString(Paths.get(drop, "d.txt"), "eleven twelve thirteen")
    val q2 = StreamingIngest.packStream(
      StreamingIngest.readDocuments(spark, drop), out, ckpt, seqLen = 4)
    q2.awaitTermination()
    val all = spark.read.parquet(s"$out/*")
    assert(all.count() === 4)
    assert(all.select("doc_id").distinct().count() === 4)
    contiguous(all)
    assert(all.agg(max(col("start_token") + col("n_tokens"))).head().getLong(0) === 13L)

    // an EMPTY file produces a zero-row batch (rowless dir); the next
    // batch must walk past it to the high-water mark instead of NPEing
    Files.writeString(Paths.get(drop, "e_empty.txt"), "")
    val q3 = StreamingIngest.packStream(
      StreamingIngest.readDocuments(spark, drop), out, ckpt, seqLen = 4)
    q3.awaitTermination()
    Files.writeString(Paths.get(drop, "f.txt"), "fourteen fifteen")
    val q4 = StreamingIngest.packStream(
      StreamingIngest.readDocuments(spark, drop), out, ckpt, seqLen = 4)
    q4.awaitTermination()
    val withTail = spark.read.parquet(s"$out/*").filter(col("n_tokens") > 0)
    contiguous(withTail)
    assert(withTail.agg(max(col("start_token") + col("n_tokens")))
      .head().getLong(0) === 15L)
  }

  test("stateful sessionization counts gap-separated sessions per user") {
    import spark.implicits._
    // user 1: two sessions (gap > 1800s); user 2: one session
    val events = Seq(
      (1L, 1000L), (1L, 1500L), (1L, 4000L),
      (2L, 100L), (2L, 200L)).toDS()
    // session ids are session-start timestamps (no counter state to
    // keep alive after expiry): user 1's second session starts at 4000
    val out = StreamingIngest.sessionize(events, gapSeconds = 1800L)
      .collect().map(s => s.user_id -> s).toMap
    assert(out(1L).session_id == 4000L && out(1L).n_events == 1L)
    assert(out(2L).session_id == 100L && out(2L).n_events == 2L)
  }

  test("streaming Count-Min sketch accumulates across micro-batches and equals batch") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("cm_drop"); val ckpt = tmp("cm_ckpt")
    Seq("alpha alpha beta", "gamma alpha").toDF("text")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq("beta beta delta", "alpha").toDF("text")
      .coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream
      .schema("text STRING")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1) // force >1 micro-batch: the
      // counter cells must MERGE across triggers, not just within one
      .parquet(drop)
    val q = graft.operators.TextAnalysis.countMinSketch(src, "text")
      .writeStream.format("memory").queryName("cm_sink")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("cm_sink")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.TextAnalysis.countMinSketch(
        spark.read.option("recursiveFileLookup", "true").parquet(drop), "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      "multi-batch streamed sketch must equal the one-pass batch sketch")
    // 9 word occurrences × depth-4 rows each = 36 total increments
    // (summed over a Seq — a Set would collapse equal cell counts)
    assert(streamed.toSeq.map(_._3).sum === 36L,
      "sketch total must be word occurrences × depth")
  }

  test("Count-Min restart: stop between triggers, resume the checkpoint — " +
      "sketch equals batch, no loss, no double-count") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("cmr_drop"); val ckpt = tmp("cmr_ckpt")
    def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
      val src = spark.readStream.schema("text STRING")
        .option("recursiveFileLookup", "true").parquet(drop)
      val q = graft.operators.TextAnalysis.countMinSketch(src, "text")
        .writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn)
    }
    Seq("alpha alpha beta", "gamma alpha").toDF("text")
      .coalesce(1).write.parquet(s"$drop/b1")
    runOnce("cmr_run1") // first process dies here (q.stop())
    Seq("beta beta delta", "alpha").toDF("text")
      .coalesce(1).write.parquet(s"$drop/b2")
    // a NEW query resumes the checkpoint: the counter cells must be
    // RECOVERED from the state store (not restart at zero) and b1's
    // file must not replay (no double-count)
    val streamed = runOnce("cmr_run2")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.TextAnalysis.countMinSketch(
        spark.read.option("recursiveFileLookup", "true").parquet(drop), "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      "resumed sketch must equal the one-pass batch sketch")
    assert(streamed.toSeq.map(_._3).sum === 36L,
      "9 occurrences x depth 4: lost state or a replayed batch changes this")
  }

  test("HLL restart: registers recover from the checkpoint and keep merging — " +
      "resumed estimate equals batch") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("hllr_drop"); val ckpt = tmp("hllr_ckpt")
    def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
      val src = spark.readStream.schema("grp STRING, u BIGINT")
        .option("recursiveFileLookup", "true").parquet(drop)
      val est = src.groupBy(col("grp"))
        .agg(graft.operators.HyperLogLog.hllAgg("u", "x").as("approx"))
      val q = est.writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn)
    }
    val b1 = (1 to 400).map(i => ("a", i.toLong)) ++
      (1 to 50).map(i => ("b", i.toLong))
    val b2 = (201 to 600).map(i => ("a", i.toLong)) ++
      (1 to 50).map(i => ("b", (i + 1000).toLong))
    b1.toDF("grp", "u").coalesce(1).write.parquet(s"$drop/b1")
    runOnce("hllr_run1")
    b2.toDF("grp", "u").coalesce(1).write.parquet(s"$drop/b2")
    val streamed = runOnce("hllr_run2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = (b1 ++ b2).toDF("grp", "u").groupBy(col("grp"))
      .agg(graft.operators.HyperLogLog.hllAgg("u", "x").as("approx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the sketch is deterministic (md5 registers): a restart that lost
    // or double-merged registers would move the estimate
    assert(streamed === batch)
  }

  test("distillation restart: the normal-equation monoid recovers from " +
      "the checkpoint — resumed solve bit-equals the single-batch solve") {
    // the r10 advice-#5 family the round left unpinned: s31's state is
    // the 11-cell DECIMAL(38,0) suffStats monoid per source; a restart
    // that lost cells or replayed a batch moves a determinant and the
    // Cramer solve shifts — bit-equality of (b0,b1,b2,r2_ppm) against
    // the single-batch run is therefore a full-state witness
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("dstr_drop"); val ckpt = tmp("dstr_ckpt")
    def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
      val src = spark.readStream
        .schema("source STRING, x1 BIGINT, x2 BIGINT, y BIGINT")
        .option("recursiveFileLookup", "true").parquet(drop)
      val stats = graft.operators.Distill.suffStats(
        src, "source", "x1", "x2", "y")
      val q = stats.writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn)
    }
    // two sources, non-collinear designs, y = a noisy plane — both
    // solve non-degenerately only when BOTH batches' rows contribute
    val b1 = Seq(("web", 1L, 2L, 7L), ("web", 2L, 1L, 9L),
      ("web", 3L, 5L, 20L), ("web", 4L, 2L, 15L),
      ("lab", 1L, 1L, 3L), ("lab", 2L, 3L, 11L), ("lab", 5L, 2L, 18L))
    val b2 = Seq(("web", 6L, 1L, 21L), ("web", 2L, 8L, 31L),
      ("lab", 3L, 7L, 27L), ("lab", 4L, 4L, 21L), ("lab", 6L, 1L, 20L))
    b1.toDF("source", "x1", "x2", "y")
      .coalesce(1).write.parquet(s"$drop/b1")
    runOnce("dstr_run1") // the first trainer process dies here
    b2.toDF("source", "x1", "x2", "y")
      .coalesce(1).write.parquet(s"$drop/b2")
    // a NEW query resumes the checkpoint: the monoid cells must be
    // RECOVERED from the state store (not restart at zero) and b1's
    // file must not replay (no double-merge)
    def solved(stats: org.apache.spark.sql.DataFrame)
        : Set[(String, Long, Long, Long, Long, Long)] = {
      val rows = graft.operators.Distill.solveFromStats(stats).collect()
      rows.foreach(r => assert(!r.isNullAt(2) && !r.isNullAt(5),
        s"degenerate solve for ${r.getString(0)} — test data must yield " +
          "a full-rank design"))
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    val resumed = solved(runOnce("dstr_run2"))
    val batch = solved(graft.operators.Distill.suffStats(
      (b1 ++ b2).toDF("source", "x1", "x2", "y"), "source", "x1", "x2", "y"))
    assert(resumed === batch,
      "recovered XtX/Xty state must yield bit-identical coefficients and R²")
  }

  test("index-balance restart: per-list occupancy recovers from the " +
      "checkpoint — resumed counts equal the single-batch groupBy") {
    // the s33 monitor's state is one count cell per list; a restart
    // that lost cells or replayed a posting file shifts an occupancy
    // (and with it share_ppm/imbalance_ppm) — equality against the
    // all-at-once batch aggregate is the full-state witness (r12,
    // the dstr/hllr pattern over the posting-store shape)
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("ibr_drop"); val ckpt = tmp("ibr_ckpt")
    def runOnce(qn: String): Map[Int, Long] = {
      val src = spark.readStream
        .schema("id BIGINT, cluster INT")
        .option("recursiveFileLookup", "true").parquet(drop)
      val counts = src.groupBy(col("cluster").as("list_id"))
        .agg(count(lit(1)).as("n_vec"))
      val q = counts.writeStream.format("memory").queryName(qn)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.table(qn).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    // skewed lists across the two drops: list 2 only in drop 1, list 3
    // only in drop 2, lists 0/1 straddle the restart
    val b1 = (1 to 40).map(i => (i.toLong, i % 3))
    val b2 = (41 to 70).map(i => (i.toLong, if (i % 2 == 0) 3 else i % 2))
    b1.toDF("id", "cluster").coalesce(1).write.parquet(s"$drop/b1")
    val first = runOnce("ibr_run1") // the first monitor process dies here
    assert(first === b1.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
    b2.toDF("id", "cluster").coalesce(1).write.parquet(s"$drop/b2")
    val resumed = runOnce("ibr_run2")
    val batch = (b1 ++ b2).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(resumed === batch,
      "recovered occupancy cells must equal the single-batch counts")
  }

  test("session flush restart: sessions evicted before the stop are not " +
      "re-emitted; later sessions still flush — union equals batch, disjoint") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("ssr_drop"); val ckpt = tmp("ssr_ckpt")
    val out = tmp("ssr_out")
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("user_id", "sec")
        .select(col("user_id"), expr("timestamp_seconds(sec)").as("ts"))
        .coalesce(1).write.parquet(s"$drop/$name")
    // append-mode recovery needs a sink with its own exactly-once log
    // (the memory sink refuses checkpoint recovery in append mode) —
    // the parquet sink's _spark_metadata commit log is that, and is
    // also s27's real deployment shape
    def runOnce(): Set[(Long, Long, Long)] = {
      val src = spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP")
        .option("recursiveFileLookup", "true").parquet(drop)
      val agg = src.withWatermark("ts", "1 second")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("start_sec"),
          col("n_events"))
      val q = agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append") // emit by WATERMARK EVICTION — the s27 shape
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // b1: user 1 two sessions ([1000,1500], [50000]); user 2 one ([100]).
    // The t=50000 row pushes the watermark to 49999 at batch end, so the
    // two EARLY sessions evict and emit in run 1; [50000] stays in state.
    writeBatch("b1", Seq((1L, 1000L), (1L, 1500L), (2L, 100L), (1L, 50000L)))
    val run1 = runOnce()
    assert(run1 === Set((1L, 1000L, 2L), (2L, 100L, 1L)),
      "watermark 49999 must evict exactly the two early sessions")
    // kill/restart: b2's far-future row (user 3) pushes the watermark
    // past [50000]; ONLY that recovered-state session may emit now —
    // re-emitting run 1's sessions would double-count them downstream
    writeBatch("b2", Seq((3L, 1000000000L)))
    val all = runOnce()
    assert(all === run1 + ((1L, 50000L, 1L)),
      "resume must recover [50000] from state, emit it exactly once, " +
        "and never re-emit run 1's sessions")
  }

  test("streaming search feed: per-trigger BM25 over a static corpus equals the batch ranking") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("s18_drop"); val ckpt = tmp("s18_ckpt"); val out = tmp("s18_out")
    val corpus = Seq(
      (1L, "spark shuffles data between stages during wide transformations"),
      (2L, "narrow transformations avoid shuffles and pipeline inside one stage"),
      (3L, "broadcast joins ship the small side to every executor"),
      (4L, "watermarks bound streaming state for event time aggregations"))
      .toDF("doc_id", "text")
    // queries split across TWO files -> two triggers; corpus stats are
    // static, so the per-trigger unions must equal the batch run
    Seq((100L, "spark shuffles")).toDF("qid", "qtext")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq((200L, "broadcast joins"), (300L, "streaming state"))
      .toDF("qid", "qtext").coalesce(1).write.parquet(s"$drop/b2")
    val q = spark.readStream.schema("qid LONG, qtext STRING")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(drop)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.bm25TopK(
            batch, corpus, "doc_id", "text", "qid", "qtext",
            k = 3, persistTf = false)
          .write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(_.toSeq).toSet
    val batchAll = graft.operators.Similarity.bm25TopK(
        Seq((100L, "spark shuffles"), (200L, "broadcast joins"),
          (300L, "streaming state")).toDF("qid", "qtext"),
        corpus, "doc_id", "text", "qid", "qtext", k = 3, persistTf = false)
      .collect().map(_.toSeq).toSet
    assert(streamed === batchAll,
      "union of per-trigger rankings must equal the one-shot batch ranking")
    assert(streamed.nonEmpty)
  }

  test("left-outer interval join: matches emit immediately, null rows only " +
      "after BOTH legs' watermark passes the match deadline") {
    val spark2 = spark
    import spark2.implicits._
    val pDrop = tmp("loj_p"); val vDrop = tmp("loj_v"); val ckpt = tmp("loj_ckpt")
    val out = tmp("loj_out")
    def writeP(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "tss")
        .select(col("user_id"), col("event_id"),
          timestamp_seconds(col("tss")).as("ts"))
        .coalesce(1).write.parquet(s"$pDrop/$name")
    def writeV(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "view_id", "tss")
        .select(col("user_id"), col("view_id"),
          timestamp_seconds(col("tss")).as("view_ts"))
        .coalesce(1).write.parquet(s"$vDrop/$name")
    def runOnce(): Unit = {
      val p = spark.readStream
        .schema("user_id LONG, event_id LONG, ts TIMESTAMP")
        .option("recursiveFileLookup", "true").parquet(pDrop)
      val v = spark.readStream
        .schema("user_id LONG, view_id LONG, view_ts TIMESTAMP")
        .option("recursiveFileLookup", "true").parquet(vDrop)
      val q = StreamingIngest.purchaseViewLeftJoin(p, v)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: u1 purchase@36000 has a view@34200 (within the hour);
    // u2 purchase@36000 has none. Watermark after: 36000 - 2h = 28800,
    // short of u2's deadline (36000) — the null row must NOT emit yet.
    writeP("b1", Seq((1L, 101L, 36000L), (2L, 201L, 36000L)))
    writeV("b1", Seq((1L, 11L, 34200L)))
    runOnce()
    val r1 = spark.read.parquet(out)
    assert(r1.count() === 1, "only the matched pair emits before the deadline passes")
    assert(r1.head().getAs[Long]("user_id") === 1L)
    // batch 2 (after restart): punctuation on BOTH legs at 50400 moves
    // each leg's watermark to 43200 > 36000 — the join watermark is the
    // MIN of the legs, so advancing only one leg would hold the row.
    // u2's null row must drain in this run's terminal no-data batch.
    writeP("b2", Seq((98L, 900L, 50400L)))
    writeV("b2", Seq((99L, 901L, 50400L)))
    runOnce()
    val r2 = spark.read.parquet(out).filter(col("user_id") === 2L).collect()
    assert(r2.length === 1, "the unmatched purchase must emit exactly one null row")
    assert(r2.head.isNullAt(r2.head.fieldIndex("view_id")),
      "the drained row carries null view columns")
  }

  test("streaming transitions carry last-event state ACROSS micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("tr_drop"); val ckpt = tmp("tr_ckpt")
    // user 1's history straddles the batch boundary: the (view→click)
    // edge needs batch 1's final event as state when batch 2 arrives;
    // user 2 exists only in batch 2 (no carried state)
    Seq((1L, "view", 100L, 10L), (1L, "view", 200L, 11L))
      .toDF("user_id", "event_type", "tss", "event_id")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq((1L, "click", 300L, 12L), (1L, "purchase", 400L, 13L),
        (2L, "signup", 150L, 20L), (2L, "view", 250L, 21L))
      .toDF("user_id", "event_type", "tss", "event_id")
      .coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream
      .schema("user_id LONG, event_type STRING, tss LONG, event_id LONG")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1) // force the state hand-off
      .parquet(drop)
      .as[(Long, String, Long, Long)]
    val q = StreamingIngest.transitionStream(src)
      .toDF("from_type", "to_type")
      .writeStream.format("memory").queryName("tr_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("tr_sink")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === Map(
      ("view", "view") -> 1L,      // inside batch 1
      ("view", "click") -> 1L,     // ACROSS the boundary — state-carried
      ("click", "purchase") -> 1L, // inside batch 2
      ("signup", "view") -> 1L))   // fresh user, batch 2 only
  }

  test("streaming transitions DROP out-of-order replays instead of chaining them") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("tro_drop"); val ckpt = tmp("tro_ckpt")
    // batch 2 delivers an event OLDER than batch 1's stored state (ts
    // 50 < anchor 200): chaining it would emit (view→signup) and
    // (signup→click) edges batch lead() never produces — the contract
    // says drop it, count it, and chain click against the true anchor
    Seq((1L, "view", 100L, 10L), (1L, "view", 200L, 11L))
      .toDF("user_id", "event_type", "tss", "event_id")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq((1L, "signup", 50L, 9L), (1L, "click", 300L, 12L))
      .toDF("user_id", "event_type", "tss", "event_id")
      .coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream
      .schema("user_id LONG, event_type STRING, tss LONG, event_id LONG")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(drop)
      .as[(Long, String, Long, Long)]
    val q = StreamingIngest.transitionStream(src)
      .toDF("from_type", "to_type")
      .writeStream.format("memory").queryName("tro_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("tro_sink")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed === Set(("view", "view"), ("view", "click")),
      "the late signup must not appear in any edge")
  }

  test("session_window APPEND mode: watermark eviction emits sessions exactly once") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("sw_drop"); val ckpt = tmp("sw_ckpt")
    // batch 1: two sessions for user 1 (gap 1 h) + one for user 2, all
    // ending hours before the sentinel; batch 2: the far-future
    // sentinel row that drags the watermark past every real session
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    Seq((1L, ts(1000)), (1L, ts(1300)), (1L, ts(6000)), (2L, ts(2000)))
      .toDF("user_id", "ts")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq((-1L, ts(10000000L)))
      .toDF("user_id", "ts")
      .coalesce(1).write.parquet(s"$drop/b2")
    val agg = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(drop)
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("sw_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val rows = spark.table("sw_sink")
      .select(col("user_id"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every REAL session flushed exactly once by eviction; the
    // sentinel's own session never evicts (watermark can't pass it),
    // so append never emits it — state holds it, output omits it
    assert(rows.sorted.toSeq === Seq((1L, 1L), (1L, 2L), (2L, 1L)),
      s"got ${rows.mkString(",")}")
    // state after the flush batch: only the sentinel's open session
    val st = Option(q.lastProgress).map(_.stateOperators)
      .filter(_.nonEmpty).map(_.head.numRowsTotal)
    st.foreach(n => assert(n <= 1, s"expected ≤1 open session in state, got $n"))
  }

  test("streaming TWA intervals carry last-reading state ACROSS micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("twa_drop"); val ckpt = tmp("twa_ckpt")
    // key (1, cpu)'s readings straddle the boundary: the 100→300
    // interval needs batch 1's last reading as state; its held VALUE
    // (5) must be the earlier reading's, not the closer's (7)
    Seq((1L, "cpu", 100L, 10L, 5L), (1L, "cpu", 200L, 11L, 9L))
      .toDF("user_id", "event_type", "tsu", "event_id", "v6")
      .coalesce(1).write.parquet(s"$drop/b1")
    Seq((1L, "cpu", 300L, 12L, 7L), (2L, "mem", 150L, 20L, 4L),
        (2L, "mem", 450L, 21L, 6L))
      .toDF("user_id", "event_type", "tsu", "event_id", "v6")
      .coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream
      .schema("user_id LONG, event_type STRING, tsu LONG, event_id LONG, v6 LONG")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1) // force the state hand-off
      .parquet(drop)
      .as[(Long, String, Long, Long, Long)]
    val q = StreamingIngest.twaStream(src)
      .toDF("user_id", "event_type", "dur_us", "v6")
      .writeStream.format("memory").queryName("twa_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("twa_sink").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === Set(
      (1L, "cpu", 100L, 5L),  // inside batch 1, holds reading 10's value
      (1L, "cpu", 100L, 9L),  // ACROSS the boundary — state-carried value
      (2L, "mem", 300L, 4L))) // fresh key, batch 2 only
  }

  test("streaming basket pairs: a split basket still emits every pair exactly once") {
    val spark2 = spark
    import spark2.implicits._
    val drop = tmp("bk_drop"); val ckpt = tmp("bk_ckpt")
    // order 1's parts straddle the boundary: pairs (10,30) and (20,30)
    // need batch 1's membership state; part 10 repeats in batch 2 and
    // must emit nothing the second time
    Seq((1L, 10L), (1L, 20L), (2L, 77L))
      .toDF("ok", "pk").coalesce(1).write.parquet(s"$drop/b1")
    Seq((1L, 30L), (1L, 10L), (2L, 88L))
      .toDF("ok", "pk").coalesce(1).write.parquet(s"$drop/b2")
    val src = spark.readStream
      .schema("ok LONG, pk LONG")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(drop)
      .as[(Long, Long)]
    val q = StreamingIngest.basketPairStream(src)
      .toDF("ok", "a", "b")
      .writeStream.format("memory").queryName("bk_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val rows = spark.table("bk_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val members = rows.filter(_._3 == -1L).map(t => (t._1, t._2)).sorted
    val pairs = rows.filter(_._3 != -1L).map(t => (t._1, t._2, t._3)).sorted
    assert(members === Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 77L), (2L, 88L)),
      "one membership row per DISTINCT (order, part) — the repeat is absorbed")
    assert(pairs === Seq(
      (1L, 10L, 20L),             // inside batch 1
      (1L, 10L, 30L), (1L, 20L, 30L), // ACROSS the boundary — state-carried
      (2L, 77L, 88L)))            // second basket, split across batches
  }
}
