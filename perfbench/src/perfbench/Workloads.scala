package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.ChunkStrategy
import graft.pipeline.{EmbedPipeline, Routing, VectorRecord}
import graft.sinks.VectorDbDataSource
import graft.sources.DocumentReader

/** The traced phase shared by the workloads: fused jobs with the engine
  * listener on, and single layers timed alone. */
final class Tracer(spark: SparkSession, ctx: RunContext) {
  val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Run the fused job `n` times untraced and `n` times traced, in
    * turn, so both see the same warm-up. Each traced run's span has the
    * module spans (stages grouped by call site) and the stub-request
    * layers as children. Returns the untraced median job time and the
    * engine metrics (medians), with `trace.overhead`, the traced median
    * over the untraced one. */
  def fused(n: Int, stubs: Seq[(String, Stub)])(job: => Unit): (Double, Map[String, Double]) = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val runs = (1 to n).map { j =>
      spark.sparkContext.removeSparkListener(listener)
      plain += Stats.time(job)._2
      spark.sparkContext.addSparkListener(listener)
      listener.sync(spark)
      listener.reset()
      ctx.queries.resetPlan()
      val planBefore = ctx.queries.completed
      val root = ctx.spans.open("fused job", -1, j)
      val layerSpans = stubs.map { case (layer, stub) =>
        stub.reset()
        val id = ctx.spans.open(layer, root, j)
        stub.traceParent = id
        (id, stub)
      }
      val t0 = ctx.spans.nowEpochMs
      val (_, wall) = Stats.time(job)
      val t1 = ctx.spans.nowEpochMs
      ctx.spans.close(root)
      layerSpans.foreach { case (id, stub) => stub.traceParent = -1; attachRequests(id, stub, j) }
      listener.sync(spark)
      ctx.queries.awaitCompleted(planBefore + 1)
      val stages = listener.stages
      val tasks = listener.tasks
      stages.groupBy(_.module).foreach { case (module, ss) =>
        val m = ctx.spans.add(s"module $module", ctx.spans.epochToMs(ss.map(_.submitMs).min),
          ctx.spans.epochToMs(ss.map(_.endMs).max), root, j)
        ss.foreach(s => ctx.spans.add(s"stage ${s.id}", ctx.spans.epochToMs(s.submitMs),
          ctx.spans.epochToMs(s.endMs), m, j))
      }
      val (self, residual) = EngineListener.selfTimes(stages, t0, t1)
      Map(
        "trace.fused_job_s" -> wall,
        "spark.plan_s" -> ctx.queries.planSeconds,
        "spark.jobs" -> listener.jobs.toDouble,
        "spark.stages" -> stages.length.toDouble,
        "spark.tasks" -> tasks.length.toDouble,
        "spark.task_run_s" -> tasks.map(_.runMs).sum / 1000.0,
        "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
        "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
        "spark.spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
        "spark.task_retries" -> tasks.count(_.attempt > 0).toDouble,
        "spark.task_gap_s" -> EngineListener.uncovered(tasks.map(t => (t.launchMs, t.finishMs)), t0, t1),
        "self.residual_s" -> residual) ++
        self.map { case (m, s) => s"self.$m" + "_s" -> s }
    }
    val plainS = Stats.median(plain.toSeq)
    val engine = runs.head.keys.map(k => k -> Stats.median(runs.map(_(k)))).toMap
    (plainS, engine + ("trace.overhead" -> engine("trace.fused_job_s") / plainS))
  }

  /** Time one layer alone, `n` times; the stubs are reset before each
    * repetition, so their stats describe the last one. */
  def layer(name: String, n: Int, stubs: Seq[Stub] = Nil)(action: => Unit): Double =
    Stats.median((1 to n).map { _ =>
      stubs.foreach(_.reset())
      val id = ctx.spans.open(s"layer $name", -1, -1)
      stubs.foreach(_.traceParent = id)
      val (_, dt) = Stats.time(action)
      ctx.spans.close(id)
      stubs.foreach { s => s.traceParent = -1; attachRequests(id, s, -1) }
      dt
    })

  /** Shuffle bytes written (MB) by what `action` runs. */
  def shuffleWriteMb(action: => Unit): Double = {
    listener.sync(spark)
    listener.reset()
    action
    listener.sync(spark)
    listener.tasks.map(_.shuffleWrite).sum / 1e6
  }

  private def attachRequests(parent: Int, stub: Stub, job: Int): Unit = {
    val reqs = stub.requestSpans()
    reqs.foreach(r => ctx.spans.add(s"request ${r.status}", ctx.spans.nsToMs(r.startNs),
      ctx.spans.nsToMs(r.endNs), parent, job))
    if (reqs.nonEmpty)
      ctx.spans.reshape(parent, ctx.spans.nsToMs(reqs.map(_.startNs).min),
        ctx.spans.nsToMs(reqs.map(_.endNs).max))
  }
}

object Workloads {
  /** Every per-layer metric, so each workload reports the full set. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.intake_s" -> "s", "sources.files_seen" -> "count", "sources.files_rejected" -> "count",
    "sources.extract_placeholders" -> "count", "sources.shuffle_mb" -> "MB",
    "pipeline.chunk_s" -> "s", "pipeline.chunks" -> "count",
    "pipeline.embed_s" -> "s", "pipeline.embed_calls" -> "count",
    "pipeline.embed_texts_sent" -> "count", "pipeline.embed_useful_ratio" -> "ratio",
    "pipeline.embed_5xx" -> "count", "pipeline.embed_inflight_max" -> "count",
    "pipeline.embed_remote_busy_s" -> "s",
    "sinks.write_s" -> "s", "sinks.upserts" -> "count", "sinks.rows_received" -> "count",
    "sinks.distinct_ids" -> "count", "sinks.5xx" -> "count", "sinks.inflight_max" -> "count",
    "sinks.remote_busy_s" -> "s", "sinks.bytes_mb" -> "MB", "sinks.commit_uploaded" -> "count",
    "sinks.commit_failed" -> "count", "sinks.failed_share" -> "ratio",
    "operators.boilerplate_s" -> "s", "operators.bigram_lm_s" -> "s", "operators.vocab_pack_s" -> "s",
    "operators.rows_after_boilerplate" -> "count", "operators.rows_after_lm" -> "count",
    "operators.rows_after_dedup" -> "count", "operators.packed_rows" -> "count",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.task_retries" -> "count", "spark.task_gap_s" -> "s", "spark.fusion_saving_s" -> "s",
    "self.sources_s" -> "s", "self.pipeline_s" -> "s", "self.sinks_s" -> "s",
    "self.operators_s" -> "s", "self.unattributed_s" -> "s", "self.residual_s" -> "s",
    "trace.fused_job_s" -> "s", "trace.overhead" -> "ratio")

  /** Fill in the full set; a name not measured on this workload is 0. */
  def complete(measured: Map[String, Double]): Map[String, Metric] = {
    val unknown = measured.keySet -- LayerMetrics.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    LayerMetrics.map { case (k, u) => k -> Metric(measured.getOrElse(k, 0.0), u) }.toMap
  }

  final val Repeats = 2

  def readJson(path: String): JsonNode = Stub.mapper.readTree(Paths.get(path).toFile)
}

/** Documents on disk → intake → EXACT token chunks (512/256) → OpenAI-shape
  * embedding service → Qdrant-shape vector DB, both loopback stubs with
  * fixed latency and deterministic 503s. */
final class IngestRemoteVdb(ctx: RunContext, dataDir: String) extends Workload {
  import IngestRemoteVdb._

  private val manifest = Workloads.readJson(s"$dataDir/manifest.json")
  private val inputDir = s"$dataDir/${manifest.get("input_dir").asText}"
  private def count(key: String): Long = manifest.get(key).asLong
  /** document → (extracted chars, chunks) */
  private val expectedDocs: Map[String, (Long, Long)] =
    manifest.get("documents").properties.asScala.map { e =>
      e.getKey -> (e.getValue.get("chars").asLong, e.getValue.get("chunks").asLong)
    }.toMap
  private val expectedChunks = expectedDocs.values.map(_._2).sum
  override def expectedRows: Long = expectedChunks

  private val table = new VectorTable(EmbedDim)
  private val embed = new EmbeddingStub(table, EmbedLatencyMs, EmbedFailEvery)
  private val vdb = new VectorDbStub(table, VdbLatencyMs, VdbFailEvery)
  private val embedder = Routing.embedderFor("OPEN_AI", baseUrl = embed.url, dim = EmbedDim)
    .fold(e => throw new IllegalStateException(e), identity)

  private def intake(spark: SparkSession): DataFrame = DocumentReader.intake(spark, inputDir)
  private def chunks(docs: DataFrame) =
    EmbedPipeline.chunkStage(docs, ChunkStrategy.Exact, ChunkSize, ChunkOverlap)
  private def upsert(records: Dataset[VectorRecord]): Unit =
    records.toDF().write.format("graft.sinks.VectorDbDataSource")
      .option("url", vdb.url).option("shape", "QDRANT").option("jobId", "perfbench")
      .mode("append").save()

  override def job(spark: SparkSession): JobResult = {
    embed.reset()
    vdb.reset()
    VectorDbDataSource.lastCommitStats = None
    val before = ctx.queries.completed
    upsert(EmbedPipeline.run(intake(spark), ChunkStrategy.Exact, ChunkSize, ChunkOverlap, embedder))
    ctx.queries.awaitCompleted(before + 1)
    val problems = mutable.ArrayBuffer.empty[String]

    ctx.queries.lastIntake match {
      case Some(r) =>
        Seq("files_seen", "empty_files", "oversize_files", "invalid_type_files").foreach { k =>
          val got = r.getAs[Long](k)
          if (got != count(k)) problems += s"intake $k = $got, planted ${count(k)}"
        }
      case None => problems += "no intake metrics observed"
    }
    val byDoc = vdb.pointsByDocument()
    val wrong = expectedDocs.collect { case (d, (_, n)) if byDoc.getOrElse(d, 0) != n =>
      s"$d: ${byDoc.getOrElse(d, 0)} of $n" } ++
      byDoc.keys.filterNot(expectedDocs.contains).map(d => s"$d: not expected")
    if (wrong.nonEmpty)
      problems += s"${wrong.size} documents with wrong vector counts, e.g. ${wrong.take(3).mkString("; ")}"
    if (vdb.vectorMismatches > 0) problems += s"${vdb.vectorMismatches} vectors do not match their text"
    val accepted = vdb.stats().items
    VectorDbDataSource.lastCommitStats match {
      case Some(s) if s.uploaded == accepted && s.failed == 0 =>
      case other => problems += s"commit stats $other, stub accepted $accepted rows"
    }
    val delivered = expectedDocs.map { case (d, (_, n)) => math.min(byDoc.getOrElse(d, 0).toLong, n) }.sum
    JobResult(expectedChunks, delivered, problems.toSeq)
  }

  /** Extracted text length per document against the generator's record,
    * and the set of documents intake keeps. */
  override def finalChecks(spark: SparkSession): Unit = {
    val got = intake(spark).select(col("source"), length(col("text")).as("n")).collect()
      .map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    val wrong = expectedDocs.collect { case (d, (chars, _)) if !got.get(d).contains(chars) =>
      s"$d: ${got.get(d)} chars, expected $chars" } ++
      got.keys.filterNot(expectedDocs.contains).map(d => s"$d kept, expected rejected")
    ctx.check("extracted text lengths", wrong.isEmpty, wrong.take(3).mkString("; "))
  }

  override def traced(spark: SparkSession): Map[String, Metric] = {
    val tr = new Tracer(spark, ctx)
    val m = mutable.Map.empty[String, Double]
    try {
      val (untracedJobS, engine) =
        tr.fused(Workloads.Repeats, Seq("pipeline.embed" -> embed, "sinks" -> vdb)) {
          job(spark).problems.foreach(p => ctx.check("traced job output", ok = false, p))
        }
      m ++= engine

      m("sources.intake_s") = tr.layer("sources.intake", Workloads.Repeats)(ctx.drain(intake(spark)))
      m("sources.shuffle_mb") = tr.shuffleWriteMb(ctx.drain(intake(spark)))
      ctx.queries.lastIntake.foreach { r =>
        m("sources.files_seen") = r.getAs[Long]("files_seen").toDouble
        m("sources.files_rejected") = Seq("empty_files", "oversize_files", "invalid_type_files")
          .map(k => r.getAs[Long](k)).sum.toDouble
      }
      val docs = intake(spark).persist(StorageLevel.MEMORY_ONLY)
      m("sources.extract_placeholders") = docs.filter(
        col("text").startsWith("[pdf:unextractable") || col("text").startsWith("[docx:unextractable")).count().toDouble

      m("pipeline.chunk_s") = tr.layer("pipeline.chunk", Workloads.Repeats)(ctx.drain(chunks(docs).toDF()))
      val chunked = chunks(docs).persist(StorageLevel.MEMORY_ONLY)
      val nChunks = chunked.count()
      m("pipeline.chunks") = nChunks.toDouble

      m("pipeline.embed_s") = tr.layer("pipeline.embed", Workloads.Repeats, Seq(embed))(
        ctx.drain(EmbedPipeline.embedStage(chunked, embedder).toDF()))
      val e = embed.stats()
      m ++= Map("pipeline.embed_calls" -> e.calls.toDouble, "pipeline.embed_texts_sent" -> e.items.toDouble,
        "pipeline.embed_5xx" -> e.failed5xx.toDouble, "pipeline.embed_inflight_max" -> e.inflightMax.toDouble)
      m("pipeline.embed_useful_ratio") = embed.distinctTexts.toDouble / math.max(1L, e.items)
      m("pipeline.embed_remote_busy_s") = e.busyS

      val vectors = EmbedPipeline.embedStage(chunked, embedder).persist(StorageLevel.MEMORY_ONLY)
      vectors.count()
      m("sinks.write_s") = tr.layer("sinks", Workloads.Repeats, Seq(vdb))(upsert(vectors))
      val s = vdb.stats()
      val commit = VectorDbDataSource.lastCommitStats
      m ++= Map("sinks.upserts" -> s.calls.toDouble, "sinks.rows_received" -> s.items.toDouble,
        "sinks.distinct_ids" -> vdb.distinctIds.toDouble, "sinks.5xx" -> s.failed5xx.toDouble,
        "sinks.inflight_max" -> s.inflightMax.toDouble,
        "sinks.commit_uploaded" -> commit.map(_.uploaded.toDouble).getOrElse(0.0),
        "sinks.commit_failed" -> commit.map(_.failed.toDouble).getOrElse(0.0))
      m("sinks.remote_busy_s") = s.busyS
      m("sinks.bytes_mb") = s.bytesIn / 1e6
      m("sinks.failed_share") = 1.0 - math.min(vdb.distinctIds.toLong, expectedChunks).toDouble / expectedChunks
      m("spark.fusion_saving_s") =
        m("sources.intake_s") + m("pipeline.chunk_s") + m("pipeline.embed_s") + m("sinks.write_s") - untracedJobS
      Seq(vectors, chunked, docs).foreach(_.unpersist(blocking = true))
    } finally tr.close()
    Workloads.complete(m.toMap)
  }

  override def close(): Unit = { embed.close(); vdb.close() }
}

object IngestRemoteVdb {
  final val ChunkSize = 512
  final val ChunkOverlap = 256
  final val EmbedDim = 384
  // The latencies are assumed, not measured. A job makes about 6 distinct
  // embedding calls and 90 distinct upserts, so these shares give one 503
  // per service per job: each job takes each retry path once.
  final val EmbedLatencyMs = 40L
  final val EmbedFailEvery = 8
  final val VdbLatencyMs = 5L
  final val VdbFailEvery = 64
}

/** `SparkEntry.queries("p18_curate_full")` over a generated documents
  * table, written to parquet; the output is checked against the query's
  * DuckDB oracle outside the JVM. */
final class CurateP18(ctx: RunContext, dataDir: String, outDir: String) extends Workload {
  private val query = graft.SparkEntry.queries("p18_curate_full")

  override def expectedRows: Long = 1L

  override def job(spark: SparkSession): JobResult = {
    query(spark, dataDir).write.mode("overwrite").parquet(outDir)
    JobResult(1L, 1L, Nil)
  }

  override def finalChecks(spark: SparkSession): Unit = {
    val sql = graft.SparkEntry.oracleSql.get("p18_curate_full")
    ctx.check("oracle SQL available", sql.isDefined)
    sql.foreach(s => Files.write(Paths.get(ctx.runDir, "oracle.sql"), s.getBytes(StandardCharsets.UTF_8)))
  }

  /** The p18 stages alone. The glue between them restates p18's
    * composition (`CurationQueries.curateFull`): the planted copies at
    * `doc_id + 1000000`, `withPlantedLines`, `minDocFreq = 5`, the
    * `n_kept > 0` filter with newlines folded to spaces, the `nll <= 3.45`
    * gate, keep-first by SHA-256 digest with `min_by`, `seqLen = 128`, and
    * p18's checkpoint (`coalesce(8)`, parquet, read back under the written
    * schema) after the boilerplate and dedup stages. The boilerplate input,
    * which p18 does not checkpoint, is cached, so it keeps the fused
    * plan's partitioning. `operators.packed_rows` is checked against the
    * fused output. */
  override def traced(spark: SparkSession): Map[String, Metric] = {
    import graft.operators.{Packing, TextAnalysis}
    val tr = new Tracer(spark, ctx)
    val m = mutable.Map.empty[String, Double]
    def ckpt(df: DataFrame, tag: String): DataFrame = {
      val dir = s"${ctx.runDir}/ckpt_$tag"
      df.coalesce(8).write.mode("overwrite").parquet(dir)
      spark.read.schema(df.schema).parquet(dir)
    }
    try {
      val (untracedJobS, engine) = tr.fused(Workloads.Repeats, Nil)(job(spark))
      m ++= engine

      val d0 = graft.Tables.documentsParallel(spark, dataDir)
      val lined = graft.queries.CurationQueries.withPlantedLines(
        d0.unionAll(d0.withColumn("doc_id", col("doc_id") + 1000000L))).persist(StorageLevel.MEMORY_ONLY)
      lined.count()
      def boilerplate = TextAnalysis.removeBoilerplate(lined, "doc_id", "source", "ltext", minDocFreq = 5L)
      m("operators.boilerplate_s") = tr.layer("operators.boilerplate", Workloads.Repeats)(ctx.drain(boilerplate))
      val cleaned = ckpt(boilerplate.filter(col("n_kept") > 0)
        .select(col("doc_id"), translate(col("clean_text"), "\n", " ").as("text")), "cleaned")
      m("operators.rows_after_boilerplate") = cleaned.count().toDouble

      def lm = TextAnalysis.bigramLmScore(cleaned, "doc_id", "text")
      m("operators.bigram_lm_s") = tr.layer("operators.bigram_lm", Workloads.Repeats)(ctx.drain(lm))
      val gated = cleaned.join(lm.filter(col("nll") <= 3.45).select(col("doc_id")), "doc_id")
      m("operators.rows_after_lm") = gated.count().toDouble
      val kept = ckpt(gated.groupBy(sha2(col("text"), 256).as("__dig"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("__w"))
        .select(col("__w.doc_id").as("doc_id"), col("__w.text").as("text")), "kept")
      m("operators.rows_after_dedup") = kept.count().toDouble

      def packed = Packing.vocabEncode(kept, "doc_id", "text", seqLen = 128)
      m("operators.vocab_pack_s") = tr.layer("operators.vocab_pack", Workloads.Repeats)(ctx.drain(packed))
      val nPacked = packed.count()
      m("operators.packed_rows") = nPacked.toDouble
      val nOut = spark.read.parquet(outDir).count()
      ctx.check("stage-by-stage p18 matches the fused output rows", nPacked == nOut,
        s"stages $nPacked rows, fused $nOut")
      m("spark.fusion_saving_s") = m("operators.boilerplate_s") + m("operators.bigram_lm_s") +
        m("operators.vocab_pack_s") - untracedJobS
      lined.unpersist(blocking = true)
    } finally tr.close()
    Workloads.complete(m.toMap)
  }

  override def close(): Unit = ()
}
