package graft.queries

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Structured-Streaming queries with FULL correctness rows (s-series):
  * each runs a real streaming job — file source → watermarked/stateful
  * transform → memory sink — to completion under
  * `Trigger.AvailableNow`, then returns the sink table. Because one
  * bounded replay delivers every row on time, the streaming result
  * must EQUAL the equivalent batch SQL — so the DuckDB oracle pins the
  * unified batch/streaming semantics themselves (watermark windows,
  * dropDuplicates state, flatMapGroupsWithState sessionization), not
  * just rows>0. StreamingSpec separately covers the multi-batch /
  * checkpoint-restart behavior these single-replay rows cannot see. */
object StreamingQueries {

  /** s27's sentinel-augmented events staging, one per (JVM, dir) —
    * see [[streamSessionFlush]]. */
  private val s27Staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One AvailableNow run into a memory sink. Two termination
    * protocols (the ONLY difference between the two public wrappers):
    *
    *  - `selfTerminate = false`: processAllAvailable + stop, NOT
    *    awaitTermination — a flatMapGroupsWithState query with
    *    ProcessingTimeTimeout keeps the AvailableNow run alive waiting
    *    for pending state timeouts, so awaitTermination never returns
    *    (s03 hangs); processAllAvailable returns once every available
    *    row is committed, which is exactly the single-replay contract
    *    these rows verify.
    *  - `selfTerminate = true`: let the run terminate ON ITS OWN — the
    *    natural termination path runs the watermark-advance no-data
    *    batch, which is when outer-join state drains its null rows
    *    (s16). Only safe without processing-time timers. */
  private def runMemorySink(df: DataFrame, outputMode: String,
                            selfTerminate: Boolean): DataFrame = {
    val spark = df.sparkSession
    val name = "s_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ck = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    ck.toFile.deleteOnExit()
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    if (!selfTerminate) { q.processAllAvailable(); q.stop() }
    q.awaitTermination()
    spark.table(name)
  }

  private def awaitMemorySink(df: DataFrame, outputMode: String): DataFrame =
    runMemorySink(df, outputMode, selfTerminate = false)

  /** See [[runMemorySink]]'s `selfTerminate = true` protocol (s16). */
  private def awaitMemorySinkDrained(df: DataFrame, outputMode: String): DataFrame =
    runMemorySink(df, outputMode, selfTerminate = true)

  /** A single-table file-source stream: the source requires a
    * DIRECTORY, so stream the sf dir with a glob pinned to the one
    * table file (schema from a one-off batch read). */
  private def tableStream(spark: SparkSession, dir: String,
                          table: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
  }

  /** The events stream: same ts-type adaptation as [[graft.Tables.events]]
    * (raw-nanos long → micros; native timestamp[us] → session-TZ cast). */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = tableStream(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** s01: watermarked tumbling-window aggregation as a STREAM, q09's
    * exact output shape — complete mode so every window emits in the
    * single replay (append mode would hold back windows the final
    * watermark never passed). Oracle: the q09 SQL verbatim. */
  def streamHourly(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    awaitMemorySink(agg, "complete").orderBy(col("hour"), col("event_type"))
  }

  /** s02: streaming exact dedup ([[graft.streaming.StreamingIngest
    * .dedupStream]] — dropDuplicates state across micro-batches)
    * projected to the content digest; the surviving digest SET equals
    * batch DISTINCT regardless of which duplicate arrived first. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val dd = graft.streaming.StreamingIngest.dedupStream(docs)
      .select(col("text_hash"))
    awaitMemorySink(dd, "append").distinct().orderBy(col("text_hash"))
  }

  /** s03: flatMapGroupsWithState sessionization as a STREAM — gap-based
    * sessions with timestamp-derived ids (see [[graft.streaming
    * .StreamingIngest.sessionize]]). Session boundaries depend only on
    * the per-user ts SEQUENCE (ties contribute gap 0 either way), so
    * the output is deterministic and equals the batch window-flag-sum
    * form the oracle computes. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id").cast("long"), col("ts").cast("long"))
      .as[(Long, Long)]
    val sess = graft.streaming.StreamingIngest
      .sessionize(ev, expireIdle = false).toDF()
    awaitMemorySink(sess, "append")
      .orderBy(col("user_id"), col("session_id"))
  }

  /** s04: stream-stream interval join ([[graft.streaming.StreamingIngest
    * .purchaseViewJoin]]) — purchases matched to the same user's views
    * within the preceding hour, both sides watermarked so join state is
    * bounded across micro-batches. In the single AvailableNow replay
    * every pair co-resides in one micro-batch, so the inner join emits
    * exactly the batch interval-join result the oracle computes (the
    * watermark governs state PURGING for later batches, never
    * current-batch matching). */
  def streamPurchaseViews(spark: SparkSession, dir: String): DataFrame = {
    def leg(tpe: String): DataFrame =
      eventsStream(spark, dir).filter(col("event_type") === tpe)
    val purchases = leg("purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = leg("view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val joined = graft.streaming.StreamingIngest
      .purchaseViewJoin(purchases, views)
    awaitMemorySink(joined, "append")
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"))
      .orderBy(col("user_id"), col("purchase_id"), col("view_id"))
  }

  /** s16: stream-stream LEFT OUTER interval join
    * ([[graft.streaming.StreamingIngest.purchaseViewLeftJoin]]) —
    * every purchase emits, matched views attached, null view columns
    * for purchases no view preceded within the hour. Outer-join null
    * emission is watermark-driven, and a bounded replay's watermark
    * stops short of the stream tail, so the query unions a far-future
    * PUNCTUATION row into each leg (the heartbeat pattern production
    * streams use to drain event-time state) and filters it from the
    * output: the final watermark then passes every real purchase's
    * match deadline, the join state drains in the terminal no-data
    * micro-batch, and the result deterministically equals the batch
    * LEFT JOIN the oracle computes. */
  def streamPurchaseViewsOuter(spark: SparkSession, dir: String): DataFrame = {
    // one bounded aggregate read to place the punctuation past every
    // real event (+ watermark delay + join window headroom)
    val maxTs = graft.Tables.events(spark, dir)
      .agg(max(col("ts"))).head.getTimestamp(0)
    val sentinelTs = java.sql.Timestamp.from(
      maxTs.toInstant.plusSeconds(4 * 3600))
    val sDir = java.nio.file.Files.createTempDirectory("graft_s16_punct")
    sDir.toFile.deleteOnExit()
    val spark2 = spark
    import spark2.implicits._
    // one punctuation row per leg; negative user ids match no real row
    // (and, being distinct, not each other)
    Seq((-1L, sentinelTs, -1L, "purchase"), (-1L, sentinelTs, -2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(sDir.toString)
    val punct = spark.readStream
      .schema(spark.read.parquet(sDir.toString).schema)
      .parquet(sDir.toString)
    def leg(tpe: String): DataFrame =
      eventsStream(spark, dir).filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"), col("ts"))
        .unionByName(punct.filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id"), col("ts")))
    val purchases = leg("purchase")
    val views = leg("view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val joined = graft.streaming.StreamingIngest
      .purchaseViewLeftJoin(purchases, views)
    awaitMemorySinkDrained(joined, "append")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"))
      .orderBy(col("user_id"), col("purchase_id"),
        col("view_id").asc_nulls_first)
  }

  /** s17: streaming Count-Min heavy hitters — the t25 sketch as a
    * streaming aggregation: depth·width counter cells are a count
    * monoid, so the state is BOUNDED (4·1024 cells) no matter how long
    * the stream runs — the property that makes a sketch the right
    * frequency monitor for an unbounded ingest feed (completing the
    * streaming sketch family: s06 HLL, s08 KMV, s17 Count-Min). The
    * exact top-20 probe list comes from the static table at read time
    * (t25's own doc-comment calls the exact candidate set the
    * demonstration stand-in). Count merges are order-free, so the
    * streamed sketch equals the batch sketch whatever the batch
    * boundaries, and the oracle is t25's SQL verbatim. */
  def streamCountMin(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val sketch = awaitMemorySink(
      graft.operators.TextAnalysis.countMinSketch(docs, "text"), "complete")
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.TextAnalysis.countMinProbe(batchDocs, "text", sketch)
      .orderBy(col("n_exact").desc, col("word"))
  }

  /** s18: a streaming SEARCH feed — queries arrive as a stream and
    * are answered per micro-batch against the STATIC corpus (every
    * other s-query streams the corpus; a serving system streams the
    * QUERIES — this is the missing direction). Each trigger runs the
    * full engine-exact BM25 ranking ([[graft.operators.Similarity
    * .bm25TopK]]) for that batch's queries inside foreachBatch:
    * corpus statistics (N, Σdl, df) come from the static corpus, so
    * they are identical whatever the batch boundaries, queries never
    * interact, and the union of per-trigger results equals the
    * one-shot batch ranking — the oracle is a11's SQL verbatim.
    * foreachBatch is the honest shape here: per-query top-k needs a
    * ranking window, which streaming aggregation modes cannot
    * express, and per-trigger batch scoring is how query feeds
    * actually serve (per-trigger cost = one corpus pass against that
    * batch's query vocabulary). */
  def streamBm25(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qStream = tableStream(spark, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("qtext"))
    val out = java.nio.file.Files.createTempDirectory("graft_s18_out")
    out.toFile.deleteOnExit()
    val ck = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    ck.toFile.deleteOnExit()
    val q = qStream.writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.bm25TopK(
            batch, c, "doc_id", "text", "qid", "qtext",
            k = 10, persistTf = false)
          .write.mode("append").parquet(out.toString)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out.toString)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s05: the FLAGSHIP embed pipeline as a STREAM — the same
    * chunk→embed DataFrame program as batch p08 (the stages are shared
    * code, only the source differs), with the engine-exact
    * [[graft.pipeline.Md5Embedder]], projected to p08's exact output
    * shape. The oracle IS p08's SQL: unified batch/streaming semantics
    * mean the stream must reproduce the batch result row for row. */
  def streamEmbedPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val vectors = graft.pipeline.EmbedPipeline.run(
      docs, embedder = new graft.pipeline.Md5Embedder(64)).toDF()
    awaitMemorySink(vectors, "append")
      .select(col("source_document"), md5(col("source_text")).as("chunk_md5"),
        posexplode(col("vector")))
      .select(col("source_document"), col("chunk_md5"),
        col("pos").cast("long").as("dim_k"),
        col("col").cast("long").as("component"))
      .orderBy(col("source_document"), col("chunk_md5"), col("dim_k"))
  }

  /** s06: streaming approximate distinct — the engine-exact md5 HLL as
    * a single streaming aggregation. Sketch registers are a
    * commutative monoid ([[graft.operators.HyperLogLog.HllAggregator]]),
    * so the stream maintains m bytes of state per group and the
    * AvailableNow replay must produce the batch estimate exactly; the
    * oracle replays the whole sketch in DuckDB (the a06 SQL). The
    * two-level SQL HLL form cannot stream (chained stateful
    * aggregations); the aggregator form is the streaming-native
    * sketch path. */
  def streamApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val est = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.operators.HyperLogLog.hllAgg("user_id", "u")
        .as("approx_users"))
    awaitMemorySink(est, "complete").orderBy(col("event_type"))
  }

  /** s07: incremental NEAR-dedup as a STREAM — today's crawl delta
    * arrives as a stream and is near-matched against the STATIC
    * accumulated base ([[graft.operators.Dedup
    * .nearMatchAgainstBaseStreamable]]: the self-join-free plan —
    * shingles ride the band rows, one stream-static inner join, one
    * streaming aggregation). Per-doc decisions depend only on the doc
    * and the static base, so the AvailableNow replay must equal the
    * batch result regardless of batch boundaries; the oracle is d16's
    * exact cross-corpus Jaccard SQL restricted to the matched rows. */
  def streamNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val docs = tableStream(spark, dir, "documents")
      .filter(col("text").isNotNull)
    val today = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" updated")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
    val matched = graft.operators.Dedup.nearMatchAgainstBaseStreamable(
      today, "doc_id", "text", base, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5)
    awaitMemorySink(matched, "complete").orderBy(col("id"))
  }

  /** s08: streaming KMV distinct — the bottom-k sketch as a single
    * streaming aggregation (k·8 bytes of state per group; the
    * [[graft.operators.Kmv.KmvAggregator]] monoid is the same code
    * batch a16 runs). Oracle: the full DuckDB sketch replay. */
  def streamKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val est = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.operators.Kmv.kmvAgg("user_id", "ku").as("kmv_users"))
    awaitMemorySink(est, "complete").orderBy(col("event_type"))
  }

  /** s09: HOPPING windows as a STREAM — q34's 1-hour/15-minute sliding
    * windows under a watermark; the Expand (4 windows per event)
    * happens before the stateful aggregation, so window state stays
    * bounded by the watermark exactly as in the tumbling case.
    * Complete mode + single replay ⇒ equals batch q34; the oracle is
    * q34's SQL verbatim. */
  def streamHopping(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast("double").as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
    awaitMemorySink(agg, "complete")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** s10: the BUILT-IN `session_window` operator as a STREAM — 30-min
    * gap sessions per user with watermark-bounded state, the native
    * counterpart of s03's hand-rolled flatMapGroupsWithState
    * sessionization. Session bounds: [first event, last event + gap);
    * an event exactly at the previous session's end starts a new one
    * (>= in the oracle's gap test). Complete mode + single replay ⇒
    * equals the batch gap-reconstruction the oracle runs. */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    awaitMemorySink(agg, "complete")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** s27: APPEND-mode session flush — q10-style sessionization (event
    * counts + value sums + per-user session numbering) through the
    * built-in `session_window`, with results emitted by WATERMARK
    * EVICTION rather than complete-mode re-emission: a session leaves
    * the store exactly once, when the watermark passes its end — the
    * production monitoring shape (s01/s10 use complete mode because
    * append holds back every window the final watermark never passes).
    *
    * The bounded-replay harness closes that gap with a SENTINEL: one
    * far-future row (user −1) staged alongside the real events pushes
    * the final watermark past every real session's end, so the no-data
    * flush batch evicts and emits them all; the sentinel's own session
    * is the only state left (and is never emitted — append only emits
    * on eviction). A real deployment needs no sentinel — the stream
    * just keeps flowing. Session ids are assigned post-sink by start
    * order per user (a window over the |sessions|-row sink table, not
    * the corpus). Oracle: the batch gap reconstruction under the
    * session_window convention (gap ≥ 30 min STARTS a session — s10's
    * `>=` boundary, vs q10's `>`). StreamingSpec drives the multi-batch
    * eviction case (sessions emit as the watermark crosses them, state
    * rows drop). */
  def streamSessionFlush(spark: SparkSession, dir: String): DataFrame = {
    // staged ONCE per (JVM, dir) — the GraphCache memo discipline: a
    // per-invocation tempdir would leave a corpus-sized events copy
    // per run (File.deleteOnExit cannot remove a non-empty directory),
    // and Bench/Verify invoke this at two scales per JVM. Staged UNDER
    // GraphCache's pid-tagged swept tree: its shutdown hook deletes it
    // on clean exit and the next JVM's dead-pid startup sweep reclaims
    // a SIGKILLed run's leak (a bare tmpdir + hook never would).
    val staged = s27Staged.computeIfAbsent(dir, _ => {
      val ev = graft.Tables.events(spark, dir)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"),
          col("event_id").cast("long").as("event_id"))
      val sentinel = ev.agg(max(col("ts")).as("m"))
        .select(lit(-1L).as("user_id"),
          expr("m + INTERVAL 30 DAYS").as("ts"),
          lit(0.0).as("value"), lit(-1L).as("event_id"))
      val p = GraphCache.stagingPath(s"s27|$dir")
      // one write, few files: the file source must not see the sentinel
      // in a batch BEFORE the real rows (the watermark would mark them
      // late and drop them); a single AvailableNow batch over all files
      // computes its watermark at batch end, so order inside is free
      ev.unionByName(sentinel).coalesce(4)
        .write.mode("overwrite").parquet(p)
      p
    })
    val schema = spark.read.parquet(staged).schema
    val agg = spark.readStream.schema(schema).parquet(staged)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast("double").as("session_value"))
    awaitMemorySink(agg, "append")
      .filter(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("sw.start"))).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** s28: index-ingest health as a STREAMING monitor — a36's frozen-
    * index readout with the corpus-sized half running as a streaming
    * aggregation (the s15 pattern): the coarse quantizer is a BATCH
    * artifact (trained once on the base half — a serving system's
    * frozen index), the STREAM is the ingest feed, and the state is
    * per-(list, half) monoid partials — counts + DECIMAL(38) integer-
    * L2² error sums, |lists|·2 cells however long the stream runs. The
    * exact floor-division means/growth happen once at read time.
    * Complete mode: the monitor re-emits current health every trigger,
    * which is what the retrain-signal dashboard consumes. Oracle:
    * a36's SQL with identically-trained centroids (KMeans.fit is
    * deterministic in its input, KMeansSpec-pinned). */
  def streamIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val batchE = graft.Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val base = batchE.filter(col("vec_id") % 2 === 0)
    val n = base.count()
    val k = math.max(8, math.min(64, (n / 32).toInt))
    val (_, cents) = graft.operators.KMeans.fit(
      base, "vec_id", "embedding", k, iterations = 2)
    val cq = cents.map(_.map(x => math.round(x * 1048576.0)))
    s28Oracle = Some(Relational13.a36OracleSql(cq))
    val spark2 = spark
    import spark2.implicits._
    val centDf = broadcast(
      cq.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cluster", "cq"))
    val parts = graft.operators.KMeans.assignExact(
        tableStream(spark, dir, "embeddings")
          .filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cq)
      .withColumn("half", (col("vec_id") % 2 === 0).cast("int"))
      .join(centDf, "cluster")
      .withColumn("vq", expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))"))
      .withColumn("r2", graft.functions.GraftFunctions.sqDistLong(
        col("vq"), col("cq")))
      .groupBy(col("cluster"), col("half"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("r2").cast(DecimalType(38, 0))).as("s"))
    awaitMemorySink(parts, "complete")
      .groupBy(col("cluster").as("list_id"))
      .agg(
        sum(when(col("half") === 1, col("cnt")).otherwise(0L))
          .cast("long").as("n_base"),
        sum(when(col("half") === 0, col("cnt")).otherwise(0L))
          .cast("long").as("n_added"),
        sum(when(col("half") === 1, col("s"))).as("s_base"),
        sum(when(col("half") === 0, col("s"))).as("s_add"))
      .select(col("list_id"), col("n_base"), col("n_added"),
        expr("cast(case when n_base = 0 then null else s_base div n_base end as bigint)")
          .as("mean_r2_base"),
        expr("cast(case when n_added = 0 then null else s_add div n_added end as bigint)")
          .as("mean_r2_added"),
        expr("cast(case when n_base = 0 then null else (n_added * 1000000) div n_base end as bigint)")
          .as("growth_ppm"))
      .orderBy(col("list_id"))
  }

  @volatile private var s28Oracle: Option[String] = None

  /** s29: streaming compressed-media ingest monitor — the DECODE stage
    * (p36's real IMA-ADPCM byte-path decoder) running INSIDE a
    * structured stream, the shape a production ingest has: clips
    * arrive, each is decoded scan-locally (a stateless typed map — the
    * decoder holds no cross-row state), and the monitor maintains
    * per-bucket level/energy health as a streaming aggregation whose
    * state is 8 bounded monoid cells (counts, sums, max) however long
    * the feed runs. Complete mode: the dashboard re-reads current
    * health per trigger. Oracle: p36's recursive-CTE nibble replay,
    * aggregated per bucket — the streamed decode totals are
    * sample-exact against DuckDB. */
  def streamAdpcmMonitor(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val decoded = tableStream(spark, dir, "documents")
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).as[Long]
      .map(PipelineQueries.adpcmClipStats)
      .toDF("doc_id", "n_samples", "peak_abs", "energy")
    val agg = decoded
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_samples")).cast("long").as("total_samples"),
        max(col("peak_abs")).cast("long").as("max_peak"),
        sum(col("energy")).cast("long").as("total_energy"))
    awaitMemorySink(agg, "complete")
      .orderBy(col("bucket"))
  }

  /** s30: streaming FLAC ingest monitor — s29's shape for the p37
    * codec: clips arrive, each round-trips through the REAL FLAC
    * encoder + bitstream decoder scan-locally (stateless typed map —
    * CRC/MD5-verified per clip), and the monitor keeps per-bucket
    * clip/sample/peak/energy health as 8 bounded monoid cells.
    * Oracle: p37's sample-formula replay aggregated per bucket —
    * losslessness makes the formula sample-exact for the streamed
    * decode totals too. */
  def streamFlacMonitor(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val decoded = tableStream(spark, dir, "documents")
      .filter(col("doc_id") % 25 === 7)
      .select(col("doc_id")).as[Long]
      .map(PipelineQueries.flacClipStats)
      .toDF("doc_id", "sample_rate", "n_samples", "n_frames",
        "peak_abs", "energy")
    val agg = decoded
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_samples")).cast("long").as("total_samples"),
        sum(col("n_frames")).cast("long").as("total_frames"),
        max(col("peak_abs")).cast("long").as("max_peak"),
        sum(col("energy")).cast("long").as("total_energy"))
    awaitMemorySink(agg, "complete")
      .orderBy(col("bucket"))
  }

  /** s31: streaming model distillation — q55's per-source OLS as a
    * streaming aggregate. The normal-equation sufficient statistics
    * ARE the streaming state (11 bounded DECIMAL cells per source —
    * the monoid [[graft.operators.Distill.suffStats]] aggregates),
    * complete mode emits the stats table, and the Cramer solve +
    * quantized-model R² run on the SINK table — exactly the serving
    * split a production trainer wants: executors stream sums, the
    * model solves wherever the stats land. Oracle: q55's SQL
    * verbatim — unified batch/stream semantics. */
  def streamQualityDistill(spark: SparkSession, dir: String): DataFrame = {
    val stats = graft.operators.Distill.suffStats(
      Relational14.q55Features(tableStream(spark, dir, "documents")),
      "source", "x1", "x2", "y")
    graft.operators.Distill.solveFromStats(
      awaitMemorySink(stats, "complete"))
  }

  /** s32: streaming quality-anomaly monitor — q56's serving pass with
    * the production split made literal: the model trains ONCE on the
    * static snapshot (a batch plan — the stream-static join's static
    * side), every streamed document scores against its source's
    * broadcast coefficients, and the per-source review queue is a
    * bounded top-k aggregation ([[graft.operators.SampleAggregators
    * .WeightedTopKAggregator]]: 5·24 bytes of state per source,
    * arrival-order independent — |resid| ≤ 8.2·10⁶ is exactly
    * representable in its double key). One bounded replay scores the
    * same corpus the model trained on, so the oracle is q56's SQL
    * verbatim. */
  def streamQualityAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.operators.Distill.solveFromStats(
        graft.operators.Distill.suffStats(
          Relational14.q55Features(graft.Tables.documents(spark, dir)),
          "source", "x1", "x2", "y"))
      .filter(col("b0_milli").isNotNull)
      .select(col("source"), col("b0_milli"), col("b1_milli"),
        col("b2_milli"))
    val scored = Relational14
      .q55Features(tableStream(spark, dir, "documents"))
      .join(broadcast(model), Seq("source"))
      .select(col("source"), col("doc_id"),
        expr("y * 1000L - (b0_milli + b1_milli * x1 + b2_milli * x2)")
          .as("resid_milli"))
    val agg = scored.groupBy(col("source"))
      .agg(graft.operators.SampleAggregators.weightedTopKAgg(
        abs(col("resid_milli")).cast("double"), col("doc_id"),
        col("resid_milli"), 5).as("queue"))
    awaitMemorySink(agg, "complete")
      .select(col("source"), posexplode(col("queue")).as(Seq("i", "rec")))
      .select(col("source"), (col("i") + 1).cast("int").as("rnk"),
        col("rec._2").as("doc_id"), col("rec._3").as("resid_milli"))
      .orderBy(col("source"), col("rnk"))
  }

  /** s11: streaming CDC compaction — the q39 latest-wins merge as a
    * stateful streaming aggregation: per-key max_by state merges each
    * micro-batch's candidate against the running winner (state is one
    * struct + a counter per key, never the history), complete mode
    * emits the compacted table; tombstone filtering and the output
    * projection run on the sink, exactly as a serving layer would.
    * Oracle: the q39 SQL verbatim — unified batch/stream semantics. */
  def streamCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val st = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        expr("cast(round(value * 1000000) as bigint)").as("v6"))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_type"), col("v6")),
          struct(col("ts"), col("event_id"))).as("__w"),
        count(lit(1)).as("n_changes"))
    awaitMemorySink(st, "complete")
      .filter(col("__w.event_type") =!= "error")
      .select(col("user_id"), col("__w.event_type").as("last_type"),
        col("__w.v6").as("last_value6"),
        date_format(col("__w.ts"), "yyyy-MM-dd HH:mm:ss").as("updated_at"),
        col("n_changes"))
      .orderBy(col("user_id"))
  }

  /** s12: streaming canonical-URL dedup — t31's crawl-intake rule at
    * ingest time: canonicalization is a scan-local projection (works
    * unchanged under streaming), dropDuplicates holds ONE canonical
    * string per distinct URL as state, and the surviving set equals
    * batch DISTINCT regardless of arrival order (the s02 contract at
    * URL granularity — the frontier dedup a streaming crawler runs). */
  def streamUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val url = graft.operators.UrlNorm.synthUrl(col("doc_id"), col("source"))
    val dd = docs
      .select(graft.operators.UrlNorm.canonicalize(url).as("canon_url"))
      .dropDuplicates("canon_url")
    awaitMemorySink(dd, "append").distinct().orderBy(col("canon_url"))
  }

  /** s13: stateful streaming event throttling — q44's anchored
    * one-per-hour rate limit with the last-kept timestamp as the ONLY
    * state per (user, type) ([[graft.streaming.StreamingIngest
    * .throttleStream]]). Oracle: q44's recursive-CTE replay verbatim
    * (single-replay equality — unified batch/stream semantics). */
  def streamThrottle(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("tss"), col("event_id"))
      .as[(Long, String, Long, Long)]
    val kept = graft.streaming.StreamingIngest.throttleStream(ev)
      .toDF("user_id", "event_type", "ts_s", "event_id")
    awaitMemorySink(kept, "append")
      .groupBy(col("user_id"), col("event_type"), col("ts_s"))
      .agg(min(col("event_id")).as("event_id"))
      .orderBy(col("user_id"), col("event_type"), col("ts_s"))
  }

  /** s14: WATERMARK-BOUNDED streaming dedup — Spark's
    * `dropDuplicatesWithinWatermark`. s02's `dropDuplicates` keeps
    * every key ever seen (state grows with distinct keys forever —
    * fine for a bounded corpus digest, fatal for an unbounded event
    * stream); this operator expires a key's dedup state once the
    * watermark passes it, so state is bounded by the delay window ×
    * event rate regardless of stream lifetime. That is the 100 TB /
    * infinite-retention answer, and the reason both forms ship (the
    * s10 built-in-vs-custom convention). Under a single bounded
    * replay nothing expires mid-stream, so the surviving set equals
    * batch DISTINCT — the oracle pins exactly that unified-semantics
    * contract; StreamingSpec covers the expiry behavior a single
    * replay cannot see. */
  def streamDedupWatermarked(spark: SparkSession, dir: String): DataFrame = {
    // dedup on the SECOND-truncated ts: the parquet has shipped at both
    // nanosecond and microsecond precision, and eventsStream truncates
    // nanos to micros while the oracle's DuckDB view reads the file
    // natively — a sub-microsecond ts difference would dedup here but
    // survive DISTINCT there. Truncating the KEY to a precision both
    // engines express identically removes the dependence entirely.
    val dd = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
    awaitMemorySink(dd, "append")
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy(col("user_id"), col("event_type"), col("ts_s"))
  }

  /** s15: embedding drift as a STREAMING monitor — a22's per-label L1
    * centroid displacement with the corpus-sized half running as a
    * streaming aggregation (the s06 HLL pattern: the stream maintains
    * MERGEABLE monoid partials — per-(snapshot, label, component)
    * quantized sums and counts, |snap|·|labels|·d cells of state
    * regardless of stream length — and the exact division happens once
    * at read time via [[graft.operators.Drift.embeddingDriftFromSums]]).
    * Complete mode: the drift monitor re-emits the current partials
    * every trigger, which is exactly what a monitoring dashboard
    * consumes. Oracle: a22's SQL verbatim (single-replay equality). */
  def streamEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val parts = tableStream(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select((col("vec_id") % 2).as("snap"), col("label"),
        posexplode(graft.operators.Drift.quantize("embedding"))
          .as(Seq("d", "q")))
      .groupBy(col("snap"), col("label"), col("d"))
      .agg(sum(col("q")).cast(DecimalType(38, 0)).as("s"),
        count(lit(1)).as("n"))
    // localCheckpoint: the a/b legs self-join this table, and the
    // memory-sink View's attributes fail Spark's conflicting-reference
    // dedup; snapshotting the (bounded: |snap|·|labels|·d cells) sink
    // gives the join two independent plans
    val sink = awaitMemorySink(parts, "complete").localCheckpointLedgered()
    graft.operators.Drift.embeddingDriftFromSums(
      sink.filter(col("snap") === 0).select(col("label"), col("d"),
        col("s").as("s_a"), col("n").as("n_a")),
      sink.filter(col("snap") === 1).select(col("label"), col("d"),
        col("s").as("s_b"), col("n").as("n_b")))
  }

  /** s19: streaming weighted sample — t29's Efraimidis–Spirakis
    * weighted top-k as a single streaming aggregation
    * ([[graft.operators.SampleAggregators.WeightedTopKAggregator]]):
    * k·24 bytes of state per stratum however long the stream runs. The
    * E-S keying is scan-local-deterministic (salted md5 uniform, the
    * SAME [[graft.operators.Sampling.esKeyed]] stage batch t29 runs)
    * and top-k-by-a-total-order is arrival-order-free, so the streamed
    * sample equals the batch sample row for row. Oracle: t29's SQL
    * verbatim. */
  def streamWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val keyed = graft.operators.Sampling.esKeyed(
      docs, "source", "doc_id", "n_chars")
    val agg = keyed.groupBy(col("stratum"))
      .agg(graft.operators.SampleAggregators.weightedTopKAgg(
        col("es_key"), col("id"), col("weight"), 50).as("sample"))
    awaitMemorySink(agg, "complete")
      .select(col("stratum"), posexplode(col("sample")).as(Seq("i", "rec")))
      .select(col("stratum"), col("rec._2").as("id"),
        col("rec._3").as("weight"), col("rec._1").as("es_key"),
        (col("i") + 1).cast("long").as("rank"))
      .orderBy(col("stratum"), col("rank"))
  }

  /** s20: streaming quantile sketch — exact interpolated quantiles
    * over a DETERMINISTIC bottom-k-by-hash sample
    * ([[graft.operators.SampleAggregators.BottomKSampleAggregator]]):
    * the sketch-family answer (s06 HLL, s08 KMV, s17 CM) for
    * quantiles, with k·16 bytes of state per group. Where batch a18
    * samples by a hash-threshold FILTER (state ∝ pass rate — unbounded
    * over an endless stream), the bottom-k sample is a fixed-size,
    * order-independent, mergeable monoid; the quantile readout is the
    * a18/q32 interpolation over the sample. DuckDB replays hash →
    * bottom-256 per flag → interpolated quantiles exactly. */
  def streamSampleQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = tableStream(spark, dir, "lineitem")
    val h = graft.operators.HyperLogLog.hashExpr(
      "concat(l_orderkey, '-', l_linenumber)", "bk")
    val keyed = li.select(col("l_returnflag"), expr(h).as("h"),
      expr("cast(round(l_extendedprice * 1000000) as bigint)").as("v6"))
    val agg = keyed.groupBy(col("l_returnflag"))
      .agg(graft.operators.SampleAggregators.bottomKSampleAgg(
        col("h"), col("v6"), 256).as("sample"))
    val sample = awaitMemorySink(agg, "complete")
      .select(col("l_returnflag"), explode(col("sample")).as("rec"))
      .select(col("l_returnflag"), col("rec._2").as("v6"))
    graft.operators.Profile.exactQuantiles(
      sample, "l_returnflag", col("v6"), Seq(50, 90, 99))
  }

  /** s21: streaming event-transition matrix — q47's Markov readout
    * maintained at ingest time ([[graft.streaming.StreamingIngest
    * .transitionStream]]): one (last_type, last_ts, last_id) state row
    * per user emits each (from, to) edge as it happens; the memory
    * sink's edge multiset then aggregates to exactly the batch
    * transition counts, and the ppm division is q47's floor-division
    * discipline. Oracle: q47's SQL verbatim (unified semantics). */
  def streamTransitions(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // MICROSECOND order key, not cast-to-seconds: the oracle (q47) sorts
    // by the full-resolution ts, and a same-second pair whose event_id
    // order disagrees with its sub-second ts order would emit a
    // different edge under a truncated key
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .as[(Long, String, Long, Long)]
    val edges = graft.streaming.StreamingIngest.transitionStream(ev)
      .toDF("from_type", "to_type")
    // per-from totals via a window, not q47's self-join: the memory
    // sink's view resolves BOTH join legs to the same attribute ids
    // (conflicting-references INTERNAL_ERROR); the result is
    // |types|²-bounded, so a window over it costs nothing
    awaitMemorySink(edges, "append")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .selectExpr("from_type", "to_type", "n",
        "(n * 1000000) div sum(n) OVER (PARTITION BY from_type) AS p_ppm")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** s26: streaming CUSUM changepoint monitor — q52's level-shift
    * detector fed by a streaming daily-count aggregation (the s01
    * shape: watermarked 1-day windows, complete mode — counter state
    * is types×days cells, bounded and mergeable however long the
    * stream runs). The CUSUM itself stays the prefix-sum closed form
    * and runs at read time over the TINY aggregate — the right
    * split: corpus-sized counting is streaming-incremental, the
    * series recurrence is a readout. Oracle: q52's SQL verbatim. */
  def streamCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"))
    Relational13.cusumReadout(awaitMemorySink(agg, "complete"))
  }

  /** s25: streaming time-weighted average — q51's irregular-sample
    * integral at ingest ([[graft.streaming.StreamingIngest.twaStream]]):
    * one (last_ts, last_v6) state row per (user, type) closes each
    * held interval as its successor arrives; the memory sink's
    * interval multiset then aggregates to exactly the batch lead()
    * integral (same DECIMAL(38) products, same floor division).
    * Oracle: q51's SQL verbatim (unified semantics). v6 is computed
    * in UNTYPED land before the typed boundary so the decimal(18,6)
    * half-up rounding is q51's bit for bit. */
  def streamTwa(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)").as("v6"))
      .as[(Long, String, Long, Long, Long)]
    val ivals = graft.streaming.StreamingIngest.twaStream(ev)
      .toDF("user_id", "event_type", "dur_us", "v6")
    awaitMemorySink(ivals, "append")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).as("span_us"),
        sum(col("v6").cast(DecimalType(38, 0)) * col("dur_us")).as("wsum"))
      .withColumn("twa_micro", expr("cast(wsum div span_us as bigint)"))
      .select(col("user_id"), col("event_type"), col("n_intervals"),
        col("span_us"), col("twa_micro"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** s22: streaming range-search alerts — the s18 inverted-feed
    * pattern on a26's radius semantics: query vectors arrive as the
    * stream, each trigger answers its batch with the full exact range
    * search against the static corpus inside foreachBatch (radius
    * alerting — "tell me everything this close to the new arrival" —
    * is how similarity monitors actually serve). Corpus is static ⇒
    * per-trigger unions equal the one-shot batch search; oracle =
    * a26's SQL verbatim. */
  def streamRangeAlerts(spark: SparkSession, dir: String): DataFrame = {
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qStream = tableStream(spark, dir, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val out = java.nio.file.Files.createTempDirectory("graft_s22_out")
    out.toFile.deleteOnExit()
    val ck = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    ck.toFile.deleteOnExit()
    val q = qStream.writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.rangeSearch(
            batch, corpus, "vec_id", "embedding", threshold = 0.25)
          .write.mode("append").parquet(out.toString)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out.toString)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** s23: streaming novelty / out-of-distribution monitor — the a30
    * coreset put to work at ingest: the even-id snapshot ("yesterday",
    * the a22/d15 convention) trains a 12-point farthest-point coreset
    * whose quantized centers AND final coverage radius² are spliced as
    * literals; each odd-id vector streaming in reports its exact
    * integer min-L2² to the coreset and an `is_novel` flag (farther
    * than the training coverage radius = outside yesterday's
    * distribution — the alert a drift-watch pages on). Scan-local
    * projection ⇒ stream trivially equals batch; the oracle re-derives
    * the coreset relationally (the a30 CTE chain over evens) and
    * replays the distance scan over odds. */
  def streamNoveltyMonitor(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val even = e.filter(col("vec_id") % 2 === 0)
    val picks = graft.operators.Coreset
      .farthestPointSample(even, "vec_id", "embedding", k = 12)
      .collect()
    val thr = picks.last.getLong(2)
    val pickIds = picks.map(_.getLong(1))
    val centers = even
      .filter(col("vec_id").isInCollection(pickIds))
      .select(col("vec_id"), graft.operators.Drift.quantize("embedding").as("vq"))
      .collect().map(r => r.getSeq[Long](1).toArray)
    val dists = centers.map { c =>
      val cLit = c.mkString("array(", "L, ", "L)")
      graft.functions.GraftFunctions.sqDistLong(col("vq"), expr(cLit))
    }
    val minD = dists.reduce(least(_, _))
    val monitored = tableStream(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull && col("vec_id") % 2 === 1)
      .select(col("vec_id"), graft.operators.Drift.quantize("embedding").as("vq"))
      .withColumn("min_d2", minD)
      .withColumn("is_novel", (col("min_d2") > lit(thr)).cast("int"))
      .select(col("vec_id"), col("min_d2"), col("is_novel"))
    awaitMemorySink(monitored, "append").orderBy(col("vec_id"))
  }

  /** s24: streaming market-basket miner — q50's association rules
    * maintained at ingest: [[graft.streaming.StreamingIngest
    * .basketPairStream]] emits each basket's membership rows and
    * co-occurrence pairs exactly once (per-order distinct-part state,
    * bounded by basket width), and the support/lift shaping is a plain
    * aggregate over the emitted rows — a count monoid, so the streamed
    * result equals batch q50 whatever the micro-batch boundaries.
    * Oracle: q50's SQL verbatim. */
  def streamBasketRules(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val li = tableStream(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)]
    val mined = graft.streaming.StreamingIngest.basketPairStream(li)
      .toDF("ok", "a", "b")
    val all = awaitMemorySink(mined, "append")
      .persistLedgered()
    val members = all.filter(col("b") === -1L)
      .select(col("ok"), col("a").as("pk"))
    val nOrders = broadcast(members.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders")))
    val support = members.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val both = all.filter(col("b") =!= -1L)
      .groupBy(col("a").as("part_a"), col("b").as("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
    both
      .join(support.select(col("pk").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(support.select(col("pk").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(nOrders)
      .withColumn("lift_ppm", expr(
        "cast((cast(n_both as decimal(38,0)) * n_orders * 1000000) div " +
          "(cast(n_a as decimal(38,0)) * n_b) as bigint)"))
      .withColumn("conf_ab_ppm", expr("(n_both * 1000000) div n_a"))
      .select(col("part_a"), col("part_b"), col("n_both"), col("n_a"),
        col("n_b"), col("lift_ppm"), col("conf_ab_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** s33: streaming index-balance monitor — a42's lifecycle readout
    * run CONTINUOUSLY (r11 verdict #6: balance is the monitor an ops
    * team actually watches, per-batch, not per-audit). The stream
    * TAILS the SERVED postings artifact (a40's fp-keyed parquet store
    * — the same bytes serving reads; each posting file that lands in
    * the store is a micro-batch arrival), per-list occupancy is the
    * streaming state (one count cell per list — the bounded-monoid
    * discipline, k cells total), and complete mode re-emits the
    * running occupancy every batch: successive emissions ARE the
    * per-batch occupancy deltas a dashboard plots. The ppm share and
    * FAISS imbalance factor derive on the k-row SINK table where the
    * totals are a broadcast scalar. Oracle: the batch a42 SQL — the
    * coarse-assignment replay grouped by list, so the streamed state
    * also re-proves the artifact fresh. StreamingSpec pins the
    * restart: occupancy recovered from the checkpoint, no file
    * replayed, resumed counts equal the single-batch groupBy. */
  def streamIndexBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, ProductQuantizer}
    val (model, resid) = ModelCache.ivfPqIndex(spark, dir)
    val basePath = IndexStore.publishPath(
      s"ivfpq_16-8-16-2_fit2x_post|$dir|fp=${ModelCache.fp(dir)}")
    // materialize/publish exactly like a42 (no-op when a prior JVM
    // already did) — then the stream tails the artifact directory
    val postings = IndexStore.loadOrPublishPostings(spark, basePath) {
      ProductQuantizer.encodeIvfPqPostings(resid, model)
    }
    val streamDir =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(basePath)))
        basePath
      else { // unpublishable store: stage to a JVM temp dir and tail that
        val tmp = java.nio.file.Files.createTempDirectory("graft_s33_post")
        tmp.toFile.deleteOnExit()
        postings.write.mode("overwrite").parquet(tmp.toString)
        tmp.toString
      }
    s33Oracle = Some(Relational13.a42OracleSql(model.centsQ))
    val schema = spark.read.parquet(streamDir).schema
    val counts = spark.readStream.schema(schema).parquet(streamDir)
      .groupBy(col("cluster").cast("int").as("list_id"))
      .agg(count(lit(1)).as("n_vec"))
    val occ = awaitMemorySink(counts, "complete")
    occ.crossJoin(broadcast(
        occ.agg(sum(col("n_vec")).as("n_tot"),
          count(lit(1)).as("n_lists"))))
      .select(col("list_id"), col("n_vec"),
        expr("(n_vec * 1000000L) div n_tot").as("share_ppm"),
        expr("(n_vec * n_lists * 1000000L) div n_tot").as("imbalance_ppm"))
      .orderBy(col("list_id"))
  }

  @volatile private var s33Oracle: Option[String] = None

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s33_stream_index_balance" -> streamIndexBalance _,
    "s24_stream_basket" -> streamBasketRules _,
    "s25_stream_twa" -> streamTwa _,
    "s26_stream_cusum" -> streamCusum _,
    "s23_stream_novelty" -> streamNoveltyMonitor _,
    "s22_stream_range_alerts" -> streamRangeAlerts _,
    "s21_stream_transitions" -> streamTransitions _,
    "s19_stream_weighted_sample" -> streamWeightedSample _,
    "s20_stream_quantiles" -> streamSampleQuantiles _,
    "s18_stream_search"   -> streamBm25 _,
    "s17_stream_countmin" -> streamCountMin _,
    "s16_stream_outer_interval_join" -> streamPurchaseViewsOuter _,
    "s15_stream_embedding_drift" -> streamEmbeddingDrift _,
    "s14_stream_dedup_watermarked" -> streamDedupWatermarked _,
    "s13_stream_throttle" -> streamThrottle _,
    "s12_stream_urldedup" -> streamUrlDedup _,
    "s11_stream_cdc"      -> streamCdcMerge _,
    "s01_stream_hourly"   -> streamHourly _,
    "s02_stream_dedup"    -> streamDedup _,
    "s03_stream_sessions" -> streamSessions _,
    "s04_stream_interval_join" -> streamPurchaseViews _,
    "s05_stream_embed"    -> streamEmbedPipeline _,
    "s06_stream_approx_distinct" -> streamApproxDistinct _,
    "s07_stream_neardedup" -> streamNearDedup _,
    "s08_stream_kmv"      -> streamKmvDistinct _,
    "s09_stream_hopping"  -> streamHopping _,
    "s10_stream_session_window" -> streamSessionWindow _,
    "s27_stream_session_flush" -> streamSessionFlush _,
    "s28_stream_index_ingest" -> streamIndexIngest _,
    "s29_stream_adpcm_monitor" -> streamAdpcmMonitor _,
    "s30_stream_flac_monitor" -> streamFlacMonitor _,
    "s31_stream_quality_distill" -> streamQualityDistill _,
    "s32_stream_quality_anomalies" -> streamQualityAnomalies _)

  def oracles: Map[String, String] = Map(
    // s31: the batch q55 oracle verbatim — one bounded replay delivers
    // every row, so the streamed sufficient statistics must equal the
    // batch scan's and the solve is the same column algebra
    "s31_stream_quality_distill" ->
      Relational14.oracles("q55_quality_distill"),
    // s32: one bounded replay scores exactly the corpus the static
    // model trained on — the batch q56 SQL verbatim
    "s32_stream_quality_anomalies" ->
      Relational14.oracles("q56_quality_anomalies"),
    // s27: batch gap reconstruction under the session_window boundary
    // convention (gap >= 30 min starts a session; q10 uses >), with
    // q10's count/value aggregates and per-user session numbering
    "s27_stream_session_flush" ->
      """WITH g AS (SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_id""".stripMargin,
    // s24 == batch q50: pair emission is exactly-once per unordered
    // pair and supports are membership counts — both count monoids
    "s24_stream_basket" -> Relational13.oracles("q50_basket_rules"),
    // s25 == batch q51: per-key last-reading state makes interval
    // emission prefix-decomposable, so the stream equals the lead() form
    "s25_stream_twa" -> Relational13.oracles("q51_time_weighted_avg"),
    // s26 == batch q52: streamed daily counts equal the batch groupBy,
    // and the CUSUM readout is the same closed-form windows
    "s26_stream_cusum" -> Relational13.oracles("q52_cusum_changepoint"),
    // s22 == batch a26: the corpus is static, queries never interact,
    // so the per-trigger range answers union to the one-shot search
    "s22_stream_range_alerts" -> Relational11.oracles("a26_range_search"),
    // s23: the oracle re-derives the even-snapshot coreset relationally
    // (the a30 CTE chain), takes c11's mind as the coverage-radius²
    // threshold, and replays the odd-stream distance scan
    "s23_stream_novelty" -> {
      val centers = (0 until 12).map(i => s"SELECT vq FROM c$i")
        .mkString(" UNION ALL ")
      s"""WITH ${Relational11.a30OracleCtes(12, "AND vec_id % 2 = 0")},
         |centers AS (SELECT vq FROM ($centers) AS u),
         |thr AS (SELECT mind AS t FROM c11),
         |s AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS vq
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 = 1),
         |d AS (SELECT s.vec_id, min(CAST(list_sum(list_transform(
         |    generate_series(1, len(s.vq)),
         |    i -> (s.vq[i] - c.vq[i]) * (s.vq[i] - c.vq[i]))) AS BIGINT))
         |      AS min_d2
         |  FROM s CROSS JOIN centers c GROUP BY 1)
         |SELECT d.vec_id, d.min_d2, CAST(d.min_d2 > t.t AS INT) AS is_novel
         |FROM d, thr t ORDER BY d.vec_id""".stripMargin
    },
    // s21 == batch q47: the per-user last-event state makes transition
    // emission prefix-decomposable, so the streamed edge multiset (and
    // every count/ppm derived from it) equals the batch lead() pairs
    "s21_stream_transitions" -> Relational11.oracles("q47_transitions"),
    // s19 == batch t29: deterministic scan-local keying + top-k under
    // a total order is arrival-order-free, so the streamed sample IS
    // the batch sample — the oracle is t29's SQL verbatim
    "s19_stream_weighted_sample" -> graft.operators.Sampling.oracleSql(
      "documents", "source", "doc_id", "n_chars", k = 50),
    // s20: DuckDB replays the salted hash, the per-flag bottom-256
    // multiset under (h, v6) order, and the a18-convention integer
    // quantile interpolation over the sample
    "s20_stream_quantiles" ->
      """WITH r AS (SELECT l_returnflag AS g,
        |    ('0x' || substr(md5('bk|' || CAST(l_orderkey AS VARCHAR)
        |      || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CAST(round(l_extendedprice * 1000000) AS BIGINT) AS v6
        |  FROM lineitem),
        |s AS (SELECT g, v6 FROM (
        |  SELECT g, v6, row_number() OVER (PARTITION BY g ORDER BY h, v6) AS rn
        |  FROM r) WHERE rn <= 256),
        |rk AS (SELECT g, v6, row_number() OVER (PARTITION BY g ORDER BY v6) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM s),
        |j AS (SELECT g, p, (p * (n - 1)) // 100 AS k, (p * (n - 1)) % 100 AS frac,
        |    rn, v6
        |  FROM rk CROSS JOIN (VALUES (50), (90), (99)) AS ps(p)
        |  WHERE rn = (p * (n - 1)) // 100 + 1 OR rn = (p * (n - 1)) // 100 + 2),
        |a AS (SELECT g, p, frac,
        |    min(CASE WHEN rn = k + 1 THEN v6 END) AS lo,
        |    max(CASE WHEN rn = k + 2 THEN v6 END) AS hi
        |  FROM j GROUP BY g, p, frac)
        |SELECT g AS l_returnflag, p, lo * (100 - frac) + COALESCE(hi, lo) * frac AS pctl_u
        |FROM a ORDER BY l_returnflag, p""".stripMargin,
    // s18 == batch a11: corpus statistics come from the static corpus
    // (batch-boundary-independent), queries never interact, so the
    // union of per-trigger rankings equals the one-shot batch ranking
    "s18_stream_search" -> CurationQueries.oracles("a11_bm25_topk"),
    // s17 == batch t25: counter cells are a count monoid, so the
    // streamed sketch equals the batch sketch whatever the batch
    // boundaries; the probe list is the same exact top-20
    "s17_stream_countmin" -> CurationQueries.oracles("t25_countmin_heavy"),
    // s16 == the batch LEFT OUTER interval join: the punctuation rows
    // advance the final watermark past every real purchase's match
    // deadline, so the outer state drains completely and the stream
    // equals the batch join (NULLS FIRST pins the one ordering choice
    // the engines default differently)
    "s16_stream_outer_interval_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
        |FROM events p LEFT JOIN events v
        |ON p.user_id = v.user_id
        |AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |AND v.event_type = 'view'
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.user_id, purchase_id, view_id NULLS FIRST""".stripMargin,
    // s15 == the batch a22 drift: the streaming aggregation maintains
    // the same monoid partials one batch pass computes
    "s15_stream_embedding_drift" ->
      Relational10.oracles("a22_embedding_drift"),
    // s14 == batch DISTINCT: one bounded replay advances the watermark
    // only between batches, so no dedup state expires before its
    // duplicates arrive (ts formatted AFTER the distinct, both engines)
    "s14_stream_dedup_watermarked" ->
      """SELECT user_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM (SELECT DISTINCT user_id, event_type,
        |  date_trunc('second', ts) AS ts FROM events)
        |ORDER BY user_id, event_type, ts_s""".stripMargin,
    // s13 == the batch q44 greedy chain: the anchor state carries the
    // same information whether events arrive in one batch or many
    "s13_stream_throttle" -> Relational9.oracles("q44_event_throttle"),
    // s12 == batch DISTINCT over the t31 canonicalization: one bounded
    // replay makes streaming dropDuplicates state equal batch distinct
    "s12_stream_urldedup" -> {
      val synth = graft.operators.UrlNorm.synthUrlSql
      s"""WITH u AS (SELECT doc_id, $synth AS url FROM documents)
         |SELECT DISTINCT ${graft.operators.UrlNorm.canonicalizeOracleSql("url")}
         |  AS canon_url
         |FROM u ORDER BY canon_url""".stripMargin
    },
    // s11 == the batch q39 contract: latest-wins state merges the same
    // way whether changes arrive in one batch or many
    "s11_stream_cdc" -> Relational8.oracles("q39_cdc_merge"),
    // s01 == the batch q09 contract: one bounded replay delivers every
    // event on time, so the watermark drops nothing
    "s01_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |count(*) AS n,
        |CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "s02_stream_dedup" ->
      """SELECT DISTINCT sha256(text) AS text_hash FROM documents
        |ORDER BY text_hash""".stripMargin,
    // s04 == the batch interval join: one replay puts every pair in the
    // same micro-batch, so nothing is held back or purged early
    "s04_stream_interval_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
        |FROM events p JOIN events v
        |ON p.user_id = v.user_id
        |AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |ORDER BY p.user_id, purchase_id, view_id""".stripMargin,
    // s05 == batch p08 verbatim: unified semantics, same stages, same
    // engine-exact embedder
    "s05_stream_embed" -> PipelineQueries.oracles("p08_embed_pipeline"),
    // s06 == the a06 HLL replay over events: one streaming aggregation,
    // register-monoid state, estimate arithmetic identical by spec
    "s06_stream_approx_distinct" -> {
      val leg = graft.operators.HyperLogLog.oracleLeg(
        "events", "event_type", "user_id", "u", "approx_users")
      s"""WITH est AS ($leg)
         |SELECT rf AS event_type, approx_users
         |FROM est ORDER BY event_type""".stripMargin
    },
    // s07 == d16's exact cross-corpus Jaccard, matched rows only (the
    // streamable plan must find the same matches the batch plan does)
    "s07_stream_neardedup" -> {
      val d16 = CurationQueries.oracles("d16_incremental_neardedup")
      // swap d16's closing keep-table projection for the matched table
      val matchedOnly = d16.replace(
        """SELECT t.id, m.base_match, m.best_jaccard
          |FROM today t LEFT JOIN m USING (id) ORDER BY t.id""".stripMargin,
        "SELECT id, base_match, best_jaccard FROM m ORDER BY id")
      require(matchedOnly != d16,
        "d16 oracle tail changed; update the s07 projection swap")
      matchedOnly
    },
    // s08 == the a16 KMV replay over events: bottom-k monoid state
    "s08_stream_kmv" -> {
      val leg = graft.operators.Kmv.oracleLeg(
        "events", "event_type", "user_id", "ku", "kmv_users")
      s"""WITH est AS ($leg)
         |SELECT grp AS event_type, kmv_users
         |FROM est ORDER BY event_type""".stripMargin
    },
    // s09 == batch q34: one replay delivers every event on time, so the
    // watermark holds back no hopping window
    "s09_stream_hopping" -> Relational7.oracles("q34_hopping"),
    // s10: session_window merges events with gap < 30 min (an event AT
    // the boundary opens a new session → >= in the gap test); end =
    // last event + gap
    "s10_stream_session_window" ->
      """WITH f AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |    AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "s03_stream_sessions" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events),
        |flagged AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 1800
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_id""".stripMargin) ++
    // s28 == batch a36: the streaming aggregation maintains the same
    // per-(list, half) monoid partials one batch pass computes, against
    // the same deterministically-trained frozen centroids
    s28Oracle.map("s28_stream_index_ingest" -> _) ++
    // s29: p36's recursive nibble replay, aggregated per bucket — the
    // streamed decode totals are sample-exact against DuckDB
    Map("s29_stream_adpcm_monitor" ->
      s"""WITH RECURSIVE docs AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
        |stepT(si, step) AS (VALUES ${PipelineQueries.imaStepVals}),
        |adjT(nb, adj) AS (VALUES (0,-1),(1,-1),(2,-1),(3,-1),(4,2),(5,4),(6,6),(7,8)),
        |nibs AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |    CAST((doc_id*7 + i*13) % 16 AS INT) AS nib
        |  FROM docs, range(16) r(i)),
        |dec AS (
        |  SELECT doc_id, 0 AS i,
        |    CAST(doc_id % 1000 - 500 AS INT) AS pred,
        |    CAST(doc_id % 89 AS INT) AS idx
        |  FROM docs
        |  UNION ALL
        |  SELECT d.doc_id, d.i + 1,
        |    CAST(greatest(-32768, least(32767, d.pred +
        |      CASE WHEN n.nib >= 8 THEN -1 ELSE 1 END *
        |      ((s.step // 8)
        |       + CASE WHEN (n.nib % 8) >= 4 THEN s.step ELSE 0 END
        |       + CASE WHEN (n.nib % 4) >= 2 THEN s.step // 2 ELSE 0 END
        |       + CASE WHEN (n.nib % 2) = 1 THEN s.step // 4 ELSE 0 END))) AS INT),
        |    CAST(greatest(0, least(88, d.idx + a.adj)) AS INT)
        |  FROM dec d
        |  JOIN nibs n ON n.doc_id = d.doc_id AND n.i = d.i
        |  JOIN stepT s ON s.si = d.idx
        |  JOIN adjT a ON a.nb = n.nib % 8
        |  WHERE d.i < 16),
        |per AS (
        |  SELECT doc_id, count(*) AS n, max(abs(pred)) AS pk,
        |    sum(CAST(pred AS BIGINT) * pred) AS en
        |  FROM dec GROUP BY doc_id)
        |SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
        |  count(*) AS n_clips,
        |  CAST(sum(n) AS BIGINT) AS total_samples,
        |  CAST(max(pk) AS BIGINT) AS max_peak,
        |  CAST(sum(en) AS BIGINT) AS total_energy
        |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin) ++
    // s30: p37's sample-formula replay per bucket — FLAC is lossless,
    // so the streamed decode totals equal the formula's exactly
    Map("s30_stream_flac_monitor" ->
      """WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 7),
        |s AS (SELECT doc_id, r.i AS i,
        |    CAST(((r.i % (20 + doc_id % 30)) * 40 - 800)
        |      + ((doc_id * 7 + r.i * 13) % 16 - 8) AS BIGINT) AS v
        |  FROM docs, range(127) r(i)
        |  WHERE r.i < 64 + doc_id % 64),
        |per AS (SELECT doc_id, count(*) AS n,
        |    CAST((64 + doc_id % 64 + 63) // 64 AS BIGINT) AS nf,
        |    max(abs(v)) AS pk, sum(v * v) AS en
        |  FROM s GROUP BY doc_id)
        |SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
        |  count(*) AS n_clips,
        |  CAST(sum(n) AS BIGINT) AS total_samples,
        |  CAST(sum(nf) AS BIGINT) AS total_frames,
        |  CAST(max(pk) AS BIGINT) AS max_peak,
        |  CAST(sum(en) AS BIGINT) AS total_energy
        |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin) ++
    // s33 == batch a42: occupancy cells are a count monoid over the
    // served artifact, so the streamed state equals the batch groupBy
    // whatever the file/batch boundaries; the oracle's assignment
    // replay re-proves artifact freshness through the stream too.
    // Fallback (r12 advice): derive eagerly from the memoized ivf-pq
    // model when s33 itself didn't run in this JVM but a sibling
    // trained the index — same a42 pattern, instead of silently
    // omitting the key.
    s33Oracle.orElse(
        ModelCache.peekIvfPqModel.map(m => Relational13.a42OracleSql(m.centsQ)))
      .map("s33_stream_index_balance" -> _)
}
