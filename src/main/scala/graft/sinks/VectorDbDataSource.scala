package graft.sinks

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.VectorRecord

/** DataSourceV2 writer — the one sink path of the ingest pipeline: the
  * vector-DB upserts (K1-K3) and the raw-embeddings webhook (K4), in
  * batch and streaming (`foreachBatch`) jobs alike, with commit-coordinated
  * driver-side accounting.
  *
  * ```
  * records.toDF().write
  *   .format("graft.sinks.VectorDbDataSource")
  *   .option("url", "http://host:6333").option("apiKey", k)
  *   .option("shape", "QDRANT").option("jobId", job)
  *   .mode("append").save()
  * ```
  *
  * `shape` is a [[VectorDbSinks.PayloadShape]] name: PINECONE, QDRANT,
  * WEAVIATE, or WEBHOOK (`url` is then the webhook URL itself and
  * `apiKey` its key).
  *
  * Semantics:
  *  - every task buffers `batchSize` (default 128) rows per POST, the
  *    reference's micro-batch size, each POST tried up to 3 times with
  *    backoff;
  *  - up to 4 batches are in flight per task, each encoded and POSTed
  *    off the task thread ([[InFlight]], the loop the embed stage also
  *    uses); `abort`/`close` drop only unsent rows and wait for the
  *    in-flight batches instead of interrupting them;
  *  - record ids are uuid5(jobId, partitionId, i) — identical on task
  *    RETRY, so a re-executed task overwrites its own rows (upsert
  *    idempotency is the abort story: aborted tasks need no undo); the
  *    webhook ships each row's own id;
  *  - a batch that fails every try is counted, not fatal (the
  *    reference's PARTIALLY_COMPLETED job, job_service.py:32-51), but a
  *    task whose every batch failed throws so that Spark retries it;
  *  - each task's commit message carries (uploaded, failed) counts;
  *    `BatchWrite.commit` aggregates them into
  *    [[VectorDbDataSource.lastCommitStats]] for the driver (the
  *    accounting the reference keeps in its Postgres ledger).
  *
  * Expected input schema: `id string, source_text string,
  * source_document string, vector array<float>` ([[VectorRecord]]).
  */
class VectorDbDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VectorDbDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VectorDbTable()
}

object VectorDbDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("source_text", StringType),
    StructField("source_document", StringType),
    StructField("vector", ArrayType(FloatType))))

  final case class CommitStats(uploaded: Long, failed: Long, tasks: Int)

  /** Stats of the most recent successful commit on this driver. */
  @volatile var lastCommitStats: Option[CommitStats] = None
}

private[sinks] class VectorDbTable extends Table with SupportsWrite {
  override def name(): String = "graft-vectordb"
  override def schema(): StructType = VectorDbDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options()
    val conf = VdbWriteConf(
      url = require(opts, "url"),
      apiKey = opts.getOrDefault("apiKey", ""),
      shapeName = require(opts, "shape"),
      jobId = opts.getOrDefault("jobId", "job"),
      batchSize = opts.getOrDefault("batchSize", Sinks.UpsertBatchSize.toString).toInt)
    // fail fast on an unknown shape at planning time, not mid-task
    VectorDbSinks.formatShape(conf.shapeName)
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new VdbBatchWrite(conf, schema)
      }
    }
  }

  private def require(opts: CaseInsensitiveStringMap, key: String): String = {
    val v = opts.get(key)
    if (v == null) throw new IllegalArgumentException(s"vector-DB writer needs option '$key'")
    v
  }
}

private[sinks] final case class VdbWriteConf(url: String, apiKey: String,
                                             shapeName: String, jobId: String,
                                             batchSize: Int)
  extends Serializable

private[sinks] final case class VdbCommit(uploaded: Long, failed: Long)
  extends WriterCommitMessage

private[sinks] class VdbBatchWrite(conf: VdbWriteConf, schema: StructType)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new VdbWriterFactory(conf, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val stats = messages.collect { case VdbCommit(u, f) => (u, f) }
    VectorDbDataSource.lastCommitStats = Some(VectorDbDataSource.CommitStats(
      stats.map(_._1).sum, stats.map(_._2).sum, messages.length))
  }

  /** Nothing to undo: uuid5(jobId, partition, i) ids make any rows a
    * failed attempt already shipped harmless — the retry overwrites
    * them (the reference's own idempotency design, README.md:210). */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sinks] class VdbWriterFactory(conf: VdbWriteConf, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VdbDataWriter(conf, schema, partitionId)
}

/** One task's writer. The task thread only cuts `batchSize`-row batches
  * and numbers their rows; up to 4 of them are encoded and POSTed at
  * once on an [[InFlight]] pool (threads
  * `graft-vdb-upsert-<partition>-<n>`), so a task buffers at most 5
  * batches. Outcomes are counted in submission order. */
private[sinks] class VdbDataWriter(conf: VdbWriteConf, schema: StructType,
                                   partitionId: Int)
    extends DataWriter[InternalRow] {

  private val shape = VectorDbSinks.formatShape(conf.shapeName)
  private val client = VectorDbSinks.httpClient()
  private val url = s"${conf.url}${shape.path}"
  private val headers = Seq(shape.authHeader(conf.apiKey))
  private val idxId = schema.fieldIndex("id")
  private val idxText = schema.fieldIndex("source_text")
  private val idxDoc = schema.fieldIndex("source_document")
  private val idxVec = schema.fieldIndex("vector")
  /** Upserts in flight, each settling as (sent?, rows). */
  private val upserts = new InFlight[(Boolean, Int)](limit = 4, "graft-vdb-upsert")
  private var buf = new ArrayBuffer[VectorRecord](conf.batchSize)
  private var i = 0
  private var uploaded = 0L
  private var failed = 0L

  override def write(row: InternalRow): Unit = {
    // null-safe: a poison row (null id/text/doc/vector) must not kill the
    // task — ship empties instead (uuid5 ids stay deterministic)
    val vec = if (row.isNullAt(idxVec)) Array.empty[Float]
              else row.getArray(idxVec).toFloatArray()
    def str(i: Int): String =
      if (row.isNullAt(i)) "" else row.getUTF8String(i).toString
    buf += VectorRecord(str(idxId), str(idxText), str(idxDoc), vec)
    if (buf.length >= conf.batchSize) submit()
  }

  private def submit(): Unit = if (buf.nonEmpty) {
    if (upserts.isFull) count(upserts.settle())
    val batch = buf
    val first = i
    buf = new ArrayBuffer[VectorRecord](conf.batchSize)
    i += batch.length
    upserts.submit((VectorDbSinks.postWithRetry(client, url, headers,
      shape.body(batch, conf.jobId, partitionId.toLong, first),
      VdbDataWriter.Attempts, baseDelayMs = 200L).isRight, batch.length))
  }

  private def count(upsert: (Boolean, Int)): Unit =
    if (upsert._1) uploaded += upsert._2 else failed += upsert._2

  override def commit(): WriterCommitMessage = {
    submit()
    while (!upserts.isEmpty) count(upserts.settle())
    // a task whose uploads ALL failed poisons the job: surface it as a
    // task failure so Spark retries (idempotent ids make that safe)
    if (failed > 0 && uploaded == 0)
      throw new java.io.IOException(s"all $failed upserts failed for partition $partitionId")
    VdbCommit(uploaded, failed)
  }

  /** Drops only the unsent rows: a submitted batch is an idempotent
    * upsert, so it is left to finish rather than interrupted. */
  override def abort(): Unit = {
    buf.clear()
    upserts.close()
  }

  override def close(): Unit = upserts.close()
}

private object VdbDataWriter {
  /** Tries per POST, the first included. */
  val Attempts = 3
}
