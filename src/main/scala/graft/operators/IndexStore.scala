package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persist / restore trained ANN index models — the production half of
  * the train-once-serve-many contract ([[graft.queries.ModelCache]]
  * covers one JVM; a real deployment trains on one cluster, writes the
  * model next to the corpus, and every serving job loads it — the
  * reference's vector-DB ecosystem does exactly this with its index
  * snapshots).
  *
  * Layout: `<path>/model.bin`, a single driver-written binary file
  * (magic + kind tag + big-endian longs; doubles stored as
  * doubleToRawLongBits — bit-exact round-trip by construction, for
  * every value including NaN payloads). r13: the previous layout was
  * 1–3 tiny parquet subdirs per model, each written and re-read
  * through its own Spark job — per model-build invocation that was
  * 2–6 scheduler/commit round-trips moving a few KB of DRIVER-LOCAL
  * data (the guide §5 inverse: model-sized state has no business on
  * the cluster). Artifacts stay model-sized (coarseK + m·k rows);
  * corpus-sized POSTINGS artifacts remain partitioned parquet below.
  * A reloaded model serves searches identical to the trainer's own
  * (IndexStoreSpec pins result equality, not just field equality);
  * an old-layout (parquet-subdir) tree has no model.bin, fails the
  * load loudly, and is deleted + retrained once — the documented
  * version-skew behavior. */
object IndexStore {

  private val Magic = 0x47524654 // "GRFT"
  private object Kind {
    val IvfPq = 1; val Pq = 2; val Kmeans = 3; val Sq8 = 4
  }

  /** All load-side structural failures surface as
    * IllegalArgumentException — the `isCorrupt` signature the
    * loadOrPublish* retry discipline keys on. */
  private def corrupt(msg: String): Nothing =
    throw new IllegalArgumentException(s"IndexStore: corrupt artifact — $msg")

  /** IndexStore paths are DRIVER-LOCAL filesystem paths (java.nio) —
    * r13 moved the model save/load from Spark parquet jobs to direct
    * file I/O for the KB-sized models, so an hdfs:// or s3:// URI
    * would now silently write to an odd local directory instead of
    * the remote store (r13 advice #3). Fail loudly instead. */
  private def requireLocalPath(path: String): Unit =
    require(!path.contains("://"),
      s"IndexStore paths must be driver-local filesystem paths, got $path " +
        "(URI-schemed stores are not supported by the binary model store)")

  private def writeBin(path: String)(body: java.io.DataOutputStream => Unit): Unit = {
    requireLocalPath(path)
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    scala.util.Using.resource(new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(
        dir.resolve("model.bin")))))(body)
  }

  private def readBin[A](path: String, kind: Int)
                        (body: java.io.DataInputStream => A): A = {
    requireLocalPath(path)
    val f = java.nio.file.Paths.get(path, "model.bin")
    if (!java.nio.file.Files.isRegularFile(f))
      corrupt(s"no model.bin under $path (old-layout or half-written tree)")
    try scala.util.Using.resource(new java.io.DataInputStream(
      new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(f)))) { in =>
      if (in.readInt() != Magic) corrupt("bad magic")
      val kd = in.readInt()
      if (kd != kind) corrupt(s"kind $kd, expected $kind")
      body(in)
    } catch {
      case e: IllegalArgumentException => throw e
      case e: java.io.IOException =>
        corrupt(s"unreadable model.bin (${e.getClass.getSimpleName})")
    }
  }

  private def writeLongs(out: java.io.DataOutputStream, xs: Array[Long]): Unit = {
    out.writeInt(xs.length)
    xs.foreach(out.writeLong)
  }

  private def readLongs(in: java.io.DataInputStream): Array[Long] = {
    val n = in.readInt()
    if (n < 0 || n > (1 << 24)) corrupt(s"implausible array length $n")
    Array.fill(n)(in.readLong())
  }

  def saveIvfPq(spark: SparkSession, model: ProductQuantizer.IvfPqModel,
                path: String): Unit =
    writeBin(path) { out =>
      out.writeInt(Magic); out.writeInt(Kind.IvfPq)
      out.writeInt(model.subDim); out.writeInt(model.m); out.writeInt(model.k)
      out.writeLong(model.scale)
      out.writeInt(model.centsQ.length)
      model.centsQ.foreach(writeLongs(out, _))
      out.writeInt(model.booksQ.length)
      model.booksQ.foreach { book =>
        out.writeInt(book.length)
        book.foreach(writeLongs(out, _))
      }
    }

  def loadIvfPq(spark: SparkSession, path: String)
      : ProductQuantizer.IvfPqModel =
    readBin(path, Kind.IvfPq) { in =>
      val subDim = in.readInt(); val m = in.readInt(); val k = in.readInt()
      // validate EVERY structural field the way nc is validated (r13
      // advice #1): a corrupt header where nb == m used to throw
      // NegativeArraySizeException — not IllegalArgumentException — so
      // the loadOrPublish isCorrupt discipline classified it transient
      // and the bad artifact was never deleted (every call retrained
      // instead of repairing once); huge values could also allocate
      // before reading (OOM instead of a clean corrupt()).
      if (subDim <= 0 || subDim > (1 << 16)) corrupt(s"implausible subDim=$subDim")
      if (m <= 0 || m > (1 << 16)) corrupt(s"implausible m=$m")
      if (k <= 0 || k > (1 << 20)) corrupt(s"implausible k=$k")
      val scale = in.readLong()
      if (scale <= 0) corrupt(s"implausible scale=$scale")
      val nc = in.readInt()
      if (nc <= 0 || nc > (1 << 24)) corrupt(s"implausible centroid count $nc")
      val cents = Array.fill(nc)(readLongs(in))
      val nb = in.readInt()
      // the dense-codes invariant of the old layout, kept as explicit
      // shape checks: m books of exactly k codes each
      if (nb != m) corrupt(s"codebook count $nb, expected m=$m (dense codes)")
      val books = Array.fill(nb) {
        val bk = in.readInt()
        if (bk != k) corrupt(s"codebook size $bk, expected k=$k (dense codes)")
        Array.fill(bk)(readLongs(in))
      }
      ProductQuantizer.IvfPqModel(cents, books, subDim, m, k, scale)
    }

  /** The SHARED (cross-JVM, non-pid-tagged) artifact root: unlike
    * GraphCache's per-JVM trees, an index artifact's whole point is to
    * OUTLIVE the JVM that trained it — the next serving process loads
    * it instead of retraining. Override with GRAFT_INDEX_STORE.
    *
    * The default root is PER-USER (`graft_index_store_<user>` under
    * java.io.tmpdir): a fixed world-shared /tmp path would let another
    * user pre-create the root (degrading every publish to in-memory
    * retraining) or plant a poisoned model artifact that later JVMs
    * trust and serve. Cross-JVM sharing within one user — the actual
    * train-once-serve-many contract — is unaffected; cross-USER
    * sharing opts in explicitly via GRAFT_INDEX_STORE on a volume
    * whose permissions the operator controls. */
  def publishRoot: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("GRAFT_INDEX_STORE",
      System.getProperty("java.io.tmpdir") + "/graft_index_store_" +
        System.getProperty("user.name", "anon")
          .replaceAll("[^A-Za-z0-9._-]+", "_")))

  /** Deterministic artifact path for (key) under [[publishRoot]] —
    * version the key with the model parameters so a parameter change
    * never serves a stale shape. The key-hash suffix keeps keys that
    * differ only in sanitized characters on DISTINCT paths (r9 review:
    * two corpus dirs collapsing to one path would silently serve each
    * other's model); MD5 over the raw key is deterministic across
    * JVMs, which the cross-JVM publish contract requires. */
  def publishPath(key: String): String =
    publishRoot.resolve(key.replaceAll("[^A-Za-z0-9.-]+", "_") +
      "_" + graft.core.Fs.keyHash(key)).toString

  /** Delete every entry under [[publishRoot]] (bench hygiene, r13 —
    * the [[graft.queries.GraphCache.sweepSharedStore]] twin): a prior
    * JVM's published models would turn the bench's timed `art_*`
    * model-build rows into store reads (cross-run result caching).
    * The bench sweeps once at startup; production never sweeps. */
  private[graft] def sweepPublishRoot(): Unit =
    try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.list(publishRoot))(s =>
        s.iterator().asScala.toList).foreach(deleteTree)
    } catch { case _: Throwable => () }

  /** Load the artifact at `path` if a prior JVM (or this one) published
    * it; otherwise `train`, publish ATOMICALLY, and read the artifact
    * back. EVERY caller serves from the parquet artifact — the serve
    * path is bit-identical whether this process trained or a foreign
    * one did (train-once-serve-many across process boundaries).
    *
    * Concurrency/crash safety: the trainer writes to a pid-tagged
    * sibling and atomically renames into place — a concurrent publisher
    * losing the race deletes its copy and loads the winner's; a JVM
    * killed mid-write leaves only a `.tmp.` sibling (swept here), never
    * a half-visible artifact. A load failure (version skew, partial
    * legacy tree) deletes the artifact and retrains once. */
  def loadOrPublishIvfPq(spark: SparkSession, path: String)
                        (train: => ProductQuantizer.IvfPqModel)
      : ProductQuantizer.IvfPqModel = {
    requireLocalPath(path)
    val p = java.nio.file.Paths.get(path)
    // A load failure must only DELETE the shared artifact when the
    // artifact itself is bad (corrupt/partial/version-skewed tree) —
    // deleting on ANY exception would let a transient failure in one
    // process (interrupted job, fs hiccup, executor OOM) yank the
    // artifact out from under a concurrent reader in another JVM.
    // Corruption signatures: the require() guards (dense ids, one
    // params row) and Spark's analysis errors (missing subdir, schema
    // mismatch). Fatal errors (OOM) and interrupts propagate via
    // NonFatal; other non-fatal load errors retrain WITHOUT deleting.
    def isCorrupt(e: Throwable): Boolean = e match {
      case _: IllegalArgumentException => true // require() guards
      case _: org.apache.spark.sql.AnalysisException => true
      case _ => e.getCause != null && e.getCause.ne(e) && isCorrupt(e.getCause)
    }
    def tryLoad(): Option[ProductQuantizer.IvfPqModel] =
      if (!java.nio.file.Files.isDirectory(p)) None
      else try Some(loadIvfPq(spark, path))
      catch {
        case e if isCorrupt(e) => deleteTree(p); None
        case scala.util.control.NonFatal(_) => None // transient: keep tree
      }
    tryLoad().getOrElse {
      val model = train
      publishAtomically(path)(tmp => saveIvfPq(spark, model, tmp))
      tryLoad().getOrElse(model) // unpublishable store: serve the trained one
    }
  }

  /** Atomic cross-JVM publish of an arbitrary artifact directory: the
    * writer fills a pid-tagged sibling, then renames into place — the
    * same crash/race discipline as [[loadOrPublishIvfPq]] (a JVM killed
    * mid-write leaves only a swept `.tmp.` sibling; a lost race
    * deletes its copy and the caller reads the winner's). Best-effort:
    * a read-only store degrades silently; callers always re-read the
    * destination and fall back if absent. */
  def publishAtomically(path: String)(write: String => Unit): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = p.resolveSibling(
      p.getFileName.toString + s".tmp.${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    // sweep dead publishers' orphaned .tmp trees (same-dir, best-effort)
    try {
      import scala.jdk.CollectionConverters._
      val parent = p.getParent
      if (parent != null && java.nio.file.Files.isDirectory(parent))
        java.nio.file.Files.list(parent).iterator().asScala.toSeq
          .filter { d =>
            val n = d.getFileName.toString
            n.startsWith(p.getFileName.toString + ".tmp.") &&
              n.substring(n.lastIndexOf('.') + 1).toLongOption.exists(
                pid => try !ProcessHandle.of(pid).isPresent
                       catch { case _: Throwable => false })
          }.foreach(deleteTree)
    } catch { case _: Throwable => () }
    // BEST-EFFORT end to end: a store that cannot be written
    // (read-only volume, foreign-owned root, disk full) must degrade
    // to the caller's in-memory fallback, never fail the query — the
    // write AND the rename sit inside the guard
    try {
      write(tmp.toString)
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Throwable => deleteTree(tmp) } // lost race / bad fs
  }

  /** Load the POSTINGS artifact (the encoded corpus: one (id, cluster,
    * codes) row per vector — [[ProductQuantizer.encodeIvfPqPostings]])
    * at `path`, building and publishing it atomically if absent. The
    * postings are corpus-sized, so unlike the model artifact they are
    * written PARTITIONED (no coalesce) — at scale this is the posting
    * file a vector store keeps next to its index snapshot. */
  def loadOrPublishPostings(spark: SparkSession, path: String)
                           (build: => DataFrame): DataFrame = {
    requireLocalPath(path)
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) {
      publishAtomically(path) { tmp =>
        build.write.mode("overwrite").parquet(tmp)
      }
    }
    if (java.nio.file.Files.isDirectory(p)) spark.read.parquet(path)
    else build // unpublishable store: serve the in-memory frame
  }

  /** Persist a flat PQ [[ProductQuantizer.Model]] (double codebooks —
    * stored as doubleToRawLongBits, bit-exact round-trip, so a loaded
    * model encodes bit-identically to the trained one). */
  def savePq(spark: SparkSession, model: ProductQuantizer.Model,
             path: String): Unit =
    writeBin(path) { out =>
      out.writeInt(Magic); out.writeInt(Kind.Pq)
      out.writeInt(model.m); out.writeInt(model.k); out.writeInt(model.subDim)
      model.codebooks.foreach { book =>
        out.writeInt(book.length)
        book.foreach(v =>
          writeLongs(out, v.map(java.lang.Double.doubleToRawLongBits)))
      }
    }

  def loadPq(spark: SparkSession, path: String): ProductQuantizer.Model =
    readBin(path, Kind.Pq) { in =>
      val m = in.readInt(); val k = in.readInt(); val subDim = in.readInt()
      if (m <= 0 || m > (1 << 16)) corrupt(s"implausible m=$m")
      if (k <= 0 || k > (1 << 20)) corrupt(s"implausible k=$k")
      if (subDim <= 0 || subDim > (1 << 16)) corrupt(s"implausible subDim=$subDim")
      val books = Array.fill(m) {
        val bk = in.readInt()
        if (bk != k) corrupt(s"codebook size $bk, expected k=$k (dense codes)")
        Array.fill(bk)(readLongs(in).map(java.lang.Double.longBitsToDouble))
      }
      ProductQuantizer.Model(m, k, subDim, books)
    }

  /** [[loadOrPublishIvfPq]] for the flat PQ model: load if any JVM
    * published it, else train + publish atomically, same
    * corruption-vs-transient load discipline. */
  def loadOrPublishPq(spark: SparkSession, path: String)
                     (train: => ProductQuantizer.Model)
      : ProductQuantizer.Model = {
    requireLocalPath(path)
    val p = java.nio.file.Paths.get(path)
    def isCorrupt(e: Throwable): Boolean = e match {
      case _: IllegalArgumentException => true
      case _: org.apache.spark.sql.AnalysisException => true
      case _ => e.getCause != null && e.getCause.ne(e) && isCorrupt(e.getCause)
    }
    def tryLoad(): Option[ProductQuantizer.Model] =
      if (!java.nio.file.Files.isDirectory(p)) None
      else try Some(loadPq(spark, path))
      catch {
        case e if isCorrupt(e) => deleteTree(p); None
        case scala.util.control.NonFatal(_) => None // transient: keep tree
      }
    tryLoad().getOrElse {
      val model = train
      publishAtomically(path)(tmp => savePq(spark, model, tmp))
      tryLoad().getOrElse(model)
    }
  }

  /** Persist a plain k-means coarse quantizer (the a08 IVF list model):
    * quantized long centroids — exact round-trip (the saveIvfPq
    * rationale, minus codebooks). */
  def saveKmeans(spark: SparkSession, centroidsQ: Array[Array[Long]],
                 path: String): Unit =
    writeBin(path) { out =>
      out.writeInt(Magic); out.writeInt(Kind.Kmeans)
      out.writeInt(centroidsQ.length)
      centroidsQ.foreach(writeLongs(out, _))
    }

  def loadKmeans(spark: SparkSession, path: String): Array[Array[Long]] =
    readBin(path, Kind.Kmeans) { in =>
      val n = in.readInt()
      if (n <= 0 || n > (1 << 24)) corrupt(s"implausible centroid count $n")
      Array.fill(n)(readLongs(in))
    }

  /** Persist an SQ8 scalar-quantization model (a25): the per-dim
    * integer bounds + scale — exact round-trip (the saveKmeans
    * rationale). */
  def saveSq8(spark: SparkSession, model: Sq8.Model, path: String): Unit =
    writeBin(path) { out =>
      out.writeInt(Magic); out.writeInt(Kind.Sq8)
      writeLongs(out, model.minQ)
      writeLongs(out, model.maxQ)
      out.writeLong(model.scale)
    }

  def loadSq8(spark: SparkSession, path: String): Sq8.Model =
    readBin(path, Kind.Sq8) { in =>
      val mn = readLongs(in)
      val mx = readLongs(in)
      if (mn.length != mx.length || mn.isEmpty)
        corrupt("sq8 bounds must be equal-length and non-empty")
      Sq8.Model(mn, mx, in.readLong())
    }

  /** [[loadOrPublishKmeans]] for the SQ8 bounds model — same
    * corruption-vs-transient load discipline. */
  def loadOrPublishSq8(spark: SparkSession, path: String)
                      (train: => Sq8.Model): Sq8.Model = {
    requireLocalPath(path)
    val p = java.nio.file.Paths.get(path)
    def isCorrupt(e: Throwable): Boolean = e match {
      case _: IllegalArgumentException => true
      case _: org.apache.spark.sql.AnalysisException => true
      case _ => e.getCause != null && e.getCause.ne(e) && isCorrupt(e.getCause)
    }
    def tryLoad(): Option[Sq8.Model] =
      if (!java.nio.file.Files.isDirectory(p)) None
      else try Some(loadSq8(spark, path))
      catch {
        case e if isCorrupt(e) => deleteTree(p); None
        case scala.util.control.NonFatal(_) => None // transient: keep tree
      }
    tryLoad().getOrElse {
      val model = train
      publishAtomically(path)(tmp => saveSq8(spark, model, tmp))
      tryLoad().getOrElse(model)
    }
  }

  /** [[loadOrPublishIvfPq]] for the coarse k-means quantizer: load if
    * any JVM published it, else train + publish atomically, same
    * corruption-vs-transient load discipline. */
  def loadOrPublishKmeans(spark: SparkSession, path: String)
                         (train: => Array[Array[Long]])
      : Array[Array[Long]] = {
    requireLocalPath(path)
    val p = java.nio.file.Paths.get(path)
    def isCorrupt(e: Throwable): Boolean = e match {
      case _: IllegalArgumentException => true
      case _: org.apache.spark.sql.AnalysisException => true
      case _ => e.getCause != null && e.getCause.ne(e) && isCorrupt(e.getCause)
    }
    def tryLoad(): Option[Array[Array[Long]]] =
      if (!java.nio.file.Files.isDirectory(p)) None
      else try Some(loadKmeans(spark, path))
      catch {
        case e if isCorrupt(e) => deleteTree(p); None
        case scala.util.control.NonFatal(_) => None // transient: keep tree
      }
    tryLoad().getOrElse {
      val model = train
      publishAtomically(path)(tmp => saveKmeans(spark, model, tmp))
      tryLoad().getOrElse(model)
    }
  }

  /** Shard MERGE — the lifecycle verb after compaction: a production
    * vector store accumulates posting SEGMENTS (the base build, each
    * incremental ingest, each delete-then-re-ingest) and periodically
    * merges them into one segment so query-time candidate scans stop
    * paying per-segment overhead. Semantics are LATEST-WINS by id:
    * `parts` is ordered oldest → newest, and an id present in several
    * parts serves its NEWEST row (a re-ingested vector takes its new
    * encoding; a tombstoned-then-re-added id comes back). One
    * hash-shuffle on id (`max_by` over the part index — no window, no
    * sort), published atomically under `mergedPath`; an unwritable
    * store degrades to the in-memory merged frame, the
    * loadOrPublishPostings discipline.
    *
    * Correctness is CHECKED, not assumed: the a41 oracle row searches
    * from the merged artifact and hash-matches the full replay over
    * exactly the live id set — duplicate rows (a merge that forgot to
    * dedup) or resurrection/loss of a tombstoned id each break the
    * hash. */
  def mergePostings(spark: SparkSession, mergedPath: String,
                    parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergePostings: no segments to merge")
    val cols = parts.head.columns.filter(_ != "id")
    val tagged = parts.zipWithIndex.map { case (p, i) =>
      p.withColumn("__seg", lit(i))
    }.reduce(_.unionByName(_))
    val merged = tagged
      .groupBy(col("id"))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), col("__seg"))
        .as("__row"))
      .select(col("id") +: cols.map(c => col(s"__row.$c").as(c)): _*)
    loadOrPublishPostings(spark, mergedPath)(merged)
  }

  /** Index COMPACTION — the lifecycle's background GC: when the
    * tombstoned fraction of the postings at `basePath` is at least
    * `threshold`, rewrite them WITHOUT the dead ids and publish under
    * the compaction-tagged `compactPath`; below the threshold (or when
    * the compact artifact already exists) nothing is rewritten.
    * Query-time masking (a39) stays the hot path between compactions —
    * this only reclaims storage and candidate-scan width. Returns the
    * postings frame to serve from (compacted when triggered, else the
    * tombstone-masked base) — by per-vector independence of
    * assignment/encoding, serving from compacted postings is EXACTLY
    * equivalent to masking the base store at query time (the a40
    * oracle row hash-proves it against the masked replay). */
  def compactPostings(spark: SparkSession, basePath: String,
                      compactPath: String,
                      tombstone: org.apache.spark.sql.Column,
                      threshold: Double,
                      baseFallback: Option[DataFrame] = None)
  : (DataFrame, Boolean) = {
    // the base postings may never have PUBLISHED (read-only volume,
    // foreign-owned root — the exact degradations loadOrPublishPostings
    // absorbs by returning the in-memory frame). Compaction must
    // degrade the same way, not crash on the missing path (r9 review):
    // callers hand that in-memory frame through `baseFallback`.
    val base =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(basePath)))
        spark.read.parquet(basePath)
      else baseFallback.getOrElse(throw new IllegalStateException(
        s"IndexStore: no published postings at $basePath and no " +
          "in-memory fallback was provided — pass the frame " +
          "loadOrPublishPostings returned"))
    // normalize NULL tombstone values to LIVE once, and use the same
    // column in the threshold count, the mask, and the rewrite — the
    // aggregate previously counted null as live while filter(!t)
    // dropped the row (three-valued logic), silently vanishing
    // never-deleted ids whose tombstone came from a null-yielding
    // left join (r9 review)
    val ts = coalesce(tombstone, lit(false))
    val cp = java.nio.file.Paths.get(compactPath)
    // an EXISTING compact artifact still re-applies the CURRENT mask:
    // ids tombstoned after the compaction was published must not
    // resurface (r9 review — the early return served them live,
    // contradicting the masked-serve equivalence this scaladoc
    // promises). Between compactions the mask is a no-op on the
    // already-dropped ids and exact on the newly dead ones.
    if (java.nio.file.Files.isDirectory(cp))
      return (spark.read.parquet(compactPath).filter(!ts), true)
    val counts = base.agg(count(lit(1)),
      sum(when(ts, 1L).otherwise(0L))).collect()(0)
    val n = counts.getLong(0)
    // sum() over zero rows is NULL — read it null-safely or the
    // explicit n == 0 branch below is unreachable (r9 review: NPE on
    // an empty postings store)
    val dead = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    if (n == 0 || dead.toDouble / n < threshold)
      (base.filter(!ts), false)
    else {
      publishAtomically(compactPath) { tmp =>
        base.filter(!ts).write.mode("overwrite").parquet(tmp)
      }
      if (java.nio.file.Files.isDirectory(cp))
        (spark.read.parquet(compactPath), true)
      else (base.filter(!ts), false) // read-only store: mask only
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    graft.core.Fs.deleteTree(p)
}
