package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column — the IVF coarse-quantizer
  * trainer (the `label`-column IVF in [[Similarity.ivfTopK]] becomes
  * self-sufficient: train lists, then probe them).
  *
  * Deterministic throughout: init picks the k vectors with the smallest
  * ids (stable under re-runs and task retries); assignment breaks
  * distance ties by centroid index. Each iteration is one broadcast of
  * the k×dim centroid matrix + one narrow assignment pass + one centroid
  * recomputation ([[Centroids.byGroupBy]]) — no quadratic anything, and
  * the per-iteration shuffle carries (cluster, dim, partial-sum) rows
  * only.
  *
  * Assignment scores ALL k centroids in one pass over a broadcast
  * matrix (single UDF, O(k·dim) per row) rather than k per-centroid
  * expression columns — k is bounded by broadcast size (k·dim doubles,
  * e.g. 4096 lists × 768 dims ≈ 25 MB), not by codegen limits, which
  * caps the old column-per-centroid form at O(100).
  */
object KMeans {

  /** Argmin over squared-L2 distances to a broadcast centroid matrix;
    * ties break toward the lower centroid index. One pass, all k. */
  private def argminCluster(df: DataFrame, vecCol: String,
                            centroids: Array[Array[Double]]): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    // boxed return so a null vector yields a null cluster (matching the
    // old expression pipeline's null propagation) instead of an NPE
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val cs = bc.value
        var best = 0
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          var d = 0.0
          var j = 0
          val dim = math.min(c.length, v.length)
          while (j < dim) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        Int.box(best)
      }
    }
    // asNondeterministic: the argmin IS pure, but downstream equi-joins
    // on the produced `cluster` column make InferFiltersFromConstraints
    // add isnotnull(cluster), and PushDownPredicates then substitutes
    // the WHOLE UDF into the pushed filter — the k·dim distance scan
    // runs twice per row (once in Filter, once in Project; r11 verdict,
    // seen in the a08/a36 plans; KMeansSpec pins the fixed shape).
    // Blocking pushdown keeps the null-guard above the project,
    // evaluating isnotnull on the already-computed column.
    f.asNondeterministic()(expr(s"transform($vecCol, x -> cast(x as double))"))
  }

  /** Value cap (rows × dim) under which [[fit]] trains on the driver
    * (r13): at training-subset size the distributed chain is pure
    * scheduling/codegen overhead — 2 iterations over 2000×64 doubles
    * (1 MB) measured 3.8 s WARM on local[32], every second of it jobs,
    * AQE stages and per-stage codegen, none of it arithmetic. Below
    * the cap (default 4M values ≈ 32 MB of doubles) the projection is
    * collected ONCE (a bounded CollectLimit — the Profile discipline:
    * the collect itself is capped, not checked after the fact) and
    * Lloyd's runs locally with BIT-IDENTICAL arithmetic (same argmin
    * tie-break, same per-(cluster, dim) decimal(28,10)-quantized sums,
    * same double division and 9-digit HALF_UP round —
    * KMeansSpec pins regime equality). Above it, or for non-integral
    * ids or ragged vectors, the distributed trainer runs unchanged —
    * at 100 TB the guard costs one dim-probe row and a cap+1-row
    * CollectLimit, then never collects the corpus. Override with
    * spark.graft.trainer.localFitMaxValues. */
  private[operators] def localFitMaxValues(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.trainer.localFitMaxValues")
      .map(_.toLong).getOrElse(1L << 22)

  /** The exact element quantization of `cast(x as decimal(28,10))`:
    * BigDecimal.valueOf (the Double.toString canonicalization Spark's
    * Decimal(double) applies), then scale-10 HALF_UP. */
  private[operators] def dec10(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(10, java.math.RoundingMode.HALF_UP)

  /** The exact `round(m, 9)` of Spark's Round on DoubleType. */
  private[operators] def round9(m: Double): Double =
    java.math.BigDecimal.valueOf(m).setScale(9, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Driver-side Lloyd's over collected (id-sorted) vectors — the
    * local-regime twin of the distributed loop: argmin ties to the
    * lower index, per-(cluster, dim) means as decimal-quantized exact
    * sums / counts, double division, round 9, empty clusters keep
    * their previous centroid. Returns (final centroids, the centroids
    * the LAST assignment pass scored against — the distributed fit's
    * returned-assignments contract). */
  private def lloydLocal(vecs: Array[Array[Double]], k: Int, iterations: Int)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    var centroids: Array[Array[Double]] =
      vecs.take(k).map(_.clone)
    require(centroids.nonEmpty, "k-means needs a non-empty input")
    var prev = centroids
    var iter = 0
    while (iter < iterations) {
      prev = centroids
      val kk = centroids.length
      // callers guarantee uniform vector length (the fit guard)
      val sums = Array.ofDim[java.math.BigDecimal](kk, vecs(0).length)
      val cnts = Array.ofDim[Long](kk, vecs(0).length)
      vecs.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var i = 0
        while (i < kk) {
          val c = centroids(i)
          var d = 0.0
          var j = 0
          val dim = math.min(c.length, v.length)
          while (j < dim) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        var j = 0
        while (j < v.length) {
          val q = dec10(v(j))
          sums(best)(j) = if (sums(best)(j) == null) q else sums(best)(j).add(q)
          cnts(best)(j) += 1
          j += 1
        }
      }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        val maxDim = cnts(i).lastIndexWhere(_ > 0) + 1
        if (maxDim == 0) old
        else Array.tabulate(maxDim)(j =>
          round9(sums(i)(j).doubleValue() / cnts(i)(j).toDouble))
      }
      iter += 1
    }
    (centroids, prev)
  }

  /** Train k centroids; returns (assignments DF (id, cluster), centroids
    * as local array indexed by cluster id). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iterations: Int = 5): (DataFrame, Array[Array[Double]]) = {
    require(iterations >= 1, "k-means needs at least one iteration")
    // LOCAL REGIME (r13, guarded — see localFitMaxValues): probe the
    // dimension from one row, then a capped CollectLimit; if the whole
    // training projection fits, Lloyd's runs on the driver in two jobs
    // instead of ~2 + 3·iterations shuffle stages.
    val integralId = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (integralId) {
      val spark = df.sparkSession
      val projAll = df.select(col(idCol).cast("long").as("__id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("__v"))
      val dimRow = projAll.filter(col("__v").isNotNull)
        .select(size(col("__v"))).limit(1).collect()
      val dim = if (dimRow.isEmpty) 1 else math.max(1, dimRow(0).getInt(0))
      val capRows = math.max(1L, localFitMaxValues(spark) / dim)
      if (capRows <= Int.MaxValue) {
        val head = projAll.limit(capRows.toInt + 1).collect()
        // null ids fall through to the distributed path (r13 advice #2:
        // getLong(0) on a null id NPE'd here where the distributed
        // orderBy/limit tolerated them — same guard as the null
        // init-vector fall-through below)
        if (head.length <= capRows && head.forall(!_.isNullAt(0))) {
          val rows = head
            .map(r => (r.getLong(0),
              if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray))
            .sortBy(_._1)
          val vecs = rows.map(_._2).filter(_ != null)
          // uniform dimension only — the distributed loop's ragged-
          // input semantics (per-(grp, pos) counts) are mirrored by
          // lloydLocal, but init-row raggedness interacts with the
          // min(dim) argmin; keep the exotic case on the proven path
          if (vecs.nonEmpty && vecs.forall(_.length == vecs(0).length) &&
              // init takes the k smallest IDS regardless of vector
              // nullness (the distributed orderBy.limit contract) —
              // a null among them crashed the old path too; guard
              // here and fall through to it for bug-compat
              rows.take(math.min(k, rows.length)).forall(_._2 != null)) {
            val (cents, prevCents) = lloydLocal(vecs, k, iterations)
            return (assign(df, idCol, vecCol, prevCents)
              .select(col(idCol), col("cluster")), cents)
          }
        }
      }
    }
    // the trainer drives 1 + iterations actions over the same rows —
    // cache the 2-column projection once instead of re-scanning the
    // source per iteration (at 100 TB the input would be a sampled
    // training subset; the cache bounds to that subset, not the corpus).
    // Spread the subset across all cores: assignment is O(n·k·dim) CPU
    // and a small training file otherwise lands in ONE input partition,
    // serializing the whole fit. Results are partitioning-independent
    // (argmin is per-row pure; centroid means are exact decimal sums).
    val base = df.select(col(idCol), col(vecCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .cache()
    // deterministic init: the k smallest-id vectors; with fewer than k
    // rows the effective k shrinks to the row count
    var centroids: Array[Array[Double]] = base
      .orderBy(col(idCol)).limit(k)
      .select(expr(s"transform($vecCol, x -> cast(x as double))"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty, "k-means needs a non-empty input")

    var assigned: DataFrame = null
    var iter = 0
    while (iter < iterations) {
      assigned = base
        .select(col(idCol), col(vecCol),
          argminCluster(base, vecCol, centroids).as("cluster"))
      val newCentroids = Centroids.byGroupBy(assigned, "cluster", vecCol)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // empty clusters keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) => newCentroids.getOrElse(i, old) }
      iter += 1
    }
    // lazy unpersist: later evaluations of `assigned` recompute from the
    // source, which stays correct (assignment is a pure function of the
    // returned centroids)
    base.unpersist(false)
    (assigned.select(col(idCol), col("cluster")), centroids)
  }

  /** Assign an arbitrary dataframe to the trained lists (for IVF probe). */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol),
      argminCluster(df, vecCol, centroids).as("cluster"))

  /** Fixed-point exact assignment (the a14/d12 engine-exact pattern):
    * vectors are quantized to `scale`-scaled BIGINTs and the squared-L2
    * argmin against pre-quantized centroids runs in pure integer
    * arithmetic with index tiebreak — bit-replayable by a SQL twin
    * holding the `centroidsQ` literals, with no float-summation-order
    * hazard. [[assign]] remains the double-precision production
    * surface. */
  def assignExact(df: DataFrame, idCol: String, vecCol: String,
                  centroidsQ: Array[Array[Long]],
                  scale: Long = 1L << 20): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centroidsQ)
    val f = udf { (vq: Seq[Long]) =>
      if (vq == null) null
      else {
        val cs = bc.value
        var best = 0
        var bestD = Long.MaxValue
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          var d = 0L
          var j = 0
          val dim = math.min(c.length, vq.length)
          while (j < dim) { val x = vq(j) - c(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        Int.box(best)
      }
    }
    // asNondeterministic for the same reason as [[argminCluster]]: the
    // function is pure, but without it the join null-guard duplicates
    // the k-way integer distance scan below the Project (r11 verdict —
    // a08/a36 paid the k=256 scan twice per corpus row).
    df.select(col(idCol), col(vecCol),
      f.asNondeterministic()(quantized(vecCol, scale)).as("cluster"))
  }

  /** [[assignExact]] that ALSO returns the winning squared distance as
    * `r2` (r13): a36 re-derived it downstream with a centroid join plus
    * an interpreted `aggregate(zip_with(...))` per row — but the argmin
    * scan already holds bestD when it picks the cluster. Same
    * quantization, same tiebreak; r2 ≡ the distance the join+HOF form
    * recomputed, bit-exactly (integer arithmetic). */
  def assignExactWithDist(df: DataFrame, idCol: String, vecCol: String,
                          centroidsQ: Array[Array[Long]],
                          scale: Long = 1L << 20): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centroidsQ)
    val f = udf { (vq: Seq[Long]) =>
      if (vq == null) null
      else {
        val cs = bc.value
        var best = 0
        var bestD = Long.MaxValue
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          var d = 0L
          var j = 0
          val dim = math.min(c.length, vq.length)
          while (j < dim) { val x = vq(j) - c(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        (best, bestD)
      }
    }
    df.select(col(idCol), col(vecCol),
        f.asNondeterministic()(quantized(vecCol, scale)).as("__a"))
      .select(col(idCol), col(vecCol),
        col("__a._1").as("cluster"), col("__a._2").as("r2"))
  }

  /** Fixed-point multi-probe: each row explodes to its `p` nearest
    * lists by (integer distance, index) — [[assignTopP]] made
    * engine-exact the same way as [[assignExact]]. */
  def assignTopPExact(df: DataFrame, idCol: String, vecCol: String,
                      centroidsQ: Array[Array[Long]], p: Int,
                      scale: Long = 1L << 20): DataFrame = {
    require(p >= 1, "probe count must be >= 1")
    val bc = df.sparkSession.sparkContext.broadcast(centroidsQ)
    val pp = p
    val f = udf { (vq: Seq[Long]) =>
      if (vq == null) null
      else {
        val cs = bc.value
        cs.indices.map { i =>
          val c = cs(i)
          var d = 0L
          var j = 0
          val dim = math.min(c.length, vq.length)
          while (j < dim) { val x = vq(j) - c(j); d += x * x; j += 1 }
          (d, i)
        }.sorted.take(math.min(pp, cs.length)).map(_._2).toArray
      }
    }
    df.select(col(idCol), col(vecCol),
      explode_outer(f(quantized(vecCol, scale))).as("cluster"))
  }

  /** The vector quantization both exact paths and their SQL twins use:
    * round(x·scale) as BIGINT, via the SQL round() so the rounding mode
    * cannot drift across engines. */
  private def quantized(vecCol: String, scale: Long): Column =
    expr(s"transform($vecCol, x -> cast(round(cast(x as double) * $scale, 0) as bigint))")

  /** Multi-probe assignment: each row explodes to its `p` NEAREST lists
    * (distance order, index tiebreak). Probing several lists is how real
    * IVF trades compute for recall — a query near a list boundary finds
    * neighbors that fell just across it. `p = centroids.length`
    * degenerates to exact brute force over all lists. */
  def assignTopP(df: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]], p: Int): DataFrame = {
    require(p >= 1, "probe count must be >= 1")
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val pp = p
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val cs = bc.value
        // (distance, index) sorted ascending; ties break toward the
        // lower index — consistent with argminCluster for p = 1
        cs.indices.map { i =>
          val c = cs(i)
          var d = 0.0
          var j = 0
          val dim = math.min(c.length, v.length)
          while (j < dim) { val x = v(j) - c(j); d += x * x; j += 1 }
          (d, i)
        }.sorted.take(math.min(pp, cs.length)).map(_._2).toArray
      }
    }
    // explode_outer: a null-vector row survives with a null cluster,
    // matching assign()'s contract (plain explode would drop the row)
    df.select(col(idCol), col(vecCol),
      explode_outer(f(expr(s"transform($vecCol, x -> cast(x as double))"))).as("cluster"))
  }
}
