package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table profiling — the first thing a curation run does to 100 TB of
  * freshly-crawled parquet: per-column row/null/distinct counts and
  * value ranges, in ONE scan.
  *
  * Distinct counts come from the [[Kmv]] bottom-k sketch (exact below
  * k, ~1/√(k−2) relative error above, k·8 bytes of state per column)
  * rather than `COUNT(DISTINCT ...)`: Spark plans multi-column
  * distinct aggregates through an Expand node that replays the scan
  * once per distinct column — at 5 profiled columns that is 5× the
  * input volume through the shuffle. The sketch keeps the profile at
  * exactly one map-side-combined pass, and stays engine-exact
  * (DuckDB replays every hash — [[Kmv.oracleScalar]]).
  *
  * Everything else is algebraic (count / sum / min / max), so the
  * global aggregate ships one k-long buffer + 4 scalars per column
  * from each partition, never rows.
  */
object Profile {

  /** One profiled column: `name`, the native column (min/max use its
    * own type ordering — numeric min, not lexicographic), and its
    * canonical-string form (the distinct-hash input; must render
    * identically in Spark and DuckDB — cast ints/decimals, format
    * timestamps, leave strings). */
  case class ColSpec(name: String, native: Column, canon: Column)

  private val NullSentinel = "~null~"

  /** The profile: one row per [[ColSpec]] with
    * (col_name, n_rows, n_null, n_distinct, min_val, max_val);
    * min/max canonicalized AFTER the native-type aggregate and
    * truncated to 16 chars (document text would otherwise ride whole
    * into the result). n_distinct counts NULL as one value (the
    * sentinel keeps the aggregator input null-free and the DuckDB
    * replay trivial). */
  def profile(df: DataFrame, cols: Seq[ColSpec], prefix: String = "prof",
              k: Int = Kmv.K): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(c.native.isNull, 1L).otherwise(0L)).as(s"${c.name}__nn"),
        Kmv.kmvAggCol(coalesce(c.canon, lit(NullSentinel)), prefix, k)
          .as(s"${c.name}__nd"),
        min(c.native).as(s"${c.name}__min"),
        max(c.native).as(s"${c.name}__max"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    // min/max render via plain cast-to-string of the native aggregate:
    // callers must profile cast-stable types (ints, strings, decimals,
    // second-precision timestamps), where Spark and DuckDB agree
    val rows = cols.map { c =>
      struct(
        lit(c.name).as("col_name"),
        col("__n").as("n_rows"),
        col(s"${c.name}__nn").as("n_null"),
        col(s"${c.name}__nd").as("n_distinct"),
        substring(col(s"${c.name}__min").cast("string"), 1, 16).as("min_val"),
        substring(col(s"${c.name}__max").cast("string"), 1, 16).as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  /** Exact percentiles by linear interpolation at rank p·(n−1)/100 —
    * the definition DuckDB's quantile_cont and Spark's percentile
    * share — computed in integer micro-units so both engines agree to
    * the last bit (double interpolation would diverge in the last
    * ulp). Output `pctl_u` is the interpolated value ×1e6×100 (micro
    * units × the percent denominator): an exact BIGINT, no rounding
    * anywhere.
    *
    * Two physical forms, one contract (ProfileSpec proves them
    * row-equal):
    *  - THIS form ranks with a `PARTITION BY group` window — one
    *    shuffle + per-group sorts. Right when groups are NUMEROUS and
    *    individually modest (per-column profiling, per-domain stats —
    *    parallelism = |groups|, which is plenty), and the cheaper of
    *    the two by several jobs.
    *  - [[exactQuantilesDistributed]] ranks via range partition +
    *    two-level offsets. Right when groups are FEW and HUGE (global
    *    percentiles, 3 return flags over 100 TB): a window would cap
    *    parallelism at |groups|; the distributed form uses every core.
    * For approximate needs at scale, see the a18 hash-sample path or
    * the [[Kmv]] sketch families.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueMicro: Column,
                     percents: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    val ranked = df
      .select(col(groupCol), valueMicro.as("v6"))
      // null values would sort first and shift every rank: a quantile
      // over the non-null population is the only well-defined reading
      .filter(col("v6").isNotNull)
      .withColumn("rn", row_number().over(w.orderBy(col("v6"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
    val ps = broadcast(
      df.sparkSession.createDataFrame(percents.map(Tuple1(_))).toDF("p"))
    ranked.crossJoin(ps)
      .withColumn("k", expr("(p * (n - 1)) div 100"))
      .withColumn("frac", expr("(p * (n - 1)) % 100"))
      .filter(col("rn") === col("k") + 1 || col("rn") === col("k") + 2)
      .groupBy(col(groupCol), col("p"), col("frac"))
      .agg(
        min(when(col("rn") === col("k") + 1, col("v6"))).as("lo"),
        max(when(col("rn") === col("k") + 2, col("v6"))).as("hi"))
      .select(col(groupCol), col("p"),
        (col("lo") * (lit(100) - col("frac")) +
          coalesce(col("hi"), col("lo")) * col("frac")).as("pctl_u"))
      .orderBy(col(groupCol), col("p"))
  }

  /** The few-huge-groups form of [[exactQuantiles]] — identical output,
    * parallelism from a range partition on (group, value) instead of a
    * per-group window, so a 3-group 100 TB table still spreads over
    * every core instead of 3 window tasks.
    *
    * The trick: a quantile needs the values at TWO ranks per (group,
    * percentile), so nothing forces ranking every row. Range-partition
    * (unsorted — partitions ordered by the (group, v6) boundaries),
    * count each (group, partition) cell (a plain aggregate, no sort),
    * prefix-sum the |groups × partitions| cell table into offsets,
    * locate WHICH cells contain the target ranks k+1/k+2, and sort
    * only those few partition slices (row_number over slices bounded
    * by PARTITION size, not group size — ≤ 2·|groups|·|percentiles|
    * slices ever sort). A previous form fully sorted every partition
    * and ranked row-by-row through a Row-codec mapPartitions boundary
    * (Deserialize→Map→Serialize); dropping the global sort + codec cut
    * q32 from 9.7 s to ~2 s at sf0.1. Equal-key rows always land in
    * one range partition (RangePartitioner binary-searches boundaries),
    * so slice-local ranks + cell offsets reproduce exact global ranks;
    * tie order within a slice is irrelevant — tied rows carry the same
    * value. The persist freezes the nondeterministic range sampler's
    * boundaries across the two consumers (the GlobalIds rule); because
    * the output is bounded (|groups|·|percentiles| rows) the snapshot
    * is consumed and RELEASED inside the call — no cache survives. */
  def exactQuantilesDistributed(df: DataFrame, groupCol: String,
                                valueMicro: Column,
                                percents: Seq[Int],
                                localComputeMaxRows: Long = 20000000L,
                                localComputeMaxGroups: Int = 16): DataFrame = {
    // LOCAL regime (r11, the Hits/Triangles/q49 pattern; r12: two jobs,
    // no cache): this is the FEW-huge-groups form by contract, so
    // below the row guard the answer is |groups| primitive long-array
    // sorts on the driver — the distributed plan is ~8 sequential AQE
    // stages (range partition + persist + offset windows + 4 broadcast
    // joins) whose scheduling floor dwarfs the sort at bench scale
    // (3.6 s for 600k rows at sf0.1). Exactly TWO Spark jobs: the
    // group census (the pre-collect guard) and one mapPartitions
    // collect of per-partition per-group primitive chunks — the r11
    // form's per-group filter jobs AND its persist are both gone (the
    // cache write measured ~2× the cost of just re-running the pruned
    // 2-column scan). Byte budget: ≤ 20M rows × 8 B primitive chunks
    // = 160 MB transient total, LocalGraph's derivation discipline.
    // Gated to orderable atomic group types whose literals round-trip
    // (string/integral/date) AND integral value types (r11 advice);
    // anything else — and any row/group count past the guards — keeps
    // the distributed plan below unchanged, the 100 TB path. Same
    // interpolation integers, same null-group-is-a-group contract
    // (ProfileSpec pins regime equality).
    val groupType = df.select(col(groupCol)).schema.fields.head.dataType
    // r11 advice: the local regime hard-reads values as Long, so it is
    // gated on the VALUE column being integral too — a fractional-typed
    // value expression keeps the distributed plan (which carries
    // whatever numeric type the caller handed it), instead of throwing
    // where the old `.as[Long]` landed under the guards.
    val valueType = df.select(valueMicro.as("__v")).schema.fields.head.dataType
    val localizable = (groupType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }) && (valueType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (localizable) {
      val spark = df.sparkSession
      import spark.implicits._
      // NO persist between the two local-regime jobs (r12): the census
      // and the collect each run one 2-column (pruned) scan of the
      // input, and materializing a cache entry between them measured
      // ~2× the second scan's cost at sf0.1 (census-with-cache-write
      // 0.9–1.4 s vs 0.33 + 0.40 s for two plain scans). Both jobs
      // read the same deterministic plan; the fill below additionally
      // verifies the two jobs agreed and falls back to the distributed
      // plan (which snapshots via persist) on any drift.
      val v = df.select(col(groupCol).as("__g"), valueMicro.as("v6"))
        .filter(col("v6").isNotNull)
      // job 1 yields the group list AND the pre-collect size guard;
      // the limit caps the collect if the few-groups contract is wrong
      val groups = v.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
        .limit(localComputeMaxGroups + 1).collect()
      if (groups.length <= localComputeMaxGroups &&
          groups.map(_.getLong(1)).sum <= localComputeMaxRows &&
          groups.nonEmpty) {
        // job 2 (r11 verdict #7 — was |groups| sequential filter jobs):
        // ONE pass collects every group's values as per-partition
        // PRIMITIVE long chunks. The ≤16 groups map to dense indexes
        // via a when-chain (evaluated executor-side), each task folds
        // its rows into per-group ArrayBuilder.ofLong and emits
        // (group_idx, chunk) — the collect carries ~8 B/value plus
        // |parts|·|groups| array headers, the per-group-collect byte
        // budget, in 2 jobs total instead of |groups|+1. Slot nG
        // catches rows whose group the census never saw — any such
        // row means the input drifted between jobs and the local
        // answer would be wrong.
        val gvals = groups.map(_.get(0))
        val nG = gvals.length
        var idxExpr: Column = lit(nG)
        gvals.zipWithIndex.foreach { case (gv, i) =>
          val cond = if (gv == null) col("__g").isNull
                     else col("__g") === lit(gv)
          idxExpr = when(cond, lit(i)).otherwise(idxExpr)
        }
        // the collect itself is BOUNDED (r12 advice): the census-derived
        // budget held one job ago, but if the input grew between the two
        // unpersisted jobs the oversized chunks would land on the driver
        // BEFORE the consistency check below could reject them. Each
        // task counts rows as it folds; past the full budget it drops
        // its buffers, drains the iterator, and emits only the overflow
        // marker (slot nG — the same signal a census-unseen group
        // raises), so per-task driver payload is capped at the budget
        // and the local answer falls back to the distributed plan.
        val chunks = v.select(idxExpr.as("gi"), col("v6").cast("long").as("vv"))
          .as[(Int, Long)]
          .mapPartitions { it =>
            var bufs = Array.fill(nG + 1)(
              new scala.collection.mutable.ArrayBuilder.ofLong)
            var n = 0L
            var overflow = false
            it.foreach { t =>
              if (!overflow) {
                n += 1
                if (n > localComputeMaxRows) { overflow = true; bufs = null }
                else bufs(if (t._1 >= 0 && t._1 <= nG) t._1 else nG) += t._2
              }
            }
            if (overflow) Iterator.single((nG, Array(0L)))
            else Iterator.range(0, nG + 1).map(i => (i, bufs(i).result()))
              .filter(_._2.nonEmpty)
          }.collect()
        // sizes derive from the chunks themselves (no census coupling);
        // the census only gated the collect's byte budget above
        val sizes = new Array[Int](nG)
        var consistent = true
        chunks.foreach { case (gi, a) =>
          if (gi >= nG) consistent = false else sizes(gi) += a.length
        }
        var g = 0
        while (g < nG) { if (sizes(g) == 0) consistent = false; g += 1 }
        if (consistent) {
          val acc = Array.tabulate(nG)(i => new Array[Long](sizes(i)))
          val fill = new Array[Int](nG)
          chunks.foreach { case (gi, arr) =>
            System.arraycopy(arr, 0, acc(gi), fill(gi), arr.length)
            fill(gi) += arr.length
          }
          val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
          var gi = 0
          while (gi < nG) {
            val arr = acc(gi)
            java.util.Arrays.sort(arr)
            val n = arr.length.toLong
            percents.foreach { p =>
              val k = (p * (n - 1)) / 100
              val frac = (p * (n - 1)) % 100
              val lo = arr(k.toInt)
              val hi = if (k + 1 < n) arr(k.toInt + 1) else lo
              out.add(org.apache.spark.sql.Row(gvals(gi), p,
                lo * (100L - frac) + hi * frac))
            }
            gi += 1
          }
          import org.apache.spark.sql.types._
          return spark.createDataFrame(out, StructType(Seq(
              StructField(groupCol, groupType),
              StructField("p", IntegerType, nullable = false),
              StructField("pctl_u", LongType))))
            .orderBy(col(groupCol), col("p"))
        }
      }
    }
    var snapshot: DataFrame = null
    // |groups|·|percentiles| output rows: materialize inside the call
    // and release the (nondeterministic-boundary) snapshot in finally —
    // the Coreset.farthestPointSample lifetime pattern
    try graft.core.Caching.materializeBounded(
      exactQuantilesDistributedPlan(df, groupCol, valueMicro, percents,
        (d: DataFrame) => snapshot = d))
    finally if (snapshot != null) snapshot.unpersist(blocking = false)
  }

  /** The LAZY plan behind [[exactQuantilesDistributed]], which
    * materializes it into a LocalRelation. `snapshot` receives the
    * persisted range snapshot, which the public form releases. */
  private def exactQuantilesDistributedPlan(
      df: DataFrame, groupCol: String, valueMicro: Column,
      percents: Seq[Int], snapshot: DataFrame => Unit): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val base = df
      .select(col(groupCol), valueMicro.as("v6"))
      // null values would sort first and shift every rank: a quantile
      // over the non-null population is the only well-defined reading
      .filter(col("v6").isNotNull)
      .repartitionByRange(parts, col(groupCol), col("v6"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    snapshot(base)
    // per-(group, partition) counts → running offsets + group totals:
    // |groups × partitions| rows, windows over the TINY table only
    val offsets = base.groupBy(col(groupCol), col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("__cnt")).over(Window.partitionBy(col(groupCol))))
    val ps = broadcast(
      spark.createDataFrame(percents.map(Tuple1(_))).toDF("p"))
    // rank targets per (group, p); null-safe joins keep a NULL group a
    // group (the window form's semantics)
    val targets = offsets.select(col(groupCol).as("__gt"), col("n")).distinct()
      .crossJoin(ps)
      .withColumn("k", expr("(p * (n - 1)) div 100"))
      .withColumn("frac", expr("(p * (n - 1)) % 100"))
    val wanted = targets.select(col("__gt"), col("p"), col("k"), col("frac"),
      explode(array(col("k") + 1, col("k") + 2)).as("__trn"))
    // which (group, partition) cells hold a target rank — tiny × tiny
    val cells = wanted.join(
        offsets.select(col(groupCol).as("__go"), col("__pid").as("__po"),
          col("__off"), col("__cnt")),
        col("__gt") <=> col("__go") &&
          col("__trn") > col("__off") && col("__trn") <= col("__off") + col("__cnt"))
      .select(col("__go").as("__gs"), col("__po")).distinct()
    // sort ONLY the target slices; each is at most one partition's share
    // of one group, and there are ≤ 2·|groups|·|percentiles| of them
    val sliceRanked = base.join(broadcast(cells),
        base(groupCol) <=> col("__gs") && col("__pid") === col("__po"))
      .withColumn("__lrank",
        row_number().over(Window.partitionBy(col("__gs"), col("__po"))
          .orderBy(col("v6"))).cast("long"))
    val ranked = sliceRanked.join(broadcast(
        offsets.select(col(groupCol).as("__go"), col("__pid").as("__po2"),
          col("__off").as("__off2"))),
        col("__gs") <=> col("__go") && col("__po") === col("__po2"))
      .withColumn("rn", col("__off2") + col("__lrank"))
    ranked.join(broadcast(targets), col("__gs") <=> targets("__gt"))
      .filter(col("rn") === col("k") + 1 || col("rn") === col("k") + 2)
      .groupBy(col(groupCol), col("p"), col("frac"))
      .agg(
        min(when(col("rn") === col("k") + 1, col("v6"))).as("lo"),
        max(when(col("rn") === col("k") + 2, col("v6"))).as("hi"))
      .select(col(groupCol), col("p"),
        (col("lo") * (lit(100) - col("frac")) +
          coalesce(col("hi"), col("lo")) * col("frac")).as("pctl_u"))
      .orderBy(col(groupCol), col("p"))
  }

  /** Robust outlier detection per group: rows whose deviation from the
    * group median exceeds `factor`× the median absolute deviation
    * (Hampel filter — the MAD is the robust σ, immune to the outliers
    * it hunts, unlike a mean/stddev z-score which the outliers inflate).
    *
    * Engine-exact: with `valueMicro` an integer column, both medians
    * come from [[exactQuantiles]]'s integer interpolation (pctl_u =
    * 100× the interpolated median), the deviation is computed in the
    * same ×100 units (dev100 = |100·v − med100|), and the verdict
    * `100·dev100 > factor·mad10000` compares exact BIGINTs — no double
    * ever appears. Magnitudes: v ≤ 2^40 micro-units keeps
    * 100·dev100 ≤ 2^54.
    *
    * Cost: two [[exactQuantiles]] passes (each one shuffle + per-group
    * sort) + one broadcast-able join of the d-row median tables back
    * onto the scan. At 100 TB the group-median tables are |groups|-row
    * — always broadcast; the sorts are the exact-median floor (use a
    * sketch quantile when approximate is acceptable).
    *
    * Output: the outlier rows only —
    * (group, `idCol`, v6, dev100, mad10000), deviations in the scaled
    * units for auditability. */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
                  valueMicro: Column, factor: Int = 3): DataFrame = {
    val v = df.select(col(groupCol), col(idCol), valueMicro.as("v6"))
    // null-safe group joins throughout: a NULL group gets its own
    // median/MAD (the exactQuantiles contract), never silently dropped.
    // r14: medians via exactQuantilesDistributed, the FEW-huge-groups
    // form — this operator's contract is per-GROUP medians over a big
    // table (t28: |event_type| groups over all of events), exactly
    // where the window form caps parallelism at |groups| and its two
    // full shuffle+sort passes dominate the row (guide §2.4/§2.6;
    // ProfileSpec pins the two forms row-equal, so output is
    // bit-identical).
    val med = exactQuantilesDistributed(v, groupCol, col("v6"), Seq(50))
      .select(col(groupCol).as("__gm"), col("pctl_u").as("med100"))
    val dev = v.join(broadcast(med), v(groupCol) <=> med("__gm"))
      .drop("__gm")
      .withColumn("dev100", abs(lit(100L) * col("v6") - col("med100")))
    val mad = exactQuantilesDistributed(dev, groupCol, col("dev100"), Seq(50))
      .select(col(groupCol).as("__gd"), col("pctl_u").as("mad10000"))
    dev.join(broadcast(mad), dev(groupCol) <=> mad("__gd"))
      .filter(lit(100L) * col("dev100") > lit(factor.toLong) * col("mad10000"))
      .select(dev(groupCol), col(idCol), col("v6"), col("dev100"),
        col("mad10000"))
  }

  /** Integer-exact equi-width histogram per group: `nBins` bins over
    * the group's own [min, max] range. The bin index is the exact
    * integer `((v − min) · nBins) div (max − min + 1)` — always in
    * [0, nBins), every boundary decided in BIGINT arithmetic (no float
    * width, no edge-of-bin drift between engines).
    *
    * Cost: one bounds pass (map-side-combined min/max per group — a
    * |groups|-row broadcast) + one binning aggregate; bins are
    * scan-local once bounds ride the broadcast. Output bounded by
    * |groups|·nBins: (group, bin, n_rows, v_min, v_max) — per-bin
    * min/max give the exact occupied sub-range for stats consumers.
    * Degenerate groups (min = max) land wholly in bin 0. */
  def histogram(df: DataFrame, groupCol: String, valueMicro: Column,
                nBins: Int): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val v = df.select(col(groupCol), valueMicro.as("v6"))
      .filter(col("v6").isNotNull)
    val bounds = v.groupBy(col(groupCol))
      .agg(min(col("v6")).as("__mn"), max(col("v6")).as("__mx"))
      .withColumnRenamed(groupCol, "__bg")
    // null-safe: a NULL group is a group (the winsorize/exactQuantiles
    // contract) — a plain equi-join would silently drop its rows
    v.join(broadcast(bounds), v(groupCol) <=> bounds("__bg"))
      .withColumn("bin", expr(
        s"((v6 - __mn) * $nBins) div (__mx - __mn + 1)"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v6")).as("v_min"), max(col("v6")).as("v_max"))
  }

  /** Percentile winsorization — clip each group's tail values to its
    * [pLo, pHi] percentile bounds (the robust-statistics preprocessing
    * move: cap, don't drop). Bounds come from [[exactQuantiles]]'
    * integer interpolation (`pctl_u` = value ×100 in micro-units), and
    * the clip compares `100·v` against them — pure BIGINT, no float
    * boundary. Output: the CLIPPED rows only (id, group, original
    * value, the winsorized value `w100` in ×100 micro-units, and which
    * side clipped) — tail-bounded like the t28 outlier report.
    *
    * Cost: the exactQuantiles pass + one broadcast of the |groups|-row
    * bounds back onto the scan. */
  def winsorize(df: DataFrame, idCol: String, groupCol: String,
                valueMicro: Column, pLo: Int, pHi: Int): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100, "need 0 <= pLo < pHi <= 100")
    // r14: few-huge-groups form (t35 clips all of lineitem to its 3
    // return flags' bands — the window form's |groups|-task sort was
    // the row's dominant stage); ProfileSpec pins both forms row-equal
    val q = exactQuantilesDistributed(
      df.select(col(groupCol), valueMicro.as("__v")),
      groupCol, col("__v"), Seq(pLo, pHi))
    val bounds = q.groupBy(col(groupCol))
      .agg(min(when(col("p") === pLo, col("pctl_u"))).as("__lo100"),
        max(when(col("p") === pHi, col("pctl_u"))).as("__hi100"))
      .withColumnRenamed(groupCol, "__bg")
    val rows = df.select(col(idCol), col(groupCol), valueMicro.as("v6"))
      .filter(col("v6").isNotNull)
    rows
      // null-safe: a NULL group is a group (the exactQuantiles
      // contract) — a plain equi-join would silently drop its rows
      .join(broadcast(bounds), rows(groupCol) <=> bounds("__bg"))
      .withColumn("w100",
        greatest(least(col("v6") * 100, col("__hi100")), col("__lo100")))
      .filter(col("v6") * 100 =!= col("w100"))
      .select(col(idCol), col(groupCol), col("v6"), col("w100"),
        when(col("v6") * 100 > col("__hi100"), lit("high"))
          .otherwise(lit("low")).as("side"))
  }
}
