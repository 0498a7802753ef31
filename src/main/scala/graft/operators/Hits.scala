package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** HITS hubs & authorities (Kleinberg, JACM 1999) in engine-exact
  * integer arithmetic — the [[PageRank]] discipline applied to the
  * OTHER classic link-analysis fixpoint: hub scores flow to the
  * authorities they point at, authority scores flow back.
  *
  * The textbook algorithm L2-normalizes each iteration, which is both
  * a square root (not engine-portable) and unnecessary: the scores
  * are defined only up to scale, and the iteration is power iteration
  * on AᵀA, so this implementation keeps RAW integer sums for all k
  * rounds (a₀ = 1; hᵢ(c) = Σ_{c→p} aᵢ₋₁(p); aᵢ(p) = Σ_{c→p} hᵢ(c) —
  * DECIMAL(38) sums, no division anywhere) and normalizes ONCE at
  * readout with a single ppm floor division (the t33 rule). No
  * per-iteration floor loss, no per-iteration scalar aggregates —
  * each round is exactly one join + one aggregation, the Pregel
  * minimum, and the whole run is one lineage.
  *
  * Magnitude bound: scores grow by ~(d_c·d_p) per round; DECIMAL(38)
  * holds k=3 rounds up to average-degree products of ~10¹⁰ — beyond
  * that, callers drop k or pre-scale. Overflow is LOUD: with ANSI off
  * Spark yields null sums, and nulls would sort LAST in the (raw desc)
  * top-k — silently absent, not visibly wrong — so the readout
  * aggregates a null count alongside each side's total and
  * `raise_error`s if any score overflowed, failing exactly as the
  * DuckDB oracle does on HUGEINT overflow.
  *
  * Scale posture: the edge list persists once and is the only
  * per-round probe side; score vectors are |V|-row frames that
  * shuffle on the join key. Output: top `topK` per side —
  * (side ∈ {auth, hub}, id, score_ppm, rnk) — 2·topK rows, so the
  * result is materialized as a LocalRelation inside the operator and
  * every internal persist (edge list, per-key sorted copies, final
  * vectors) is unpersisted before returning: nothing stays pinned
  * after the call, however long the session lives. */
object Hits {

  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3, topK: Int = 20,
           splitEdgeThreshold: Long = 2000000L,
           edgesDistinct: Boolean = false,
           localComputeMaxEdges: Long = 10000000L): DataFrame = {
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = {
      pinned += df.persist(StorageLevel.MEMORY_AND_DISK); df
    }
    // 2·topK rows: materialize, then release every internal persist
    try graft.core.Caching.materializeBounded(
      hitsPlan(edges, srcCol, dstCol, iterations, topK,
        splitEdgeThreshold, pin, edgesDistinct, localComputeMaxEdges))
    finally pinned.foreach(_.unpersist(blocking = false))
  }

  /** The readout plan behind [[hits]], which materializes it into a
    * LocalRelation. NOT free to construct: the regime probe and the
    * eager vector pins run the edge count and the full k-iteration
    * chain during construction. `pin` receives every frame that must
    * be persisted. */
  private def hitsPlan(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, topK: Int,
      splitEdgeThreshold: Long, pin: DataFrame => DataFrame,
      edgesDistinct: Boolean, localComputeMaxEdges: Long): DataFrame = {
    require(iterations >= 1)
    val proj = edges
      .select(col(srcCol).cast("long").as("c"), col(dstCol).cast("long").as("p"))
    // edgesDistinct: callers serving a pre-deduplicated artifact (the
    // g06 GraphCache path) skip the redundant second distinct shuffle
    val e = pin(if (edgesDistinct) proj else proj.distinct())
    // EMPTY edge input short-circuits to an empty result (round-8
    // review fix): without this, the all-NULL total either raises a
    // confusing overflow-ish error or — under AQE empty-relation
    // propagation — silently yields empty anyway; make the contract
    // explicit and engine-independent. The count below is free (the
    // regime probe needs it regardless).
    // Two physical regimes, the Triangles.maxBroadcastEdges pattern:
    // below the threshold the |V|-row score vector broadcasts and the
    // cached edge list never moves — extra per-key copies would be
    // pure overhead (measured 8.6 → 14.4 s at sf0.1). Above it, AQE
    // falls back to shuffle joins and every round would re-shuffle
    // the |E|-row list TWICE (measured 66× on the 10× slope graph) —
    // so persist the list once per join key, pre-partitioned;
    // InMemoryRelation keeps its child's hashpartitioning (the g01
    // lesson), so each round then moves only the score vector: one
    // exchange per half-round, the Pregel minimum.
    val st = e.agg(count(lit(1)),
      count(when(col("c").isNull || col("p").isNull, lit(1))),
      max(greatest(col("c"), col("p"))),
      min(least(col("c"), col("p")))).collect()(0)
    val m = st.getLong(0)
    val nullEdges = st.getLong(1)
    if (m == 0) {
      val sp = edges.sparkSession
      import org.apache.spark.sql.types._
      return sp.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("side", StringType, nullable = false),
          StructField("id", LongType),
          StructField("score_ppm", LongType),
          StructField("rnk", LongType))))
    }
    // LOCAL regime (r10, the Triangles pattern the round-9 verdict
    // endorsed for g03): below `localComputeMaxEdges` the whole power
    // iteration runs on a collected edge array in exact BigInteger
    // arithmetic — the distributed chain is 12+ sequential AQE stages
    // whose scheduling + broadcast latency floor (~4 s at sf0.1's
    // 600k edges) dwarfs the ~0.3 s of actual arithmetic. The guard
    // bounds driver memory exactly like the Triangles broadcast probe
    // (one packed long per edge: 10M edges = 80 MB held, plus two
    // |V|-bounded id dictionaries — LocalGraph's derived byte budget),
    // and past it the distributed dual-regime
    // plan below takes over unchanged — the 100 TB path. Overflow
    // semantics mirror the distributed plan bit for bit (same bounds,
    // same messages): scores and totals raise at 10³⁸ (the DECIMAL(38)
    // bound), the ppm product at 10³⁸ too — so the oracle-parity
    // contract (DuckDB HUGEINT errors) holds in both regimes.
    // Null-endpoint edges keep the DISTRIBUTED plan: a (null c, p)
    // edge feeds a null-id HUB group through the p-keyed join there
    // (it surfaces in the hub total and can rank), and replicating
    // that null topology locally buys nothing — graph callers serve
    // null-free artifacts, and correctness must not depend on regime.
    // Any id range (r12): ids past the [0, 2³¹) packing bound take
    // LocalGraph's bipartite dictionary pre-pass instead of losing
    // the regime (8 B/edge + two |side|-bounded dictionaries either
    // way — see LocalGraph's byte budget).
    if (m <= localComputeMaxEdges && nullEdges == 0)
      return hitsLocal(edges.sparkSession, e, iterations, topK,
        st.getLong(3), st.getLong(2))
    // sortWithinPartitions: the cached plan's outputOrdering survives
    // InMemoryTableScan, so each round's SortMergeJoin skips re-sorting
    // the |E|-row side (k rounds = k avoided sorts of the big leg)
    val (eByP, eByC) =
      if (m <= splitEdgeThreshold) (e, e)
      else (pin(e.repartition(col("p")).sortWithinPartitions(col("p"))),
            pin(e.repartition(col("c")).sortWithinPartitions(col("c"))))
    var auth = e.select(col("p")).distinct()
      .withColumn("a", lit(1L).cast(DecimalType(38, 0)))
    var hub: DataFrame = null
    // per-round null poisoning: sum() SKIPS nulls, so one overflowed
    // round-1 hub would silently VANISH from round 2's sums and the
    // final scores would be non-null but numerically wrong — the
    // nastiest form of the overflow bug, invisible to any final-vector
    // null check. Each round therefore counts nulls alongside the sum
    // and raises in-plan the moment one appears (evaluated per group,
    // only when the branch is taken — no extra action per round).
    def guardedSum(c: String, what: String) = when(
      count(when(col(c).isNull, lit(1))) > 0,
      raise_error(lit(s"HITS: DECIMAL(38) overflow nulled a $what score " +
        "mid-iteration — lower iterations or pre-scale (see scaladoc " +
        "magnitude bound)"))).otherwise(sum(col(c)))
    (1 to iterations).foreach { _ =>
      hub = eByP.join(auth, "p").groupBy(col("c"))
        .agg(guardedSum("a", "authority").as("h"))
      auth = eByC.join(hub, "c").groupBy(col("p"))
        .agg(guardedSum("h", "hub").as("a"))
    }
    // final vectors each feed a scalar total AND the top-k readout, so
    // pin them eagerly (the PageRank rule): a cache that silently fails
    // to populate would recompute the whole k-iteration chain per
    // action instead of once. Persist ORDER is load-bearing (r10,
    // measured): CacheManager compiles a cache entry's child physical
    // plan AT PERSIST TIME, so hub must be persisted BEFORE auth for
    // auth's cached child plan to substitute hub's InMemoryRelation —
    // the other order bakes the raw chain into auth's entry and the
    // readout recomputes all k iterations to fill hub's cache (the
    // r9 shape paid exactly that: hub.count() + auth.count() each ran
    // the full chain, ~2.4 s apiece at sf0.1). With the right order,
    // ONE action fills both caches in one chain execution.
    hub = pin(hub)
    auth = pin(auth)
    auth.count()
    // the total rides with an overflow tripwire: sum() SKIPS nulls, so
    // an overflowed score would otherwise vanish from both the total
    // and the (nulls-last) top-k — degrade silently, diverging from
    // the oracle, which ERRORS on HUGEINT overflow
    // the GRAND TOTAL can overflow even when every score fits (sums of
    // up to |V| near-ceiling decimals): a null tot with zero null
    // scores must also raise, not propagate NULL into every ppm
    // an EMPTY score vector (empty edge input) raises its own distinct
    // error rather than letting a NULL tot propagate NULLs through the
    // ppm division — top-k over no graph is a caller bug, not a result
    def guardedTotal(v: DataFrame, scoreCol: String, tag: String,
                     sideTag: String): DataFrame =
      v.agg(sum(col(scoreCol)).as("tot"),
          count(when(col(scoreCol).isNull, lit(1))).as("__nulls"),
          count(lit(1)).as("__n"))
        .select(lit(sideTag).as("side"),
          (col("tot") + when(
          col("__nulls") === 0 && col("tot").isNotNull, lit(0))
          .otherwise(raise_error(
            when(col("__n") === 0, lit(s"HITS: empty graph — no $tag " +
              "scores to rank (edge input has no rows)"))
              .otherwise(lit(s"HITS: DECIMAL(38) overflow in " +
                s"$tag scores or their total — lower iterations or " +
                "pre-scale (see scaladoc magnitude bound)"))))).as("tot"))
    // ONE readout pass for both sides (r9 advice #3 — was two
    // TakeOrdered sorts over the full |V|-row vectors with the ppm
    // division computed per row): tag + union the cached vectors,
    // prune to topK per side with the bounded-heap TopKPerKey
    // operator (nulls-weakest contract matches the desc NULLS LAST
    // order the sorts had), and only THEN join the 2-row totals and
    // divide — 2·topK divisions instead of 2·|V|.
    val tots = guardedTotal(auth, "a", "authority", "auth")
      .unionByName(guardedTotal(hub, "h", "hub", "hub"))
    val tagged = auth
      .select(lit("auth").as("side"), col("p").as("id"), col("a").as("raw"))
      .unionByName(hub
        .select(lit("hub").as("side"), col("c").as("id"), col("h").as("raw")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("side")).orderBy(col("raw").desc, col("id"))
    graft.plans.TopKPerKey.prune(tagged, "side", "raw", "id", topK)
      .join(broadcast(tots), "side")
      .select(col("side"), col("id"),
        // ppm = floor(score·10⁶ / tot). The ExactArith split form is
        // a NO-OP here (score ≤ tot ⇒ quotient 0, remainder = score:
        // it reduces to the naive (score·10⁶) div tot), so scores in
        // (10³², 10³⁸) — inside the DECIMAL(38) operating range —
        // still overflow the ·10⁶ product to NULL with ANSI off.
        // Both score and tot are non-null by the guards above, so a
        // NULL ppm can ONLY be that overflow: trip loudly instead of
        // emitting raw-ordered rows with silently-null ppm (the
        // DuckDB oracle errors on the same HUGEINT overflow)
        coalesce(
          expr("cast(" + ExactArith.scaledFloorDivSql("raw", "tot",
            1000000L) + " as bigint)"),
          raise_error(lit("HITS: DECIMAL(38) overflow computing " +
            "score_ppm (score·10⁶ exceeds 10³⁸) — lower " +
            "iterations or pre-scale (see scaladoc magnitude bound)"))
        ).as("score_ppm"),
        col("raw"))
      // the rank window runs over ≤ 2·topK survivors only
      .withColumn("rnk", row_number().over(w).cast("long"))
      .drop("raw")
      .orderBy(col("side"), col("rnk"))
  }

  /** The local-regime power iteration: the SAME algorithm as the
    * distributed plan (a₀ = 1, alternating exact integer sums, one
    * final ppm floor division per side) over a collected edge array,
    * in java.math.BigInteger. Invoked only under the
    * `localComputeMaxEdges` guard; edges with a null endpoint are
    * dropped exactly as the distributed inner joins drop them.
    * Overflow mirrors the distributed contract: any score or total
    * reaching 10³⁸ raises with the DECIMAL(38) message, and a
    * representable score whose ·10⁶ product would pass 10³⁸ raises
    * the score_ppm tripwire — identical failure surface, so specs and
    * oracle pins hold regime-independently. */
  private def hitsLocal(spark: org.apache.spark.sql.SparkSession,
                        e: DataFrame, iterations: Int, topK: Int,
                        minId: Long, maxId: Long): DataFrame = {
    import java.math.BigInteger
    val D38 = BigInteger.TEN.pow(38)
    val M6 = BigInteger.valueOf(1000000L)
    // one index-packed collect with per-side dictionaries (r12 — the
    // bipartite collectIndexed: ids past the packing bound take the
    // dictionary pre-pass instead of losing the regime; r11: 8 B/edge
    // primitives, never boxed Rows). Caller verified null-freeness.
    val (packed, cIds, pIds) =
      LocalGraph.collectIndexedBipartite(e, "c", "p", minId, maxId)
    // every edge had a null endpoint: the distributed plan's inner
    // joins drop them all and its guarded total raises the empty-graph
    // error — mirror it, don't silently return zero rows
    if (packed.isEmpty)
      throw new IllegalStateException("HITS: empty graph — no authority " +
        "scores to rank (edge input has no rows)")
    val ec = new Array[Int](packed.length)
    val ep = new Array[Int](packed.length)
    var i = 0
    while (i < packed.length) {
      ec(i) = LocalGraph.src(packed(i)).toInt
      ep(i) = LocalGraph.dst(packed(i)).toInt
      i += 1
    }
    def checkRound(v: Array[BigInteger], what: String): Unit = {
      var j = 0
      while (j < v.length) {
        if (v(j).compareTo(D38) >= 0)
          throw new ArithmeticException(
            s"HITS: DECIMAL(38) overflow nulled a $what score " +
              "mid-iteration — lower iterations or pre-scale (see " +
              "scaladoc magnitude bound)")
        j += 1
      }
    }
    var a = Array.fill(pIds.length)(BigInteger.ONE)
    var h: Array[BigInteger] = null
    var round = 0
    while (round < iterations) {
      h = Array.fill(cIds.length)(BigInteger.ZERO)
      i = 0
      while (i < ec.length) { h(ec(i)) = h(ec(i)).add(a(ep(i))); i += 1 }
      // tag = WHICH vector overflowed (r10 advice fix: the distributed
      // plan's guardedSum("h","hub") raises "nulled a hub score" when
      // the hub sums nulled — mirror that, not the input-side name)
      checkRound(h, "hub")
      val a2 = Array.fill(pIds.length)(BigInteger.ZERO)
      i = 0
      while (i < ec.length) { a2(ep(i)) = a2(ep(i)).add(h(ec(i))); i += 1 }
      checkRound(a2, "authority")
      a = a2
      round += 1
    }
    def total(v: Array[BigInteger], tag: String): BigInteger = {
      val t = v.foldLeft(BigInteger.ZERO)(_.add(_))
      if (t.compareTo(D38) >= 0)
        throw new ArithmeticException(
          s"HITS: DECIMAL(38) overflow in $tag scores or their total — " +
            "lower iterations or pre-scale (see scaladoc magnitude bound)")
      t
    }
    val aTot = total(a, "authority")
    val hTot = total(h, "hub")
    def side(tag: String, ids: Array[Long], v: Array[BigInteger],
             tot: BigInteger): Seq[org.apache.spark.sql.Row] = {
      val top = ids.indices
        .sortBy(j => (v(j).negate(), ids(j)))(
          Ordering.Tuple2(Ordering.ordered[BigInteger], Ordering.Long))
        .take(topK)
      top.zipWithIndex.map { case (j, rk) =>
        val prod = v(j).multiply(M6)
        if (prod.compareTo(D38) >= 0)
          throw new ArithmeticException(
            "HITS: DECIMAL(38) overflow computing score_ppm " +
              "(score·10⁶ exceeds 10³⁸) — lower iterations or " +
              "pre-scale (see scaladoc magnitude bound)")
        org.apache.spark.sql.Row(tag, ids(j),
          prod.divide(tot).longValueExact(), (rk + 1).toLong)
      }
    }
    import org.apache.spark.sql.types._
    val out = side("auth", pIds, a, aTot) ++ side("hub", cIds, h, hTot)
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava,
      StructType(Seq(
        StructField("side", StringType, nullable = false),
        StructField("id", LongType),
        StructField("score_ppm", LongType),
        StructField("rnk", LongType))))
  }

  /** The DuckDB replay: unrolled MATERIALIZED rounds over `edgesSql`
    * (a query yielding (c, p) distinct pairs), same HUGEINT sums, one
    * final ppm floor division per side. */
  def oracleSql(edgesSql: String, iterations: Int, topK: Int = 20): String = {
    val steps = (1 to iterations).map { i =>
      s"""h$i AS MATERIALIZED (SELECT e.c, sum(a.a) AS h
         |  FROM eds e JOIN a${i - 1} a USING (p) GROUP BY e.c),
         |a$i AS MATERIALIZED (SELECT e.p, sum(h.h) AS a
         |  FROM eds e JOIN h$i h USING (c) GROUP BY e.p)"""
        .stripMargin
    }.mkString(",\n")
    val k = iterations
    s"""WITH eds AS MATERIALIZED ($edgesSql),
       |a0 AS (SELECT DISTINCT p, 1::HUGEINT AS a FROM eds),
       |$steps,
       |ta AS (SELECT 'auth' AS side, p AS id,
       |    CAST((a * 1000000) // (SELECT sum(a) FROM a$k) AS BIGINT) AS score_ppm,
       |    row_number() OVER (ORDER BY a DESC, p) AS rnk
       |  FROM a$k),
       |th AS (SELECT 'hub' AS side, c AS id,
       |    CAST((h * 1000000) // (SELECT sum(h) FROM h$k) AS BIGINT) AS score_ppm,
       |    row_number() OVER (ORDER BY h DESC, c) AS rnk
       |  FROM h$k)
       |SELECT side, id, score_ppm, CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT * FROM ta WHERE rnk <= $topK
       |      UNION ALL SELECT * FROM th WHERE rnk <= $topK)
       |ORDER BY side, rnk""".stripMargin
  }
}
