package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class HitsSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("hubs and authorities separate on an asymmetric bipartite graph") {
    // part 100 is bought by EVERY customer (the authority); customer 1
    // buys everything (the hub); the others are one-edge extras.
    val edges = Seq(
      (1L, 100L), (1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 100L), (3L, 100L), (4L, 100L)).toDF("c", "p")
    val out = Hits.hits(edges, "c", "p", iterations = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val auth = out.filter(_._1 == "auth")
    val hub = out.filter(_._1 == "hub")
    assert(auth.head._2 === 100L, "the universally-bought part must top authorities")
    assert(hub.head._2 === 1L, "the buys-everything customer must top hubs")
    // rank column is 1..n dense per side
    assert(auth.map(_._4).toSeq === (1L to auth.length))
    assert(hub.map(_._4).toSeq === (1L to hub.length))
    // ppm scores are a partition of ~1e6 per side (floor loss < n per division)
    assert(math.abs(auth.map(_._3).sum - 1000000L) <= auth.length,
      s"authority ppm should sum to ~1e6, got ${auth.map(_._3).sum}")
  }

  test("all three regimes agree: local BigInteger, broadcast, split-edge") {
    val edges = (1L to 40L).flatMap(c => (1L to 5L).map(p => (c, (c + p) % 17)))
      .toDF("c", "p")
    // default thresholds → the LOCAL regime (200 edges < 10M)
    val local = Hits.hits(edges, "c", "p", iterations = 3, topK = 17)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // localComputeMaxEdges = 0 forces the distributed broadcast regime
    val plain = Hits.hits(edges, "c", "p", iterations = 3, topK = 17,
        localComputeMaxEdges = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // + splitEdgeThreshold = 0 forces the pre-partitioned split regime
    val split = Hits.hits(edges, "c", "p", iterations = 3, topK = 17,
        splitEdgeThreshold = 0L, localComputeMaxEdges = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(local === plain, "local BigInteger regime must equal the distributed plan")
    assert(split === plain)
  }

  test("ids past the packing bound still take the LOCAL path (bipartite dictionary pre-pass)") {
    // hub/authority ids straddle 2³¹ and 2³² on BOTH sides (r12):
    // direct packing is impossible, so collectIndexedBipartite must
    // route each side through its own dictionary — and the local
    // BigInteger regime must still equal the distributed plan
    val big = 5000000000L
    val edges = Seq(
      (big, big + 1L), (big, 2147483648L), (big + 2L, big + 1L),
      (3L, big + 1L), (3L, 2147483648L), (big + 2L, 9L))
      .toDF("c", "p")
    def run(localMax: Long) = Hits.hits(edges, "c", "p", iterations = 3,
        topK = 10, localComputeMaxEdges = localMax)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val local = run(10000000L)
    assert(local === run(0L),
      "big-id bipartite regimes must agree row for row")
    assert(local.exists(_._2 == big + 1L), "big authority id must surface")
  }

  test("local and distributed regimes agree on the sf0.001 purchase graph") {
    val edges = graft.queries.GraphCache.custPartEdgesOf(
      graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    def run(localMax: Long) = Hits.hits(edges, "c", "p", iterations = 3,
        topK = 20, localComputeMaxEdges = localMax)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(run(10000000L) === run(0L),
      "regimes must agree row for row (same order, same ppm, same ranks)")
  }

  test("three unrolled rounds equal a hand-computed power iteration") {
    // K_{2,2} plus a pendant: scores computable by hand.
    // edges: c1-{p1,p2}, c2-{p1,p2}, c3-{p3}
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 12L))
      .toDF("c", "p")
    // a0 = 1 each. h1: c1=2, c2=2, c3=1. a1: p1=4, p2=4, p3=1.
    // h2: c1=8, c2=8, c3=1. a2: p1=16, p2=16, p3=1.
    // h3: c1=32, c2=32, c3=1. a3: p1=64, p2=64, p3=1. A=129, H=65.
    val out = Hits.hits(edges, "c", "p", iterations = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("auth", 10L)) === 64L * 1000000L / 129L)
    assert(out(("auth", 12L)) === 1000000L / 129L)
    assert(out(("hub", 1L)) === 32L * 1000000L / 65L)
    assert(out(("hub", 3L)) === 1000000L / 65L)
  }

  test("DECIMAL(38) overflow raises loudly instead of degrading silently") {
    // K(10,10): scores multiply by ~100 per half-round pair, so 40
    // iterations push sums past 10^40 > DECIMAL(38) — with ANSI off
    // the sums null, and sum()'s null-SKIPPING would otherwise carry
    // numerically wrong non-null scores to the readout (oracle-parity
    // demands the DuckDB behavior: HUGEINT overflow ERRORS)
    val edges = (for { c <- 1L to 10L; p <- 1L to 10L }
      yield (c, p + 100)).toDF("c", "p")
    val ex = intercept[Exception] {
      Hits.hits(edges, "c", "p", iterations = 40, topK = 5)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("overflow")),
      s"expected the HITS overflow raise_error, got: ${messages(ex)}")
  }

  test("ppm-band overflow (scores representable, score·10⁶ not) raises too") {
    // K(10,10): 17 iterations put hub scores at 10^33 / authorities at
    // 10^34 — INSIDE DECIMAL(38) (no mid-iteration raise, totals fine)
    // but score·10⁶ ≥ 10^39 overflows the ppm division. With ANSI ON
    // (the Spark 4 default) the engine itself errors; the round-8
    // review fix covers the ANSI-OFF mode, where the overflow is a
    // silent NULL that the coalesce tripwire must turn into the
    // score_ppm raise — never raw-ordered rows with null ppm. Pin the
    // ANSI-OFF path explicitly.
    val edges = (for { c <- 1L to 10L; p <- 1L to 10L }
      yield (c, p + 100)).toDF("c", "p")
    val prior = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val ex = intercept[Exception] {
        Hits.hits(edges, "c", "p", iterations = 17, topK = 5)
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("score_ppm")),
        s"expected the ppm tripwire, got: ${messages(ex)}")
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("empty edge input returns an empty result, not NULL propagation") {
    val empty = Seq.empty[(Long, Long)].toDF("c", "p")
    val out = Hits.hits(empty, "c", "p", iterations = 2, topK = 5)
    assert(out.columns.toSeq == Seq("side", "id", "score_ppm", "rnk"))
    assert(out.count() == 0)
  }
}
