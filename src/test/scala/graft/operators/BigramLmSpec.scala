package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[TextAnalysis.bigramLmScore]] — add-one-smoothed bigram LM over the
  * corpus: closed-form probabilities, repeated-bigram weighting, the
  * short-doc zero path, and the fluency ordering the signal exists for. */
class BigramLmSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def run(rows: Seq[(Long, String)]): Map[Long, (Long, Double)] =
    TextAnalysis.bigramLmScore(rows.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  /** The operator's exact arithmetic: scaled-long ln per distinct bigram,
    * count-weighted integer sum, mean, 6-decimal round. */
  private def nll(terms: Seq[(Long, Long, Long)], v: Long): Double = {
    // (k, c12, cctx); HALF_UP like Spark's round() — math.rint is
    // half-even and would diverge on exact .5 boundaries
    val s = terms.map { case (k, c12, cctx) =>
      k * java.math.BigDecimal.valueOf(
        math.log((c12 + 1).toDouble / (cctx + v)) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }.sum
    val nb = terms.map(_._1).sum
    ((-2 * s + nb) / (2 * nb)).toDouble / 1e6
  }

  test("scores equal the closed-form add-one bigram model") {
    // corpus: "a b a b", "a b c", "z" -> V=4; c(ab)=3, c(ba)=1, c(bc)=1;
    // contexts: a=3, b=2
    val out = run(Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")))
    assert(out(1L) === ((3L, nll(Seq((2L, 3L, 3L), (1L, 1L, 2L)), 4L))))
    assert(out(2L) === ((2L, nll(Seq((1L, 3L, 3L), (1L, 1L, 2L)), 4L))))
  }

  test("single-word docs report zero bigrams and zero nll") {
    val out = run(Seq((1L, "a b"), (2L, "z")))
    assert(out(2L) === ((0L, 0.0)))
  }

  test("bigram_tfs scan path ≡ the explode/xxhash64 form (r13 rewrite)") {
    // the r13 scan-local rewrite must consume the same multiset of
    // (doc, h1, h12) facts as the old per-token explode — pin the final
    // scores row-for-row on a fixture with the split() edge cases:
    // consecutive spaces (empty tokens), leading/trailing spaces, empty
    // text, null text, single word, repeated bigrams, multi-byte UTF-8
    val rows = Seq[(Long, String)](
      (1L, "a b a b"), (2L, "a  b"), (3L, ""), (4L, null), (5L, "x"),
      (6L, "a b c a b c a"), (7L, " leading"), (8L, "trailing "),
      (9L, "héllo wörld héllo wörld"), (10L, "a b"))
    val df = rows.toDF("id", "text")
    import org.apache.spark.sql.functions._
    // the pre-r13 form, inlined
    val base = df.select(col("id").as("doc_id"),
      split(col("text"), " ").as("ws"))
    val bi = base.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(1, size(ws) - 1)")).as("i"))
      .select(col("doc_id"),
        expr("xxhash64(element_at(ws, i))").as("h1"),
        expr("xxhash64(element_at(ws, i), element_at(ws, i + 1))").as("h12"))
    val bcnt = bi.groupBy(col("h12"))
      .agg(max(col("h1")).as("h1"), count(lit(1)).as("c12"))
    val ccnt = bcnt.groupBy(col("h1")).agg(sum(col("c12")).as("cctx"))
    val vrow = base.select(explode(col("ws")).as("w"))
      .agg(count_distinct(expr("xxhash64(w)")).as("v"))
    val docBi = bi.groupBy(col("doc_id"), col("h12"))
      .agg(count(lit(1)).as("k"))
    val scores = docBi.join(bcnt, Seq("h12")).join(ccnt, Seq("h1"))
      .crossJoin(broadcast(vrow))
      .withColumn("c", expr(
        "k * cast(round(ln(cast(c12 + 1 as double) / (cctx + v)) * 1e6, 0) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("s"), sum(col("k")).as("nb"))
    val old = base.select(col("doc_id"),
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_bigrams"))
      .join(scores, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(expr("((-2 * s + nb) div (2 * nb))").cast("double") / 1e6,
          lit(0.0)).as("nll"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val neu = TextAnalysis.bigramLmScore(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(neu === old)
    // and the model-side facts match: per-doc tallies ≡ the explode
    // stream's per-doc (h12, count, max h1)
    val oldFacts = bi.groupBy(col("doc_id"), col("h12"))
      .agg(max(col("h1")).as("mh1"), count(lit(1)).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val newFacts = df.select(col("id"),
        explode(graft.functions.GraftFunctions.bigramTfs(col("text"))).as("e"))
      .select(col("id"), col("e.h12"), col("e.h1"), col("e.k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(newFacts === oldFacts)
    // vocab leg: distinct_word_hashes ≡ distinct xxhash64 over the split
    val oldV = base.select(explode(col("ws")).as("w"))
      .select(expr("xxhash64(w)").as("h")).distinct()
      .collect().map(_.getLong(0)).toSet
    val newV = df.select(explode(
        graft.functions.GraftFunctions.distinctWordHashes(col("text"))).as("h"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(newV === oldV)
  }

  test("corpus-typical phrasing scores lower nll than shuffled phrasing") {
    // ten docs repeat the same phrase; one doc uses the same words in an
    // order the corpus never produces -> rarer bigrams -> higher nll
    val typical = (1L to 10L).map(i => (i, "the quick brown fox jumps"))
    val atypical = Seq((99L, "fox the jumps quick brown"))
    val out = run(typical ++ atypical)
    assert(out(1L)._2 < out(99L)._2)
  }
}
