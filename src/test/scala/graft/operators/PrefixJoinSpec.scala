package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Dedup.prefixJaccardPairs]] (the AllPairs/PPJoin
  * prefix-filtered exact Jaccard join) bit-equal to
  * [[Dedup.jaccardPairs]] (the inverted-index plan) — the equality that
  * lets d20 share d02's oracle SQL and lets d19's recall denominator
  * swap plans without touching its oracle. */
class PrefixJoinSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def bitEqual(df: org.apache.spark.sql.DataFrame,
                       threshold: Double): Unit = {
    val a = Dedup.jaccardPairs(df, "id", "text", n = 3, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.prefixJaccardPairs(df, "id", "text", n = 3,
        threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  test("planted near-dups: prefix plan == inverted-index plan, bit for bit") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 37).map(i => s"tok$i").mkString(" ") + " alt x y"
    val far = (100 to 140).map(i => s"z$i").mkString(" ")
    val shared = "common prefix words " + (1 to 10).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base),                 // identical pair, J = 1
      (3L, near),                             // near pair vs 1/2
      (4L, far), (5L, shared), (6L, shared + " tail"),
      (7L, ""),                               // shingle-less: must drop
      (8L, "one two")                         // under n=3: no shingles
    ).toDF("id", "text")
    bitEqual(df, 0.5)
    bitEqual(df, 0.9)
    bitEqual(df, 0.3)
  }

  test("pair near the threshold boundary survives both plans identically") {
    // 22 shared words → 20 pure-shared shingles; each side adds 12 own
    // words → |A| = |B| = 32 distinct shingles (2 straddle the
    // boundary), J = 20/44 ≈ 0.4545 — probe thresholds straddling it
    val shared = (1 to 22).map(i => s"s$i").mkString(" ")
    val a = shared + " " + (1 to 12).map(i => s"a$i").mkString(" ")
    val b = shared + " " + (1 to 12).map(i => s"b$i").mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    bitEqual(df, 0.45)
    bitEqual(df, 0.46)
    assert(Dedup.prefixJaccardPairs(df, "id", "text", 3, 0.45).count() === 1)
    assert(Dedup.prefixJaccardPairs(df, "id", "text", 3, 0.46).count() === 0)
  }

  test("double-rounding threshold (t*n rounds UP past the rational): " +
      "containment pair at exactly J = t is not pruned (r9 regression)") {
    // 100 * 0.07 = 7.000000000000001 in double: the length filter
    // previously rejected |A| = 7 vs |B| = 100 and ceil shortened B's
    // prefix — both silently dropping this exactly-on-threshold pair
    // that jaccardPairs emits. A ⊂ B with |A| = 7, |B| = 100 distinct
    // shingles → J = 7/100 = 0.07.
    val wordsB = (1 to 102).map(i => s"w$i").mkString(" ") // 100 shingles
    val wordsA = (1 to 9).map(i => s"w$i").mkString(" ")   // 7, all shared
    val df = Seq((1L, wordsA), (2L, wordsB)).toDF("id", "text")
    bitEqual(df, 0.07)
    assert(Dedup.prefixJaccardPairs(df, "id", "text", 3, 0.07).count() === 1)
  }

  test("thresholdAsFraction recovers the exact decimal rational") {
    assert(Dedup.thresholdAsFraction(0.07) === (7L, 100L))
    assert(Dedup.thresholdAsFraction(0.5) === (1L, 2L))
    assert(Dedup.thresholdAsFraction(0.85) === (17L, 20L))
    assert(Dedup.thresholdAsFraction(1.0) === (1L, 1L))
    assert(Dedup.thresholdAsFraction(0.333333333) === (333333333L, 1000000000L))
    // ⌈n·t⌉ via the integer identity matches exact rational ceil for the
    // double-rounding trap case (100·0.07 = 7.000000000000001 in doubles)
    val (num, den) = Dedup.thresholdAsFraction(0.07)
    assert((100L * num + den - 1) / den === 7L)
    // a COMPUTED threshold with binary-float residue (17 decimals)
    // must fail loudly, not overflow the integer prunings silently
    intercept[IllegalArgumentException](Dedup.thresholdAsFraction(0.1 + 0.2))
  }

  /** The literal string-set Jaccard pair computation — no hashes
    * anywhere: the ground truth the 120-bit verify claims to match. */
  private def stringSetPairs(df: org.apache.spark.sql.DataFrame,
                             threshold: Double): Set[(Long, Long, Double)] = {
    val sh = Dedup.withShingles(df, "id", "text", 3)
    val ex = sh.select(col("id"), explode(col("shingles")).as("s"))
    val sz = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sz.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("planted candidate-key collisions (4-bit candidate space): " +
      "output still equals the string-set form — the 120-bit verify " +
      "rejects every impostor candidate (r12 verdict #3)") {
    // 60 docs over an 83-token pool: thousands of distinct shingles
    // land in 16 candidate slots, so nearly every doc pair becomes a
    // candidate through some collided slot; only the verify separates
    // true near-dups from impostors
    val df = (1 to 60).map { i =>
      val words = (0 until 30).map(k => s"w${(i * 7 + k * 3) % 83}")
      (i.toLong, words.mkString(" "))
    }.toDF("id", "text")
    val expected = stringSetPairs(df, 0.5)
    def run(bits: Int) = Dedup
      .prefixJaccardPairsImpl(df, "id", "text", 3, 0.5, candidateKeyBits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(4) === expected,
      "collided candidate space must not change the verified pair set")
    assert(run(60) === expected,
      "production width must equal the string-set form")
    // d02's inverted-index plan (120-bit join equality) too
    val d02 = Dedup.jaccardPairs(df, "id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d02 === expected)
    // d17's containment on the same fixture: hash form == string form
    val contStr = {
      val sh = Dedup.withShingles(df, "id", "text", 3)
      val ex = sh.select(col("id"), explode(col("shingles")).as("s"))
      val sz = sh.select(col("id"), size(col("shingles")).as("n_sh"))
      ex.as("a").join(ex.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sz.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
        .join(sz.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
        .withColumn("containment", col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double"))
        .filter(col("containment") >= 0.6)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          round(col("containment"), 6).as("containment"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    }
    val contHash = Dedup.containmentPairs(df, "id", "text", 3, 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(contHash === contStr)
  }

  test("sf0.001 documents: full equality on real corpus, two thresholds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    bitEqual(docs, 0.5)
    bitEqual(docs, 0.8)
    // the exact set is non-trivial on this corpus (planted dups exist)
    assert(Dedup.prefixJaccardPairs(docs, "id", "text", 3, 0.5).count() > 0)
  }
}
