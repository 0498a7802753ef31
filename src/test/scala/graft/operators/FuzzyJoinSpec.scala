package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[FuzzyJoin.levenshtein1SelfJoin]]: pair-set equality with the
  * brute-force n² definition on an adversarial corpus (substitutions,
  * insertions, deletions at every position, duplicates, repeated
  * characters, shared prefixes), and the no-cross-join plan shape. */
class FuzzyJoinSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def pairs(rows: Seq[(Long, String)]): Set[(Long, Long, Long)] =
    FuzzyJoin.levenshtein1SelfJoin(rows.toDF("id", "s"), "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def brute(rows: Seq[(Long, String)]): Set[(Long, Long, Long)] = {
    val df = rows.toDF("id", "s")
    df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("d", levenshtein(col("a.s"), col("b.s")).cast("long"))
      .filter(col("d") <= 1)
      .select(col("a.id"), col("b.id"), col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("equals the brute-force n² join on an adversarial corpus") {
    val base = "Customer#000000123"
    val corpus = Seq(
      1L -> base,
      2L -> base,                       // exact duplicate -> dist 0
      3L -> "Customer#000000124",       // substitution, last char
      4L -> "Xustomer#000000123",       // substitution, first char
      5L -> "Customer#00000123",        // deletion
      6L -> "Customer#0000001234",      // insertion at end
      7L -> "ACustomer#000000123",      // insertion at front
      8L -> "Customer#000001123",       // substitution mid
      9L -> "Customer#000000132",       // transposition -> dist 2: excluded
      10L -> "aaaa",                    // repeated chars (dup deletion keys)
      11L -> "aaab", 12L -> "aaa", 13L -> "aab",
      14L -> "completely different", 15L -> "x")
    val got = pairs(corpus)
    val want = brute(corpus)
    assert(got === want)
    assert(want.contains((1L, 2L, 0L)))   // duplicate pair present
    assert(!want.exists(p => p._1 == 1L && p._2 == 9L)) // transposition out
  }

  test("randomized corpus with planted edits: no false negatives or positives") {
    // deterministic pseudo-random corpus (no Random: reproducible)
    val words = (0 until 120).map { i =>
      val s = BigInt(i * 2654435761L).toString(26)
      (i.toLong, s"w$s$i")
    }
    val edited = words.take(40).map { case (id, s) =>
      val i = (id % s.length).toInt
      (1000L + id, s.substring(0, i) + s.substring(math.min(i + 1, s.length)))
    }
    val corpus = words ++ edited
    assert(pairs(corpus) === brute(corpus))
  }

  test("guarded path == unguarded path below the cap") {
    val corpus = (0 until 80).map(i => (i.toLong, s"base${i / 4}x$i"))
    val guarded = FuzzyJoin.levenshtein1SelfJoin(
      corpus.toDF("id", "s"), "id", "s", maxBlockDf = Some(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val strict = FuzzyJoin.levenshtein1SelfJoin(
      corpus.toDF("id", "s"), "id", "s", maxBlockDf = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded === strict)
  }

  test("hot block collapses to a connected min-id star, linear output") {
    // 500 identical strings: strict contract would enumerate ~125k
    // pairs; the guard emits the 499 star links, all still verified
    // dist 0, all connected through the representative
    val hot = (0 until 500).map(i => (i.toLong, "identical boilerplate"))
    val out = FuzzyJoin.levenshtein1SelfJoin(
      hot.toDF("id", "s"), "id", "s", maxBlockDf = Some(100)).collect()
    assert(out.length === 499)
    assert(out.forall(r => r.getLong(0) === 0L))   // star center = min id
    assert(out.forall(r => r.getLong(2) === 0L))
    assert(out.map(_.getLong(1)).toSet === (1L until 500L).toSet)
  }

  test("null strings are excluded, not joined") {
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, null))
      .toDF("id", "s")
    val got = FuzzyJoin.levenshtein1SelfJoin(df, "id", "s").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("plan has no cartesian product") {
    val df = (1 to 50).map(i => (i.toLong, s"str$i")).toDF("id", "s")
    val p = FuzzyJoin.levenshtein1SelfJoin(df, "id", "s")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"blocked join degenerated:\n$p")
  }
}
