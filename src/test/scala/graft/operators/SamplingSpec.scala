package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Sampling.weightedTopK]]: exact agreement with a JVM replay
  * of the Efraimidis-Spirakis draw, determinism across partitionings,
  * the k cap, weight-zero exclusion, and weight-monotone selection. */
class SamplingSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  /** JVM replay of the operator's key: salted-md5 60-bit uniform,
    * ln rounded to 1e-9 scale, double-divided by the weight. */
  private def esKey(id: Long, w: Long, salt: String = "es"): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt|$id".getBytes("UTF-8"))
    val hex = md.map(b => f"$b%02x").mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    val s9 = math.round(math.log((h + 1).toDouble / (1L << 60)) * 1e9)
    s9.toDouble / w.toDouble
  }

  test("matches the exact JVM replay of the E-S draw") {
    val rows = (1L to 200L).map(i => ("s", i, 10L + i % 37))
    val got = Sampling.weightedTopK(rows.toDF("src", "id", "w"),
        "src", "id", "w", k = 20)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toMap
    val expect = rows.map { case (_, id, w) => (id, esKey(id, w)) }
      .sortBy { case (id, key) => (-key, id) }
      .take(20).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }
      .toMap
    assert(got === expect)
  }

  test("deterministic across partitionings and re-runs") {
    val df = (1L to 500L).map(i => (s"g${i % 3}", i, 1L + i % 11))
      .toDF("src", "id", "w")
    val a = Sampling.weightedTopK(df.repartition(1), "src", "id", "w", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    val b = Sampling.weightedTopK(df.repartition(7), "src", "id", "w", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    assert(a === b)
    assert(a.size === 30)
  }

  test("k caps per stratum; small strata return all members ranked") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("b", 3L, 5L))
      .toDF("src", "id", "w")
    val out = Sampling.weightedTopK(df, "src", "id", "w", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(4)))
    assert(out.count(_._1 == "a") === 2)
    assert(out.count(_._1 == "b") === 1)
    assert(out.filter(_._1 == "a").map(_._2).sorted === Array(1L, 2L))
  }

  test("zero/negative/null weights are excluded") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 0L), ("a", 3L, -4L))
      .toDF("src", "id", "w")
    val out = Sampling.weightedTopK(df, "src", "id", "w", k = 10)
      .collect().map(_.getLong(1))
    assert(out === Array(1L))
  }

  test("an overwhelming weight is always drawn first") {
    // w → ∞ drives ln(u)/w → 0⁻, the maximum possible key
    val df = ((1L to 99L).map(i => ("s", i, 10L)) :+ ("s", 100L, 1000000000L))
      .toDF("src", "id", "w")
    val first = Sampling.weightedTopK(df, "src", "id", "w", k = 5)
      .filter($"rank" === 1).collect().map(_.getLong(1))
    assert(first === Array(100L))
  }

  test("plan prunes with TopKPerKey, not a full window sort") {
    val df = (1L to 100L).map(i => ("s", i, 5L)).toDF("src", "id", "w")
    val plan = Sampling.weightedTopK(df, "src", "id", "w", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"expected the bounded-heap prune in the plan:\n$plan")
  }
}
