package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Similarity.rangeSearch]] (a26) to the n² definition and
  * [[Similarity.pairwiseDiversity]] (a27) to a direct JVM replay of the
  * moment identity — the pair-free plan must produce EXACTLY the sum a
  * materialized pair loop produces over the same quantized unit
  * vectors. */
class RangeDiversitySpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("rangeSearch == brute-force filter; self excluded; radius honored") {
    val vecs = Seq(
      0L -> Array(1.0, 0.0, 0.0),
      1L -> Array(0.9, 0.1, 0.0),   // cos vs 0 ≈ 0.9939
      2L -> Array(0.0, 1.0, 0.0),   // cos vs 0 = 0
      3L -> Array(-1.0, 0.0, 0.0),  // cos vs 0 = −1
      4L -> Array(0.7, 0.7, 0.1))   // cos vs 0 ≈ 0.7036
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = Similarity.rangeSearch(
      df.filter(col("vec_id") < 2), df, "vec_id", "embedding", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (qi, qv) <- vecs.take(2); (ci, cv) <- vecs
      if qi != ci && cosine(qv, cv) >= 0.7
    } yield (qi, ci)).toSet
    assert(got === want)
    assert(want.contains((0L, 1L)) && want.contains((0L, 4L)))
    assert(!want.contains((0L, 2L)) && !want.contains((0L, 3L)))
  }

  test("rangeSearch corpus side never shuffles (no exchange below the filter)") {
    val df = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    val plan = Similarity.rangeSearch(
      df.filter(col("vec_id") < 3), df, "vec_id", "embedding", 0.5)
      .queryExecution.executedPlan.toString
    // the only join must be a broadcast join — a sort-merge/shuffled-hash
    // join would mean the corpus was exchanged on a key
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  // the operator's exact quantization, replayed in the JVM: HALF_UP on
  // the double (Spark round semantics — Math.round floors negatives)
  private def halfUp(x: Double): Long =
    new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def unitQuantize(v: Array[Double]): Array[Long] = {
    val q = v.map(x => halfUp(x * (1L << 20)))
    val n2 = q.map(x => x * x).sum
    q.map(x => halfUp(x * 1048576.0 / math.sqrt(n2.toDouble)))
  }

  test("pairwiseDiversity == materialized pair loop, exactly") {
    // negatives + unequal label sizes + a singleton label
    val vecs = Seq(
      ("a", Array(0.3, -0.4, 0.5)), ("a", Array(0.31, -0.41, 0.52)),
      ("a", Array(-0.7, 0.2, 0.1)), ("b", Array(1.0, 1.0, -1.0)),
      ("b", Array(-1.0, -1.0, 1.0)), ("c", Array(0.5, 0.5, 0.5)))
    val df = vecs.zipWithIndex.map { case ((l, v), i) =>
      (i.toLong, l, v.map(_.toFloat)) }.toDF("vec_id", "label", "embedding")
    val got = Similarity.pairwiseDiversity(df, "label", "embedding")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), BigInt(r.getString(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    val q40 = BigInt(1L) << 40
    vecs.groupBy(_._1).foreach { case (label, members) =>
      val uqs = members.map(m => unitQuantize(m._2))
      val n = uqs.length
      val pairSum = (for {
        i <- uqs.indices; j <- (i + 1) until n
      } yield (uqs(i) zip uqs(j)).map { case (a, b) => BigInt(a) * b }.sum)
        .fold(BigInt(0))(_ + _)
      val nPairs = n.toLong * (n - 1) / 2
      val (gn, gp, gsum, gppm) = got(label)
      assert(gn === n.toLong, label)
      assert(gp === nPairs, label)
      // the operator emits the UNDIVIDED even numerator 2·Σ dot
      assert(gsum === pairSum * 2, s"$label pair_dot_sum2")
      if (nPairs == 0) assert(gppm.isEmpty, label)
      else {
        val want = ((pairSum + 2 * BigInt(nPairs) * q40) * 1000000 /
          (BigInt(nPairs) * q40) - 2000000).toLong
        assert(gppm === Some(want), s"$label ppm")
        // and the ppm sits within quantization error of the true mean
        val trueMean = (for {
          i <- members.indices; j <- (i + 1) until n
        } yield cosine(members(i)._2, members(j)._2)).sum / nPairs
        assert(math.abs(gppm.get / 1e6 - trueMean) < 1e-4, s"$label vs true mean")
      }
    }
  }

  test("pairwiseDiversity state is |labels|·d — no pair-shaped operator in the plan") {
    val df = (0L until 100L).map(i =>
      (i, s"l${i % 3}", Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val plan = Similarity.pairwiseDiversity(df, "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pair-free plan must not join:\n$plan")
  }
}
