package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[LinAlg]] — Gram matrix, Jacobi eigensolver, and PCA projection:
  * known-matrix eigenpairs, principal-axis recovery, centering,
  * variance ordering, and determinism. */
class PcaSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("jacobi recovers the eigenpairs of a known symmetric matrix") {
    // [[2,1],[1,2]] -> eigenvalues 3, 1; eigenvectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = LinAlg.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(math.abs(vecs(0)(0) - r2) < 1e-12 && math.abs(vecs(0)(1) - r2) < 1e-12)
    assert(math.abs(math.abs(vecs(1)(0)) - r2) < 1e-12)
  }

  test("gram matrix equals the hand-computed XtX") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "vec")
    val g = LinAlg.gramMatrix(df, "vec", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(g((1L, 1L)) === 10.0) // 1+9
    assert(g((1L, 2L)) === 14.0) // 2+12
    assert(g((2L, 2L)) === 20.0) // 4+16
  }

  test("first PC aligns with a planted principal axis") {
    // points spread along (1,1,0,...)/√2 with small noise on other dims
    val dim = 8
    def gen(i: Int): Seq[Float] = {
      val t = (i - 50) / 10.0
      val noise = (d: Int) => (((i * 40503 + d * 2654435761L) % 100) / 5000.0)
      (1 to dim).map {
        case 1 => (t + noise(1)).toFloat
        case 2 => (t + noise(2)).toFloat
        case d => noise(d).toFloat
      }
    }
    val df = (1 to 100).map(i => (i.toLong, gen(i))).toDF("id", "vec")
    val proj = LinAlg.pcaProject(df, "id", "vec", dim, 3).collect()
      .groupBy(_.getLong(1)).map { case (pc, rs) =>
        pc -> rs.map(_.getDouble(2))
      }
    def variance(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
    }
    val v = proj.map { case (pc, ys) => pc -> variance(ys) }
    // planted axis carries ~2 t² variance; noise dims ~1e-4
    assert(v(1L) > 100 * v(2L), s"variances: $v")
    assert(v(2L) >= v(3L))
    // projections are centered up to the 2^-20 mean quantization
    proj.values.foreach { ys =>
      assert(math.abs(ys.sum / ys.length) < 1e-5)
    }
  }

  test("eigenvalues are the per-component projection variances, descending") {
    val df = (1 to 60).map { i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 3).toFloat, ((i * i) % 5).toFloat))
    }.toDF("id", "vec")
    val evals = LinAlg.pcaEigenvalues(df, "vec", 3)
    assert(evals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    val proj = LinAlg.pcaProject(df, "id", "vec", 3, 3).collect()
      .groupBy(_.getLong(1)).map { case (pc, rs) =>
        val ys = rs.map(_.getDouble(2))
        val m = ys.sum / ys.length
        pc -> ys.map(x => (x - m) * (x - m)).sum / (ys.length - 1)
      }
    (1 to 3).foreach { pc =>
      assert(math.abs(proj(pc.toLong) - evals(pc - 1)) < 1e-6,
        s"pc $pc variance ${proj(pc.toLong)} vs eigenvalue ${evals(pc - 1)}")
    }
  }

  test("projection is deterministic across runs") {
    val df = (1 to 30).map(i => (i.toLong, Seq(i.toFloat, (i % 4).toFloat))).toDF("id", "vec")
    val a = LinAlg.pcaProject(df, "id", "vec", 2, 2).collect().map(_.toSeq).toSeq
    val b = LinAlg.pcaProject(df, "id", "vec", 2, 2).collect().map(_.toSeq).toSeq
    assert(a === b)
  }
}
