package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.signProjection]] — JL sign random projection: exact
  * integer arithmetic, seed determinism, shuffle-free plan, and the
  * distance-preservation property the reduction exists for. */
class ProjectionSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val dim = 8
  private def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("id", "vec")

  test("projections are integer multiples of 2^-20 (exact arithmetic)") {
    val out = Similarity.signProjection(
        vecs((1L, Seq(0.25f, -1.5f, 0.125f, 3.0f, 0.0f, 1.0f, -0.5f, 2.0f))),
        "id", "vec", dim, k = 4)
      .collect()
    assert(out.length === 4)
    out.foreach { r =>
      val scaled = r.getDouble(2) * 1048576
      assert(scaled === math.rint(scaled), s"non-integral scaled value: $r")
    }
  }

  test("same seed reproduces identical projections; another seed differs") {
    val v = vecs((1L, Seq(1.0f, 2.0f, -1.0f, 0.5f, 3.0f, -2.0f, 0.25f, 1.5f)))
    val a = Similarity.signProjection(v, "id", "vec", dim, 4).collect().map(_.getDouble(2)).toSeq
    val b = Similarity.signProjection(v, "id", "vec", dim, 4).collect().map(_.getDouble(2)).toSeq
    val c = Similarity.signProjection(v, "id", "vec", dim, 4, seed = "other")
      .collect().map(_.getDouble(2)).toSeq
    assert(a === b)
    assert(a !== c)
  }

  test("native expression == the interpreted SQL aggregate form, bit " +
      "for bit; the plan shows sign_project_dots (r12 verdict #6 pin)") {
    val v = vecs(
      (1L, Seq(1.0f, 2.5f, -1.25f, 0.5f, 3.0f, -2.0f, 0.25f, 1.5f)),
      (2L, Seq(-0.125f, 0.75f, 2.0f, -3.5f, 0.0f, 1.0f, -1.0f, 0.0625f)))
    val k = 4
    // the pre-r13 interpreted form, reconstructed verbatim as reference
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Int = {
      val hex = md.digest(s"rp${j}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
    val vq = expr(
      "transform(vec, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))")
    val projections = (1 to k).map { j =>
      val arr = (1 to dim).map(d => sign(j, d)).mkString("array(", ",", ")")
      expr(s"aggregate(sequence(1, $dim), 0L, (acc, d) -> " +
        s"acc + element_at(vq, d) * element_at($arr, d))")
    }
    val reference = v.select(col("id"), vq.as("vq"))
      .select(col("id"), posexplode(array(projections: _*)).as(Seq("pos", "sy")))
      .select(col("id"), (col("pos") + 1).cast("long").as("proj_dim"),
        (col("sy").cast("double") / 1048576).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val native = Similarity.signProjection(v, "id", "vec", dim, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(native === reference)
    // plan pin on a FILE-backed input (a local Seq constant-folds the
    // whole projection into a LocalTableScan — correct, but no plan to
    // inspect): the scan plan must evaluate the native expression and
    // carry no interpreted aggregate HOFs
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val plan = Similarity.signProjection(emb, "vec_id", "embedding", 64, 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sign_project_dots"),
      "plan must evaluate the native expression")
    assert(!plan.contains("aggregate(sequence"),
      "no interpreted aggregate HOFs may remain in the projection plan")
  }

  test("null element poisons every dot (SQL null-sum semantics); " +
      "short vector fails loudly") {
    val withNull = Seq((1L, Seq[java.lang.Float](1.0f, null, 1.0f, 1.0f,
      1.0f, 1.0f, 1.0f, 1.0f))).toDF("id", "vec")
    val rows = Similarity.signProjection(withNull, "id", "vec", dim, 3).collect()
    assert(rows.length === 3)
    assert(rows.forall(_.isNullAt(2)), "every y must be null")
    val short = vecs((1L, Seq(1.0f, 2.0f)))
    val e = intercept[Exception] {
      Similarity.signProjection(short, "id", "vec", dim, 3).collect()
    }
    assert(e.getMessage != null)
  }

  test("projection is scan-local: no exchange in the plan") {
    val p = Similarity.signProjection(
        vecs((1L, Seq.fill(8)(1.0f))), "id", "vec", dim, 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
  }

  test("close pairs stay closer than far pairs (JL property)") {
    // deterministic pseudo-random base vector + a tiny and a large
    // perturbation; k=16 projections of d=64
    def gen(s: Long): Seq[Float] =
      (1 to 64).map(i => (((s * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
    val base = gen(7)
    val near = base.updated(0, base.head + 0.01f)
    val far = gen(13)
    val out = Similarity.signProjection(
        vecs((1L, base), (2L, near), (3L, far)), "id", "vec", 64, 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)) }
    def dist(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    assert(dist(out(1L).toSeq, out(2L).toSeq) < dist(out(1L).toSeq, out(3L).toSeq))
  }
}
