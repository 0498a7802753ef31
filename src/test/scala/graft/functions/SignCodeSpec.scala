package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native [[SignPlanesCode]] expression bit-equal to the
  * interpreted SQL form it replaced ([[graft.operators.Similarity
  * .signLshBucketSqlForm]]) — the contract that lets a02/d07/a28 swap
  * to the compiled path without touching their plane-literal oracles —
  * including the null edges the SQL form defines (short vector / null
  * element → all CASEs fall to 0 → code 0). */
class SignCodeSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def pinEqual(dim: Int, nPlanes: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("id", "v")
    val got = df.select(col("id"),
        graft.operators.Similarity.signLshBucket("v", dim, nPlanes, seed).as("c"),
        graft.operators.Similarity
          .signLshBucketSqlForm("v", dim, nPlanes, seed).as("s"))
      .collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"native != SQL form at id ${r.getLong(0)} (dim=$dim planes=$nPlanes seed=$seed)"))
    // the codes must not be degenerate (all equal would hide a bug)
    assert(got.map(_.getLong(1)).distinct.length > 1)
  }

  test("native code == interpreted SQL form: 64 planes (sign bit live)") {
    pinEqual(dim = 16, nPlanes = 64, seed = 42L)
  }

  test("native code == interpreted SQL form across plane counts and seeds") {
    pinEqual(dim = 8, nPlanes = 4, seed = 42L)
    pinEqual(dim = 8, nPlanes = 16, seed = 0x5eedL)
    pinEqual(dim = 3, nPlanes = 8, seed = 0x5eedL + 3)
  }

  test("null element matches the SQL form (code 0); short vector is 0, not a crash") {
    // in-range null element: the SQL form's dot-product sum nulls out,
    // every CASE falls to the 0 bit — both forms give 0
    val withNull = Seq((2L, Array(0.5f, -0.5f, 0.25f, 1.0f))).toDF("id", "v")
      .union(spark.sql(
        "SELECT 3L AS id, array(cast(0.5 as float), cast(null as float), " +
          "cast(1.0 as float), cast(2.0 as float)) AS v"))
    val got = withNull.select(col("id"),
        graft.operators.Similarity.signLshBucket("v", 4, 8, 42L).as("c"),
        graft.operators.Similarity.signLshBucketSqlForm("v", 4, 8, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (id, (c, s)) => assert(c === s, s"id $id") }
    assert(got(3L)._1 === 0L)
    assert(got(2L)._1 !== 0L)
    // a vector SHORTER than dim: the SQL form's ANSI element_at throws a
    // task failure; the native code returns the same 0 the null cases
    // produce — strictly more defined, and the one deliberate divergence
    val short = Seq((1L, Array(0.5f, -0.5f))).toDF("id", "v")
    val c = short.select(
        graft.operators.Similarity.signLshBucket("v", 4, 8, 42L).as("c"))
      .collect().head.getLong(0)
    assert(c === 0L)
    intercept[Exception] {
      short.select(graft.operators.Similarity
        .signLshBucketSqlForm("v", 4, 8, 42L).as("s")).collect()
    }
  }

  test("NULL vector keeps the SQL form's bucket-0 edge (coalesce in signLshBucket)") {
    val df = spark.sql(
      "SELECT 1L AS id, array(cast(0.5 as float), cast(-0.5 as float)) AS v " +
        "UNION ALL SELECT 2L, cast(null as array<float>)")
    val got = df.select(col("id"),
        graft.operators.Similarity.signLshBucket("v", 2, 8, 42L).as("c"),
        graft.operators.Similarity.signLshBucketSqlForm("v", 2, 8, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the SQL form's null array nulls the dot sum -> every CASE -> 0;
    // a null bucket instead would drop the row from every bucket join
    got.foreach { case (id, (c, s)) => assert(c === s, s"id $id") }
    assert(got(2L)._1 === 0L)
  }

  test("driver-side plane cache == the SQL-built signLshPlanes matrix") {
    val sql = graft.operators.Similarity.signLshPlanes(spark, dim = 8,
      nPlanes = 6, seed = 42L)
    val jvm = helpers.signPlanes(dim = 8, nPlanes = 6, seed = 42L)
    assert(sql.map(_.toSeq).toSeq === jvm.map(_.toSeq).toSeq)
  }

  test("double arrays take the double path, equal to the SQL form") {
    val df = Seq((1L, Array(0.3, -0.7, 0.1)), (2L, Array(1.5, 2.5, -3.5)))
      .toDF("id", "v")
    val got = df.select(
        graft.operators.Similarity.signLshBucket("v", 3, 8, 42L).as("c"),
        graft.operators.Similarity.signLshBucketSqlForm("v", 3, 8, 42L).as("s"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }
}
