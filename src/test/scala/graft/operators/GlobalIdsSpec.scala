package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[GlobalIds.assign]]: ids equal the global `row_number`
  * definition, are dense 0-based, and are invariant to the input's
  * partitioning — while the physical plan never sorts the data in one
  * task (the whole point of the two-level rank). */
class GlobalIdsSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("ids == rank by key, dense from 0, any input partitioning") {
    // keys deliberately unsorted, with gaps
    val keys = scala.util.Random.shuffle((1 to 5000).map(_ * 7L)).toSeq
    for (parts <- Seq(1, 13)) {
      val out = GlobalIds.assign(
          keys.toDF("doc_id").repartition(parts), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = keys.sorted.zipWithIndex
        .map { case (k, i) => k -> i.toLong }.toMap
      assert(out === expect, s"at input parts=$parts")
    }
  }

  test("assign rejects non-integral keys loudly (no silent NULL cast)") {
    val df = Seq("a", "b").toDF("k")
    val e = intercept[IllegalArgumentException] {
      GlobalIds.assign(df, "k")
    }
    assert(e.getMessage.contains("assignBy"))
  }

  test("assignBy: generic sort columns, all input columns kept") {
    val df = Seq((3L, "b"), (1L, "a"), (2L, "a"), (4L, "c"))
      .toDF("k", "tag").repartition(3)
    val out = GlobalIds.assignBy(df,
        Seq(org.apache.spark.sql.functions.col("tag"),
          org.apache.spark.sql.functions.col("k")))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("tag"),
        r.getAs[Long]("global_id"))).toSet
    assert(out === Set((1L, "a", 0L), (2L, "a", 1L), (3L, "b", 2L),
      (4L, "c", 3L)))
  }

  test("WFQ interleave keys give proportional prefixes") {
    // domains with weights 3:1 — every schedule prefix of length 4k
    // must hold ~3k of A and ~k of B (weighted fair queuing smoothness)
    val rows = (1 to 30).map(i => ("A", i.toLong)) ++
      (1 to 10).map(i => ("B", i.toLong))
    val keyed = rows.toDF("d", "i")
      .withColumn("vkey", (col("i") * 2 - 1).cast("double") /
        when(col("d") === "A", 3.0).otherwise(1.0))
    val sched = GlobalIds.assignBy(keyed,
        Seq(col("vkey"), col("d"), col("i")))
      .orderBy("global_id").collect().map(_.getAs[String]("d"))
    for (t <- 4 to 40 by 4) {
      val a = sched.take(t).count(_ == "A")
      assert(math.abs(a - 3 * t / 4) <= 2,
        s"prefix $t: ${a} A-docs vs expected ${3 * t / 4}")
    }
  }

  test("exclusivePrefixSum equals the sequential fold, any bucket width") {
    // values deliberately unordered by order key; expected prefix is
    // the exclusive running sum in key order
    val rows = Seq((0L, 5L), (1L, 3L), (2L, 7L), (3L, 2L), (4L, 11L),
      (5L, 1L), (6L, 4L), (7L, 9L))
    val expected = rows.map(_._2).scanLeft(0L)(_ + _).init
      .zipWithIndex.map { case (p, i) => i.toLong -> p }.toMap
    for (bw <- Seq(1, 3, 1024)) {
      val got = GlobalIds.exclusivePrefixSum(
          rows.toDF("gid", "v").repartition(3), "gid", "v", bucketWidth = bw)
        .collect().map(r => r.getAs[Long]("gid") -> r.getAs[Long]("prefix")).toMap
      assert(got === expected, s"bucketWidth=$bw")
    }
  }

  test("plan has no single-task global sort over the data") {
    val df = GlobalIds.assign((1 to 100).map(_.toLong).toDF("doc_id"), "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    // the data path is range-partitioned + local sort; the only global
    // window runs over the |partitions|-row offset table
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      s"expected a range exchange in:\n$plan")
  }
}
