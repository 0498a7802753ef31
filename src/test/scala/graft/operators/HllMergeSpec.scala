package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[HyperLogLog.cumulativeDistinct]]: the cumulative estimate at
  * each day equals the plain HLL estimate over the union of all days up
  * to it (sketch-merge == rescan, the mergeability contract), the
  * per-day leg equals [[HyperLogLog.approxCountDistinct]], and both
  * stay within the HLL error envelope of exact counts. */
class HllMergeSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.session.timeZone" -> "UTC")

  import spark.implicits._

  // overlapping day populations: day d holds users d*37 .. d*37+399
  private lazy val df = (0 until 8).flatMap { d =>
    (0 until 400).map(u => (f"2024-01-${d + 1}%02d", (d * 37 + u).toLong))
  }.toDF("day", "uid")

  test("cumulative == rescan-from-scratch at every day") {
    val cum = HyperLogLog.cumulativeDistinct(df, "day", "uid", "t")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val days = cum.keys.toSeq.sorted
    days.foreach { d =>
      val rescan = HyperLogLog.approxCountDistinct(
          df.filter(col("day") <= d).withColumn("g", lit("all")),
          "g", "uid", "t", "nd")
        .collect().head.getLong(1)
      assert(cum(d) === rescan, s"merge != rescan at $d")
    }
  }

  test("per-day leg == approxCountDistinct grouped by day") {
    val got = HyperLogLog.cumulativeDistinct(df, "day", "uid", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = HyperLogLog.approxCountDistinct(df, "day", "uid", "t", "nd")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("estimates track exact counts within the envelope; cum monotone") {
    val rows = HyperLogLog.cumulativeDistinct(df, "day", "uid", "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    rows.foreach { case (d, day, cum) =>
      val exactDay = df.filter(col("day") === d).select("uid").distinct().count()
      val exactCum = df.filter(col("day") <= d).select("uid").distinct().count()
      assert(math.abs(day - exactDay) <= exactDay * 8 / 100 + 2, s"day est off at $d")
      assert(math.abs(cum - exactCum) <= exactCum * 8 / 100 + 2, s"cum est off at $d")
    }
    assert(rows.map(_._3).sliding(2).forall(s => s.length < 2 || s(0) <= s(1)),
      "cumulative estimate not monotone")
  }
}
