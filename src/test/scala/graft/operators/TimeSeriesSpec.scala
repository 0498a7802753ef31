package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TimeSeries.resampleFfill]]: grid completeness between each
  * key's first and last bucket, forward-fill across gaps, the
  * deterministic (ts, id) last-observation tie-break, and per-key
  * independence. */
class TimeSeriesSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.session.timeZone" -> "UTC")

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gaps fill forward; n_obs counts per bucket; grid spans min..max") {
    val rows = Seq(
      // key A: buckets 10:00, 10:15 empty, 10:30 (gap of one)
      ("A", ts("2024-01-01 10:03:00"), 1L, 100L),
      ("A", ts("2024-01-01 10:07:00"), 2L, 200L),  // same bucket, later ts
      ("A", ts("2024-01-01 10:31:00"), 3L, 300L),
      // key B: single bucket only
      ("B", ts("2024-01-01 00:00:00"), 4L, 400L))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.resampleFfill(rows, "k", "ts", "id", "v", 900L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      ("A", "2024-01-01 10:00:00", 2L, 200L),  // last obs in bucket wins
      ("A", "2024-01-01 10:15:00", 0L, 200L),  // gap: carried forward
      ("A", "2024-01-01 10:30:00", 1L, 300L),
      ("B", "2024-01-01 00:00:00", 1L, 400L)))
  }

  test("same-timestamp ties break by id (higher id wins)") {
    val t = ts("2024-01-01 12:00:01")
    val rows = Seq(("K", t, 7L, 70L), ("K", t, 9L, 90L), ("K", t, 8L, 80L))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.resampleFfill(rows, "k", "ts", "id", "v", 900L)
      .collect()
    assert(got.length === 1)
    assert(got.head.getLong(3) === 90L)
    assert(got.head.getLong(2) === 3L)
  }

  test("null timestamps are dropped, not bucketed") {
    val rows = Seq(
      ("K", ts("2024-01-01 00:00:00"), 1L, 5L),
      ("K", null.asInstanceOf[Timestamp], 2L, 6L))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.resampleFfill(rows, "k", "ts", "id", "v", 900L)
      .collect()
    assert(got.length === 1)
    assert(got.head.getLong(3) === 5L)
  }

  test("long gap carries the same value across every missing bucket") {
    val rows = Seq(
      ("G", ts("2024-01-01 00:00:00"), 1L, 5L),
      ("G", ts("2024-01-01 02:00:00"), 2L, 6L))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.resampleFfill(rows, "k", "ts", "id", "v", 900L)
      .collect().sortBy(_.getString(1))
    assert(got.length === 9)  // 00:00 .. 02:00 inclusive
    assert(got.take(8).forall(_.getLong(3) === 5L))
    assert(got.last.getLong(3) === 6L)
    assert(got.count(_.getLong(2) > 0) === 2)
  }
}
