package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Changelog.scd2Intervals]] (island collapse, interval
  * chaining, open-interval flag, tie ordering) and
  * [[Changelog.latestState]] (latest-wins, tombstone deletion,
  * same-timestamp tie-break by id, change counting). */
class ChangelogSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.session.timeZone" -> "UTC")

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def log(rows: (Long, String, Long, String)*) =
    rows.map { case (k, t, id, st) => (k, ts(t), id, st) }
      .toDF("k", "ts", "id", "st")

  test("scd2: consecutive same-state events collapse into one interval") {
    val e = log(
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (1L, "2024-01-01 11:00:00", 2L, "a"),
      (1L, "2024-01-01 12:00:00", 3L, "b"),
      (1L, "2024-01-01 13:00:00", 4L, "a"))
    val out = Changelog.scd2Intervals(e, "k", "ts", "id", "st")
      .orderBy("valid_from")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getInt(5)))
    assert(out === Array(
      ("a", "2024-01-01 10:00:00", "2024-01-01 12:00:00", 2L, 0),
      ("b", "2024-01-01 12:00:00", "2024-01-01 13:00:00", 1L, 0),
      ("a", "2024-01-01 13:00:00", Changelog.HighDate, 1L, 1)))
  }

  test("scd2: intervals chain per key; single-state key is one open row") {
    val e = log(
      (1L, "2024-01-01 10:00:00", 1L, "x"),
      (1L, "2024-01-01 11:00:00", 2L, "x"),
      (2L, "2024-01-01 10:30:00", 3L, "y"),
      (2L, "2024-01-01 10:45:00", 4L, "z"))
    val out = Changelog.scd2Intervals(e, "k", "ts", "id", "st")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3),
        r.getInt(5)))
    assert(out === Array(
      (1L, "x", Changelog.HighDate, 1),
      (2L, "y", "2024-01-01 10:45:00", 0),
      (2L, "z", Changelog.HighDate, 1)))
  }

  test("scd2: equal timestamps order by id (the unique tiebreak)") {
    val e = log(
      (1L, "2024-01-01 10:00:00", 2L, "b"),
      (1L, "2024-01-01 10:00:00", 1L, "a"))
    val out = Changelog.scd2Intervals(e, "k", "ts", "id", "st")
      .orderBy("valid_from", "state")
      .collect().map(r => (r.getString(1), r.getInt(5)))
    // id 1 ("a") precedes id 2 ("b") despite the shared timestamp;
    // both intervals start at the same formatted second, "b" is current
    assert(out.toSet === Set(("a", 0), ("b", 1)))
  }

  private def changes(rows: (Long, Long, String, String, Long)*) =
    rows.map { case (k, id, t, typ, v) => (k, id, ts(t), typ, v) }
      .toDF("k", "id", "ts", "typ", "v")

  private def latest(df: org.apache.spark.sql.DataFrame) =
    Changelog.latestState(df, "k", "ts", "id",
        tombstone = org.apache.spark.sql.functions.col("typ") === "del",
        payload = Seq("typ", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toList

  test("cdc: latest change wins and n_changes counts the full history") {
    val c = changes(
      (1L, 1L, "2024-01-01 10:00:00", "ins", 10L),
      (1L, 2L, "2024-01-01 11:00:00", "upd", 20L),
      (1L, 3L, "2024-01-01 12:00:00", "upd", 30L))
    assert(latest(c) ===
      List((1L, "upd", 30L, "2024-01-01 12:00:00", 3L)))
  }

  test("cdc: a tombstone as the latest change deletes the key; an update after a tombstone resurrects it") {
    val c = changes(
      (1L, 1L, "2024-01-01 10:00:00", "ins", 10L),
      (1L, 2L, "2024-01-01 11:00:00", "del", 0L),
      (2L, 3L, "2024-01-01 10:00:00", "del", 0L),
      (2L, 4L, "2024-01-01 11:00:00", "ins", 42L))
    assert(latest(c) ===
      List((2L, "ins", 42L, "2024-01-01 11:00:00", 2L)))
  }

  test("cdc: same-timestamp changes break the tie by id") {
    val c = changes(
      (1L, 2L, "2024-01-01 10:00:00", "upd", 99L),
      (1L, 1L, "2024-01-01 10:00:00", "ins", 10L))
    assert(latest(c) ===
      List((1L, "upd", 99L, "2024-01-01 10:00:00", 2L)))
  }

  test("cdc: aggregation plan has no window or sort before the shuffle") {
    val c = changes((1L, 1L, "2024-01-01 10:00:00", "ins", 10L))
    val plan = Changelog.latestState(c, "k", "ts", "id",
      tombstone = org.apache.spark.sql.functions.col("typ") === "del",
      payload = Seq("typ", "v")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "latestState must not plan a window")
    assert(plan.contains("partial_max_by") || plan.contains("HashAggregate")
      || plan.contains("ObjectHashAggregate"),
      s"expected a partial-aggregated plan, got:\n$plan")
  }
}
