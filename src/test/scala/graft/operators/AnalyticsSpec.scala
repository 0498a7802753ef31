package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Analytics.funnelCounts]] (strict order, first-touch window,
  * greedy earliest-qualifying maximality) and
  * [[Analytics.cohortRetention]] (first-day cohorts, distinct-day
  * activity, offset cap) against hand-built event chains. */
class AnalyticsSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.session.timeZone" -> "UTC")

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val stages = Seq("view", "click", "purchase")

  private def funnel(rows: Seq[(Long, String, Timestamp)],
                     windowSec: Long = 604800L): Map[String, Long] =
    Analytics.funnelCounts(rows.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", stages, windowSec)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap

  test("strict order: stages out of order don't convert") {
    val rows = Seq[(Long, String, Timestamp)](
      // u1 converts fully in order
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // u2: purchase BEFORE click -> stops at click
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 10:30:00")),
      (2L, "click", ts("2024-01-01 11:00:00")),
      // u3: click only, no view -> enters nothing
      (3L, "click", ts("2024-01-01 11:00:00")))
    assert(funnel(rows) ===
      Map("view" -> 2L, "click" -> 2L, "purchase" -> 1L))
  }

  test("window anchors at FIRST view; equal timestamps don't advance") {
    val rows = Seq[(Long, String, Timestamp)](
      // u1: click 8 days after first view -> outside 7-day window,
      // even though a second view sits closer
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "view", ts("2024-01-05 00:00:00")),
      (1L, "click", ts("2024-01-09 00:00:00")),
      // u2: click at exactly view's timestamp -> strict > fails
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "click", ts("2024-01-01 00:00:00")),
      // u3: click exactly at window edge t1 + 7d -> inclusive
      (3L, "view", ts("2024-01-01 00:00:00")),
      (3L, "click", ts("2024-01-08 00:00:00")))
    assert(funnel(rows) ===
      Map("view" -> 3L, "click" -> 1L, "purchase" -> 0L))
  }

  test("greedy earliest stage choice is maximal") {
    // u1's first click is too early for nothing — earliest click after
    // view still leaves room for the purchase; a non-greedy engine
    // picking the LATER click would also convert, greedy must too
    val rows = Seq[(Long, String, Timestamp)](
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 01:00:00")),
      (1L, "click", ts("2024-01-06 00:00:00")),
      (1L, "purchase", ts("2024-01-02 00:00:00")))
    assert(funnel(rows) ===
      Map("view" -> 1L, "click" -> 1L, "purchase" -> 1L))
  }

  private def retention(rows: Seq[(Long, Timestamp)], cap: Int = 7) =
    Analytics.cohortRetention(rows.toDF("user_id", "ts"), "user_id", "ts", cap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("cohorts by first day; multiple same-day events count once") {
    val rows = Seq[(Long, Timestamp)](
      (1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 18:00:00")),
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-01 23:59:59")), (2L, ts("2024-01-02 00:00:01")),
      (3L, ts("2024-01-02 12:00:00")))
    assert(retention(rows) === Map(
      ("2024-01-01", 0L) -> 2L,   // u1, u2 day 0
      ("2024-01-01", 1L) -> 1L,   // u2 back on day 1
      ("2024-01-01", 2L) -> 1L,   // u1 back on day 2
      ("2024-01-02", 0L) -> 1L))  // u3's own cohort
  }

  test("offset cap drops later activity") {
    val rows = Seq[(Long, Timestamp)](
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-20 00:00:00")))
    assert(retention(rows, cap = 7) === Map(("2024-01-01", 0L) -> 1L))
    assert(retention(rows, cap = 30).contains(("2024-01-01", 19L)))
  }
}
