package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the hot-key posture of the q44 anchored throttle's
  * secondary-sort form: ONE (user, type) key carrying 1M events must
  * stream through the scan with O(1) state — the previous
  * flatMapGroups form buffered and sorted the whole group in memory,
  * which at 100 TB turns a hot key into an OOM. The greedy arithmetic
  * is pinned exactly: events 1 s apart for 10⁶ s keep one event per
  * 3600 s → ceil(1e6/3600) survivors, anchors at multiples of 3600. */
class ThrottleHotKeySpec extends AnyFunSuite with graft.SharedSpark {

  test("1M-event hot key streams through with O(1) state") {
    import spark.implicits._
    val n = 1000000L
    // one hot key (u=1,"click") with events every second, plus a cold
    // key to prove key-boundary state reset inside a partition scan
    val hot = spark.range(n).select(lit(1L).as("user_id"),
      lit("click").as("event_type"), col("id").as("tss"),
      col("id").as("event_id"))
    val cold = Seq((2L, "view", 0L, 77L), (2L, "view", 10L, 78L))
      .toDF("user_id", "event_type", "tss", "event_id")
    val ev = hot.unionAll(cold)
      .as[(Long, String, Long, Long)]
    val kept = graft.operators.Throttle.anchoredKeep(ev, 3600L).collect()
    val hotKept = kept.filter(_._1 == 1L)
    assert(hotKept.length === ((n + 3599L) / 3600L))
    // anchors land exactly on multiples of 3600 under the greedy chain
    assert(hotKept.forall(r => r._3 % 3600L == 0L))
    // the cold key after the hot key in the same partition scan starts
    // a fresh anchor: its first event is kept, its +10s follow-up is not
    val coldKept = kept.filter(_._1 == 2L)
    assert(coldKept.map(_._4).toSeq === Seq(77L))
  }
}
