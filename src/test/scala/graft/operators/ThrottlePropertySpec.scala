package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Property-style pins for [[Throttle.anchoredKeep]]: on pseudo-random
  * event streams (deterministic LCG — reproducible without a seed
  * file), the distributed operator must equal a sequential reference
  * simulation of the greedy anchored gate, and its output must satisfy
  * the gate's invariants directly. */
class ThrottlePropertySpec extends AnyFunSuite with graft.SharedSpark {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def stream(seed: Long, n: Int): Seq[(Long, String, Long, Long)] = {
    val types = Array("view", "click", "buy")
    lcg(seed).take(n).zipWithIndex.map { case (r, i) =>
      val u = Math.floorMod(r, 5L)
      val t = types(Math.floorMod(r >> 8, 3L).toInt)
      val ts = Math.floorMod(r >> 16, 20000L)
      (u, t, ts, i.toLong)
    }.toSeq
  }

  private def reference(ev: Seq[(Long, String, Long, Long)],
                        gap: Long): Set[(Long, String, Long, Long)] =
    ev.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      var anchor = Long.MinValue
      g.sortBy(e => (e._3, e._4)).filter { e =>
        if (anchor == Long.MinValue || e._3 >= anchor + gap) {
          anchor = e._3; true
        } else false
      }
    }.toSet

  test("anchoredKeep equals the sequential greedy reference on random streams") {
    import spark.implicits._
    for (seed <- Seq(7L, 99L, 40503L); gap <- Seq(1L, 500L, 3600L)) {
      val ev = stream(seed, 400)
      val got = Throttle.anchoredKeep(
        ev.toDF("user_id", "event_type", "tss", "event_id")
          .as[(Long, String, Long, Long)], gap).collect().toSet
      assert(got === reference(ev, gap), s"seed=$seed gap=$gap")
    }
  }

  test("invariants: per-key kept events are >= gap apart, first event always kept") {
    import spark.implicits._
    val gap = 777L
    val ev = stream(31337L, 600)
    val kept = Throttle.anchoredKeep(
      ev.toDF("user_id", "event_type", "tss", "event_id")
        .as[(Long, String, Long, Long)], gap).collect()
    kept.groupBy(e => (e._1, e._2)).values.foreach { g =>
      val ts = g.map(_._3).sorted.toSeq
      ts.zip(ts.drop(1)).foreach { case (a, b) =>
        assert(b >= a + gap, s"gap violation: $a -> $b")
      }
    }
    // the earliest event of every key is unconditionally kept
    val firsts = ev.groupBy(e => (e._1, e._2)).values
      .map(_.minBy(e => (e._3, e._4))).toSet
    assert(firsts.subsetOf(kept.toSet))
  }
}
