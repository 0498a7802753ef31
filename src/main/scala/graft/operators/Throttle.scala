package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Anchored greedy rate limiting — q44's batch operator, extracted so
  * the production query and the hot-key spec share ONE implementation
  * of the gate (verbatim copies drifted apart is the failure mode this
  * file closes).
  *
  * Semantics: at most one kept event per key per `gapSeconds`,
  * anchored on the last KEPT event (a LAG window measures gaps to RAW
  * events and over-suppresses bursts — the q44 doc).
  *
  * Shape: hash-repartition on the key, `sortWithinPartitions`
  * (key, ts, id) through Spark's SPILLING external sorter, then one
  * streaming scan holding O(1) state (current key + anchor) — a hot
  * key streams from disk instead of buffering on-heap (the
  * exactQuantilesDistributed secondary-sort pattern).
  *
  * Input: (user_id, event_type, ts_seconds, event_id) tuples; output:
  * the kept events, same shape, order unspecified. */
object Throttle {

  def anchoredKeep(ev: Dataset[(Long, String, Long, Long)],
                   gapSeconds: Long): Dataset[(Long, String, Long, Long)] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.repartition(col(ev.columns(0)), col(ev.columns(1)))
      .sortWithinPartitions(col(ev.columns(0)), col(ev.columns(1)),
        col(ev.columns(2)), col(ev.columns(3)))
      .mapPartitions { it =>
        var curU = Long.MinValue
        var curT: String = null
        var anchor = Long.MinValue
        it.filter { case (u, t, ts, _) =>
          if (u != curU || curT == null || curT != t) {
            curU = u; curT = t; anchor = Long.MinValue
          }
          if (anchor == Long.MinValue || ts >= anchor + gapSeconds) {
            anchor = ts; true
          } else false
        }
      }
  }
}
