package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[Analytics.peakConcurrency]] — pins the closed-interval boundary
  * semantics the q49 oracle relies on: zero-length intervals count,
  * same-instant touch overlaps, and the two-level prefix-sum plan
  * equals a hand-computed sweep. */
class PeakConcurrencySpec extends AnyFunSuite with graft.SharedSpark {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def run(rows: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)]) = {
    import spark.implicits._
    val df = rows.toDF("owner", "st", "en")
    Analytics.peakConcurrency(df, "owner", "st", "en")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
  }

  test("local and distributed regimes agree under a UTC session " +
      "(sf0.001 session bounds)") {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val bounds = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      def run2(localMax: Long) =
        Analytics.peakConcurrency(bounds, "user_id", "st", "en",
            localComputeMaxIntervals = localMax)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
      val local = run2(2000000L)
      assert(local.nonEmpty)
      assert(local === run2(0L))
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("hand-computed sweep: staggered overlap peaks at 3") {
    // A [00:00, 01:00], B [00:30, 01:30], C [00:45, 00:50] → 3 in
    // flight from 00:45; D next day alone
    val got = run(Seq(
      (1L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00")),
      (2L, ts("2024-03-01 00:30:00"), ts("2024-03-01 01:30:00")),
      (3L, ts("2024-03-01 00:45:00"), ts("2024-03-01 00:50:00")),
      (4L, ts("2024-03-02 10:00:00"), ts("2024-03-02 11:00:00"))))
    val usC = ts("2024-03-01 00:45:00").getTime * 1000L
    val usD = ts("2024-03-02 10:00:00").getTime * 1000L
    assert(got === Seq(("2024-03-01", 3L, usC), ("2024-03-02", 1L, usD)))
  }

  test("closed intervals: a start at another's end instant overlaps") {
    val got = run(Seq(
      (1L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00")),
      (2L, ts("2024-03-01 01:00:00"), ts("2024-03-01 02:00:00"))))
    assert(got.head._2 === 2L, "same-microsecond touch must overlap")
  }

  test("zero-length interval occupies its instant") {
    val got = run(Seq(
      (1L, ts("2024-03-01 00:00:00"), ts("2024-03-01 00:00:00")),
      (2L, ts("2024-03-01 00:00:00"), ts("2024-03-01 00:30:00"))))
    assert(got.head._2 === 2L,
      "zero-length interval must count while it exists")
  }

  test("one microsecond past the end no longer overlaps") {
    val t2 = new java.sql.Timestamp(ts("2024-03-01 01:00:00").getTime)
    t2.setNanos(1000) // +1 µs
    val got = run(Seq(
      (1L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00")),
      (2L, t2, ts("2024-03-01 02:00:00"))))
    assert(got.head._2 === 1L, "strictly-after start must not overlap")
  }
}
