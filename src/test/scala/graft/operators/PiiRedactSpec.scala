package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TextAnalysis.piiRedact]]: detection counts, mask order, word
  * boundaries, and the null convention. */
class PiiRedactSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.shuffle.partitions" -> "2")

  import spark.implicits._

  private def redact(rows: (Long, String)*) =
    TextAnalysis.piiRedact(rows.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap

  test("each PII class is counted and masked") {
    val out = redact(
      (1L, "mail a.b+c@ex-1.org now"),
      (2L, "call 555-123-4567 twice: 555-000-1111"),
      (3L, "host 10.0.0.1 and 192.168.255.7"),
      (4L, "clean text only"))
    assert(out(1L) === ((1L, 0L, 0L, "mail [EMAIL] now")))
    assert(out(2L) === ((0L, 2L, 0L, "call [PHONE] twice: [PHONE]")))
    assert(out(3L) === ((0L, 0L, 2L, "host [IP] and [IP]")))
    assert(out(4L) === ((0L, 0L, 0L, "clean text only")))
  }

  test("word boundaries: digit runs around a phone/ip shape do not match") {
    val out = redact((1L, "serial 1555-123-45678 code"),
      (2L, "version 10.0.0.12345 ok"))
    assert(out(1L)._2 === 0L)
    assert(out(1L)._4 === "serial 1555-123-45678 code")
    // 10.0.0.12345: the 4th octet starts at a digit boundary but ends
    // mid-run — \d{1,3}\b cannot close inside 12345
    assert(out(2L)._3 === 0L)
  }

  test("null text reports zeros and empty clean_text") {
    val out = redact((1L, null))
    assert(out(1L) === ((0L, 0L, 0L, "")))
  }
}
