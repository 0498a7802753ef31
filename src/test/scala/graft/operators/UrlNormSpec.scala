package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[UrlNorm.canonicalize]] rule by rule and the keep-first dedup
  * contract of [[UrlNorm.dedupByCanonicalUrl]]. */
class UrlNormSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private def canon(url: String): String =
    Seq(url).toDF("url")
      .select(UrlNorm.canonicalize(col("url")).as("c"))
      .head().getString(0)

  test("scheme+host lowercase; path case preserved") {
    assert(canon("HTTPS://ExAmPlE.Com/Docs/A") === "https://example.com/Docs/A")
  }

  test("default port stripped per scheme; explicit non-default kept") {
    assert(canon("https://a.com:443/x") === "https://a.com/x")
    assert(canon("http://a.com:80/x") === "http://a.com/x")
    assert(canon("http://a.com:8080/x") === "http://a.com:8080/x")
    // :443 is NOT http's default — must survive
    assert(canon("http://a.com:443/x") === "http://a.com:443/x")
  }

  test("www label, fragment, trailing slash stripped") {
    assert(canon("https://www.a.com/p/#frag") === "https://a.com/p")
    // only a LEADING www. label: wwwx and mid-host www stay
    assert(canon("https://wwwx.a.com/p") === "https://wwwx.a.com/p")
  }

  test("tracking params dropped, survivors sorted, empty query collapses") {
    assert(canon("https://a.com/p?utm_source=x&b=2&a=1&ref=7&fbclid=z&gclid=q")
      === "https://a.com/p?a=1&b=2")
    assert(canon("https://a.com/p?utm_campaign=only") === "https://a.com/p")
    // utm must be a PREFIX match, not a substring: ?xutm_a=1 survives
    assert(canon("https://a.com/p?xutm_a=1") === "https://a.com/p?xutm_a=1")
  }

  test("pathless URLs: query directly after authority, bare host") {
    assert(canon("https://A.com?b=2&a=1") === "https://a.com?a=1&b=2")
    assert(canon("https://A.com:443?utm_source=x") === "https://a.com")
    assert(canon("https://A.com") === "https://a.com")
  }

  test("embedded absolute URL in a param: split at the FIRST '://'") {
    assert(canon("https://a.com/r?to=https://b.com/x")
      === "https://a.com/r?to=https://b.com/x")
  }

  test("literal '?' inside a param value stays in the query") {
    assert(canon("https://a.com/p?a=what?&b=2") === "https://a.com/p?a=what?&b=2")
  }

  test("dedup host column: pathless canonical with surviving params") {
    val spark2 = spark
    import spark2.implicits._
    val out = UrlNorm.dedupByCanonicalUrl(
        Seq((1L, "https://A.com?b=2")).toDF("id", "url"),
        "id", org.apache.spark.sql.functions.col("url"))
      .head()
    assert(out.getAs[String]("canon_url") === "https://a.com?b=2")
    assert(out.getAs[String]("host") === "a.com")
  }

  test("dedup: keep-first by canonical, duplicate counts right") {
    val df = Seq(
      (1L, "HTTP://WWW.A.com:80/x/?utm_source=1"),
      (2L, "http://a.com/x"),
      (3L, "http://a.com/y")).toDF("id", "url")
    val out = UrlNorm.dedupByCanonicalUrl(df, "id", col("url"))
      .orderBy("id").collect()
    assert(out.map(_.getAs[String]("canon_url")).toSeq ===
      Seq("http://a.com/x", "http://a.com/x", "http://a.com/y"))
    assert(out.map(_.getAs[Int]("keep")).toSeq === Seq(1, 0, 1))
    assert(out.map(_.getAs[Long]("n_dups")).toSeq === Seq(2L, 2L, 1L))
    assert(out.map(_.getAs[String]("host")).toSeq ===
      Seq("a.com", "a.com", "a.com"))
  }
}
