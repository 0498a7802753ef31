package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 loud-failure guards: corrupt inputs and misuse
  * must fail with a NAMED error, not an opaque NPE/CCE deep in a task
  * (the wrong-length-vector convention, extended per ADVICE r5). */
class AdviceGuardSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.shuffle.partitions" -> "2")

  test("gramMatrix: a null vector ELEMENT fails loudly, naming the index") {
    import spark.implicits._
    val bad = Seq(Seq[java.lang.Double](1.0, null, 3.0))
      .toDF("embedding")
    val e = intercept[Exception] {
      LinAlg.gramMatrix(bad, "embedding", dim = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("null element at index 1")))
  }

  test("unicode_norm: non-literal form argument is a clean analysis error") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("abc", "NFC")).toDF("t", "f").createOrReplaceTempView("un_t")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT unicode_norm(t, f) FROM un_t").collect()
    }
    assert(e.getMessage.contains("foldable STRING literal"))
    // the supported literal form still works
    val ok = spark.sql("SELECT unicode_norm(t, 'NFC') FROM un_t").collect()
    assert(ok.head.getString(0) === "abc")
  }

  test("minhash_signature: non-literal k argument is a clean analysis error") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("abc", 4)).toDF("t", "k").createOrReplaceTempView("mh_t")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_signature(t, k) FROM mh_t").collect()
    }
    assert(e.getMessage.contains("foldable non-null INT literal"))
    // CAST(NULL AS INT) is foldable AND correctly typed — without the
    // null check it would silently unbox to k = 0
    val n = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_signature(t, CAST(NULL AS INT)) FROM mh_t")
        .collect()
    }
    assert(n.getMessage.contains("foldable non-null INT literal"))
  }

  test("INT count arguments below 1 are clean analysis errors") {
    import spark.implicits._
    Seq(("a b c", Seq("a", "b", "c"))).toDF("t", "w").createOrReplaceTempView("cnt_t")
    Seq("ngram_hashes(w, 0)", "ngram_strings(t, 0)", "top_gram_fraction(t, 0)",
        "minhash_signature(w, -1)", "classifier_score(t, 0)").foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM cnt_t").collect()
      }
      val fn = call.takeWhile(_ != '(')
      assert(e.getMessage.contains(s"$fn needs an INT argument >= 1"), e.getMessage)
    }
  }
}
