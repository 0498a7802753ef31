package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Uuid5

class ExpressionsSpec extends AnyFunSuite with graft.SharedSpark {

  test("uuid5 expression matches the core implementation and Python vectors") {
    import spark.implicits._
    val out = Seq("hello", "python.org", "text-0-exact").toDF("s")
      .select(GraftFunctions.uuid5(col("s")).as("u")).collect().map(_.getString(0))
    assert(out(0) == "9342d47a-1bab-5709-9869-c840b2eac501")
    assert(out(1) == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
    assert(out(2) == Uuid5.of("text-0-exact"))
  }

  test("cosine_similarity: float and double paths, SQL registration, codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1f, 0f, 0f), Array(0.6f, 0.8f, 0f))).toDF("a", "b")
    val viaColumn = df.select(GraftFunctions.cosineSimilarity(col("a"), col("b")))
      .head().getDouble(0)
    assert(math.abs(viaColumn - 0.6) < 1e-6)
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT cosine_similarity(a, b) FROM vecs").head().getDouble(0)
    assert(viaSql == viaColumn)
    val dbl = df.select(
      GraftFunctions.cosineSimilarity(
        expr("transform(a, x -> cast(x as double))"),
        expr("transform(b, x -> cast(x as double))")).as("c"))
      .head().getDouble(0)
    assert(math.abs(dbl - viaColumn) < 1e-7)
    // identical vectors -> exactly 1.0
    val self = df.select(GraftFunctions.cosineSimilarity(col("a"), col("a"))).head().getDouble(0)
    assert(self == 1.0)
  }

  test("sq_dist_long ≡ the aggregate(zip_with(...)) fold, null semantics included") {
    import spark.implicits._
    // (a, b) fixtures: plain, empty-empty, length mismatch, null
    // element on each side, null array, single element, big values
    val rows = Seq(
      (Seq[java.lang.Long](1L, 5L, -3L), Seq[java.lang.Long](4L, -1L, 2L)),
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](null, 2L)),
      (null, Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](7L), null),
      (Seq[java.lang.Long](1L << 20), Seq[java.lang.Long](-(1L << 20))),
      (Seq[java.lang.Long](0L, 0L, 0L), Seq[java.lang.Long](0L, 0L, 0L)))
    val df = rows.toDF("a", "b")
    val hof = df.select(expr(
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t)"))
      .collect().map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    val native = df.select(GraftFunctions.sqDistLong(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    assert(native.toSeq === hof.toSeq)
    // expected concrete values for the plain rows
    assert(native(0) == 9L + 36L + 25L)
    assert(native(1) == 0L)
    assert(native(7) == (1L << 21) * (1L << 21))
  }

  test("word_tfs ≡ explode(split) + groupBy(word, doc) tallies") {
    import spark.implicits._
    val df = Seq[(Long, String)](
      (1L, "a b a  b"), (2L, ""), (3L, null), (4L, "x"),
      (5L, " lead trail "), (6L, "héllo wörld héllo"))
      .toDF("id", "text")
    val old = df.select(col("id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"), col("id")).agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getLong(1), r.getString(0), r.getLong(2))).toSet
    val neu = df.select(col("id"),
        explode(GraftFunctions.wordTfs(col("text"))).as("e"))
      .select(col("id"), col("e.w"), col("e.x"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(neu === old)
  }

  test("stop_token_stats ≡ size(split) + size(filter(array_contains)) pair") {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val stopArr = stop.map(w => s"'$w'").mkString("array(", ", ", ")")
    val df = Seq[(Long, String)](
      (1L, "the cat sat on the mat"), (2L, ""), (3L, null), (4L, "a"),
      (5L, " the  a "), (6L, "theo is in händ of a"), (7L, "x y z"))
      .toDF("id", "text")
    val old = df.select(col("id"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")).as("nt"),
        when(col("text").isNull, lit(0L))
          .otherwise(expr(
            s"cast(size(filter(split(text, ' '), w -> array_contains($stopArr, w))) as long)"))
          .as("ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val neu = df.select(col("id"),
        GraftFunctions.stopTokenStats(col("text"), stop).as("st"))
      .select(col("id"), coalesce(col("st.nt"), lit(0L)),
        coalesce(col("st.ns"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(neu === old)
  }

  test("cosine_similarity rejects mismatched array element types") {
    import spark.implicits._
    val df = Seq((Array(1f), Array(1.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(GraftFunctions.cosineSimilarity(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine"))
  }

  test("minhash_signature, minhash_words and uuid5 reject wrong input types at analysis") {
    import spark.implicits._
    val df = Seq(("a b", 7L)).toDF("s", "n")
    Seq(GraftFunctions.minhashSignature(col("s"), 4) -> "minhash_signature",
        GraftFunctions.minhashWords(col("s"), 4, 2) -> "minhash_words",
        GraftFunctions.uuid5(col("n")) -> "uuid5").foreach { case (c, fn) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
      assert(e.getMessage.contains(s"$fn needs"), e.getMessage)
    }
  }

  test("count arguments below 1 fail when the column is built") {
    Seq[(() => Any, String)](
      (() => GraftFunctions.ngramHashes(col("w"), 0), "ngram_hashes"),
      (() => GraftFunctions.ngramStrings(col("t"), 0), "ngram_strings"),
      (() => GraftFunctions.topGramFraction(col("t"), 0), "top_gram_fraction"),
      (() => GraftFunctions.minhashSignature(col("w"), -1), "minhash_signature"),
      (() => GraftFunctions.minhashWords(col("w"), 4, 0), "minhash_words")).foreach {
      case (build, fn) =>
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains(fn), e.getMessage)
    }
  }

  test("minhash signature: deterministic, monotone under containment") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e", "x y z")),
      (3L, Seq("p q r"))).toDF("id", "shingles")
    val sigs = df.select(col("id"), GraftFunctions.minhashSignature(col("shingles"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1).length == 64)
    // superset's minima are <= subset's lane-wise (min over more items)
    sigs(1).zip(sigs(2)).foreach { case (sub, sup) => assert(sup <= sub) }
    // deterministic across evaluations
    val again = df.select(col("id"), GraftFunctions.minhashSignature(col("shingles"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == sigs)
    // estimated jaccard from signature agreement ~ true jaccard (3/4)
    val agree = sigs(1).zip(sigs(2)).count { case (x, y) => x == y } / 64.0
    assert(agree > 0.45 && agree <= 1.0)
  }

  test("native expressions stay inside whole-stage codegen") {
    // needs a real scan: a LocalTableScan is folded on the driver and
    // shows no codegen stage regardless of the expression. Read the
    // parquet directly — Tables.embeddings inserts the adaptive
    // single-split repartition (r13), and the pre-execution AQE
    // explain of an exchange-segmented plan omits the codegen stage
    // markers this test greps for; the expressions' codegen behavior
    // is scan-policy-independent.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = e.select(
      GraftFunctions.cosineSimilarity(col("embedding"), col("embedding")).as("c"),
      GraftFunctions.uuid5(col("vec_id").cast("string")).as("u"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen stage in:\n$plan")
    assert(!plan.contains("ScalaUDF"))
  }
}
