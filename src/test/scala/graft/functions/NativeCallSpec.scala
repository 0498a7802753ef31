package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Interpreted eval ≡ generated code for every native function, over
  * generated texts, word arrays and bigint-array pairs. The rows go
  * through parquet: a local relation would be evaluated on the driver,
  * whatever the codegen settings. */
class NativeCallSpec extends AnyFunSuite with graft.SharedSpark {
  import NativeCallSpec._

  test("every native function: interpreted rows equal generated-code rows") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1).withInitialSeed(Seed(SeedValue))
    val result = Test.check(params, Prop.forAll(cases)(runCase))
    assert(result.passed, s"seed $SeedValue: ${Pretty.pretty(result, Pretty.Params(2))}")
  }

  private def runCase(rows: Seq[Input]): Prop = {
    import spark.implicits._
    val dir = Files.createTempDirectory("native-call")
    try {
      rows.toDF().write.mode("overwrite").parquet(dir.toString)
      def eval(conf: Seq[(String, String)]): (String, Seq[String]) = withConf(conf) {
        val df = withAllFunctions(spark.read.parquet(dir.toString))
        (df.queryExecution.executedPlan.toString,
          df.collect().sortBy(_.getLong(0)).map(_.toString).toSeq)
      }
      val (interpretedPlan, interpreted) = eval(Interpreted)
      val (compiledPlan, compiled) = eval(Compiled)
      (!interpretedPlan.contains("*(")) :| s"interpreted plan in codegen:\n$interpretedPlan" &&
        compiledPlan.contains("*(") :| s"compiled plan without codegen:\n$compiledPlan" &&
        (interpreted == compiled) :| interpreted.zip(compiled).filter(p => p._1 != p._2)
          .take(3).map(p => s"interpreted ${p._1}\ncompiled    ${p._2}").mkString("\n")
    } finally graft.core.Fs.deleteTree(dir)
  }

  private def withAllFunctions(df: DataFrame): DataFrame = {
    import GraftFunctions._
    val (text, words, src, a, b) = (col("text"), col("words"), col("src"), col("a"), col("b"))
    val vec = expr("transform(concat(coalesce(a, array()), array(1L, -2L, 3L)), " +
      "x -> cast(coalesce(x, 0L) as float))")
    val fns: Seq[Column] = Seq(
      minhashSignature(words, 8), minhashWords(words, 8, 2),
      cosineSimilarity(vec, reverse(vec)),
      cosineSimilarity(vec.cast("array<double>"), reverse(vec).cast("array<double>")),
      signPlanesCode(vec, 3, 16, 7L), signPlanesCode(vec.cast("array<double>"), 3, 16, 7L),
      signProjectDots(vec, 3, 4, "s\"q"), cmBuckets(text, 5, 97), uuid5(text),
      bloomHitCount(a, BloomBitsTable, 3), ngramHashes(words, 2), wordCount(text),
      lineHashes(src, text), keepLines(src, text, Boiler._1, Boiler._2),
      termTfs(text, Vocab), wordTfs(text), stopTokenStats(text, Stops), sqDistLong(a, b),
      bigramTfs(text), distinctWordHashes(text), md5Hash60(text), md5Hash120(text),
      sortedPairIntersectCount(a, a, b, b), ngramStrings(text, 2), ngramHashSeq(words, 3),
      gopherFractions(text), repetitionRatioRaw(text), qualityScoreRaw(text),
      topGramFraction(text, 2), langId(text), classifierScore(text, 64),
      unicodeNorm(text, "NFKC"), ngramBuckets(words, 2, 16),
      sumLookup(ngramBuckets(words, 2, 16), Table))
    df.select(col("id") +: fns: _*)
  }
}

object NativeCallSpec {
  val SeedValue = 20261019L

  val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  val Compiled = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  final case class Input(id: Long, src: String, text: String, words: Seq[String],
                         a: Seq[java.lang.Long], b: Seq[java.lang.Long])

  /** Words with stopwords, language markers, combining marks, a surrogate
    * pair, a lone surrogate and control characters. */
  val Pieces: Seq[String] = Seq("the", "a", "of", "la", "und", "word", "\u00e9",
    "e\u0301", "\ud83d\ude00", "\ud83d", "\u0000", "\t", "x1", "\u00c4\u00d6", "\u200b", "")
  val Stops: Seq[String] = Seq("the", "a", "\u00e9", "")
  val BoilerLines: Seq[String] = Seq("the a", "x1")
  val Table: Array[Double] = Array.tabulate(16)(i => i * 0.5 - 3.0)

  /** Sorted xxhash64 (seed 42) of half the word pool. */
  val Vocab: Array[Long] = Pieces.take(8).map { w =>
    val u = UTF8String.fromString(w)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }.sorted.toArray

  /** The (hi, lo) keys of [[BoilerLines]] under source "s", sorted. */
  val Boiler: (Array[Long], Array[Long]) = {
    val keys = helpers.lineHashes(UTF8String.fromString("s"),
      UTF8String.fromString(BoilerLines.mkString("\n")))
    val pairs = (0 until keys.numElements()).map { i =>
      val r = keys.getStruct(i, 2)
      (r.getLong(0), r.getLong(1))
    }.sorted
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  val BloomBitsTable: Array[Long] = {
    val bits = new Array[Long](4)
    (-20L to 20L).foreach(h => graft.operators.BloomBits.set(bits, h, 3))
    bits
  }

  private def nullOr[T](g: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.const(null.asInstanceOf[T]), 9 -> g)

  private val line: Gen[String] = Gen.oneOf(
    Gen.oneOf(BoilerLines),
    Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(Pieces)).map(_.mkString(" "))))
  val text: Gen[String] = nullOr(Gen.frequency(
    1 -> Gen.const(""),
    8 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, line).map(_.mkString("\n")))))
  val words: Gen[Seq[String]] = nullOr(Gen.choose(0, 10).flatMap(
    Gen.listOfN(_, nullOr(Gen.oneOf(Pieces)))))
  val longs: Gen[Seq[java.lang.Long]] = nullOr(Gen.choose(0, 6).flatMap(Gen.listOfN(_,
    nullOr(Gen.frequency(8 -> Gen.choose(-30L, 30L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue)).map(java.lang.Long.valueOf)))))

  val cases: Gen[Seq[Input]] = Gen.choose(1, 25).flatMap { n =>
    Gen.sequence[Seq[Input], Input]((0 until n).map { i =>
      for {
        src <- nullOr(Gen.oneOf("s", "t"))
        t <- text
        w <- words
        a <- longs
        b <- longs
      } yield Input(i.toLong, src, t, w, a, b)
    })
  }
}
