package graft.pipeline

import java.math.BigDecimal

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass response reader ([[EmbeddingResponse]]) against what the
  * embedders read before it: `String.trim.toFloat` per component, and
  * any field order, whitespace and extra fields around the vectors. */
class EmbeddingResponseSpec extends AnyFunSuite {
  import EmbeddingResponseSpec._

  private def check(prop: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1).withInitialSeed(Seed(SeedValue))
    val result = Test.check(params, prop)
    assert(result.passed, s"seed $SeedValue: ${Pretty.pretty(result, Pretty.Params(2))}")
  }

  test("parseFloat equals String.toFloat bit for bit on generated components") {
    check(Prop.forAll(Gen.listOfN(200, component)) { xs =>
      val wrong = xs.filter(s => bits(EmbeddingResponse.parseFloat(s, 0, s.length)) != bits(s.toFloat))
      wrong.isEmpty :| wrong.take(5).map(s =>
        s"'$s': read ${EmbeddingResponse.parseFloat(s, 0, s.length)}, toFloat ${s.toFloat}").mkString("\n")
    }, cases = 500)
  }

  test("parseFloat reads inside a larger string and on hand-picked edges") {
    val edges = Seq("0", "-0", "-0.0", "0e0", "-0e-99", "1", "-1", "16777217", "16777219",
      "33554434", "33554438", "1e22", "1e23", "1e-22", "1e-23", "3.4028235e38", "3.4028236e38",
      "1.17549435E-38", "1.4E-45", "7.0E-46", "0.5", "1.", ".5", "+1", "1f", "0x1p3",
      "123456789012345", "1234567890123456", "12345678901234567890", "00000000000000000001.5")
    edges.foreach { s =>
      val padded = s"[$s]"
      assert(bits(EmbeddingResponse.parseFloat(padded, 1, padded.length - 1)) == bits(s.toFloat), s)
    }
  }

  test("OpenAI reader: any field order, whitespace and extra fields read the same vectors") {
    check(Prop.forAll(openAiCase) { case (vectors, body) =>
      val got = EmbeddingResponse.openAi(body, vectors.length, dim = 4)
      sameVectors(got, vectors) :| s"body: $body"
    }, cases = 300)
  }

  test("TEI reader: whitespace around every token reads the same vectors") {
    check(Prop.forAll(teiCase) { case (vectors, body) =>
      val got = EmbeddingResponse.tei(body, vectors.length, dim = 4)
      sameVectors(got, vectors) :| s"body: $body"
    }, cases = 300)
  }

  test("readers keep their named errors") {
    def err(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    // a non-finite component before its index is still named by index
    assert(err(EmbeddingResponse.openAi(
      """{"data":[{"embedding":[1.0, NaN ],"object":"embedding","index":1},""" +
        """{"index":0,"embedding":[2.0,3.0]}]}""", 2, 2))
      .contains("vector 1 has a non-finite component 'NaN'"))
    assert(err(EmbeddingResponse.openAi("""{"data":[{"index":0,"embedding":[1.0]}]}""", 2, 1))
      .contains("missing indices"))
    assert(err(EmbeddingResponse.openAi(
      """{"data":[{"index":99999999999999999999,"embedding":[1.0]}]}""", 1, 1))
      .contains("out of range for 1 inputs"))
    assert(err(EmbeddingResponse.tei("[[1.0],[2.0]]", 3, 1))
      .contains("carried 2 embeddings for 3 inputs"))
    assert(err(EmbeddingResponse.tei("[[1.0],[2.0", 2, 1)).contains("malformed"))
    assert(err(EmbeddingResponse.openAi("""{"data":[{"index":0,"embedding":[1.0]}""", 1, 1))
      .contains("malformed"))
  }
}

object EmbeddingResponseSpec {
  val SeedValue = 20261019L

  def bits(f: Float): Int = java.lang.Float.floatToIntBits(f)

  def sameVectors(got: IndexedSeq[Array[Float]], want: IndexedSeq[Vector[String]]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.length == w.length && g.indices.forall(k => bits(g(k)) == bits(w(k).toFloat))
    }

  private val digit = Gen.choose('0', '9')
  private def digits(n: Int): Gen[String] = Gen.listOfN(n, digit).map(_.mkString)
  private val sign = Gen.oneOf("", "-")

  /** Float bit patterns as `Float.toString` prints them (normal,
    * subnormal, ±0). */
  private val floatPrinted = Gen.choose(Int.MinValue, Int.MaxValue)
    .map(java.lang.Float.intBitsToFloat).suchThat(f => java.lang.Float.isFinite(f)).map(_.toString)

  /** Doubles as printed: 16–17 digits, often past the float range. */
  private val doublePrinted = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)
      .suchThat(d => java.lang.Double.isFinite(d)),
    Gen.choose(-2.0, 2.0)).map(_.toString)

  /** `±0.dddddddddd` and `±d.ddddddddde±x`: the shape embedding services
    * print. */
  private val tenDigit = for {
    s <- sign; d <- digits(10); e <- Gen.choose(-12, 12); sci <- Gen.oneOf(true, false)
  } yield if (sci) s"$s${d.head}.${d.tail}e$e" else s"${s}0.$d"

  /** Exact midpoints between adjacent floats, printed exactly, and one
    * unit in the last place either side; plus short integer midpoints
    * above 2^24 that the fast path's double lands on exactly. */
  private val midpoint = Gen.oneOf(
    for {
      b <- Gen.choose(0x00800000, 0x7f7ffffe); s <- sign; nudge <- Gen.choose(-1, 1)
    } yield {
      val lo = java.lang.Float.intBitsToFloat(b).toDouble
      val hi = java.lang.Float.intBitsToFloat(b + 1).toDouble
      val mid = new BigDecimal(lo).add(new BigDecimal(hi)).divide(BigDecimal.valueOf(2))
      s + mid.add(BigDecimal.ONE.movePointLeft(mid.scale + 1).multiply(BigDecimal.valueOf(nudge.toLong))).toString
    },
    for { k <- Gen.choose(0, 1 << 20); e <- Gen.choose(0, 20); s <- sign } yield
      s + BigDecimal.valueOf((1L << 24) + 2 * k + 1).multiply(BigDecimal.valueOf(2).pow(e)).toPlainString)

  private val zero = Gen.oneOf("0", "-0", "0.0", "-0.0", "0e5", "-0.000e-7", "0.000000000000000000000")

  /** Mantissas of 1–15 digits with exponents -50…50 in every spelling. */
  private val exponent = for {
    s <- sign; n <- Gen.choose(1, 15); d <- digits(n); point <- Gen.choose(0, n)
    e <- Gen.choose(-50, 50); mark <- Gen.oneOf("e", "E", "e+", "E-")
  } yield {
    val m = if (point == n) d else s"${d.take(point max 1)}.${d.drop(point max 1)}".stripSuffix(".")
    val exp = if (mark.endsWith("-")) -e.abs else e
    s"$s$m${mark.take(1)}${if (mark.endsWith("+") && exp >= 0) "+" else ""}$exp"
  }

  /** 19–30 significant digits: past the fast path and past a Long. */
  private val longDigits = for {
    s <- sign; n <- Gen.choose(19, 30); d <- digits(n); point <- Gen.choose(1, n)
  } yield s"$s${d.take(point)}.${d.drop(point)}".stripSuffix(".")

  val component: Gen[String] = Gen.frequency(
    4 -> floatPrinted, 2 -> doublePrinted, 4 -> tenDigit, 2 -> midpoint,
    1 -> zero, 2 -> exponent, 1 -> longDigits)

  private val ws = Gen.frequency(4 -> Gen.const(""),
    1 -> Gen.listOfN(3, Gen.oneOf(' ', '\n', '\t', '\r')).map(_.mkString))

  private val vectors: Gen[IndexedSeq[Vector[String]]] = for {
    n <- Gen.choose(1, 6); dim <- Gen.choose(0, 5)
    vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.oneOf(floatPrinted, tenDigit)).map(_.toVector))
  } yield vs.toIndexedSeq

  /** A JSON value the reader must skip, brackets and quotes inside
    * strings included. */
  private val extraValue: Gen[String] = Gen.oneOf(
    Gen.const("\"embedding\""), Gen.const("\"a ] } [ { \\\" , :\""), Gen.const("null"),
    Gen.const("true"), Gen.const("-12.5e3"),
    Gen.const("""{"prompt_tokens":8,"nested":{"a":[1,[2,"]"]]}}"""),
    Gen.const("""[{"x":"}"},[],{}]"""))

  private def array(xs: Seq[String], w: () => String): String =
    xs.map(x => w() + x + w()).mkString("[", ",", "]")

  /** One body per case, with its whitespace drawn up front. */
  private def withWs[T](n: Int)(f: (() => String) => T): Gen[T] =
    Gen.listOfN(n, ws).map { pads =>
      val it = Iterator.continually(pads).flatten
      f(() => it.next())
    }

  val openAiCase: Gen[(IndexedSeq[Vector[String]], String)] = for {
    vs <- vectors
    order <- Gen.long.map(seed => new scala.util.Random(seed).shuffle(vs.indices.toList))
    entryExtras <- Gen.listOfN(vs.length, Gen.listOfN(2, Gen.option(extraValue)))
    swaps <- Gen.listOfN(vs.length, Gen.oneOf(true, false))
    topExtra <- Gen.listOfN(2, extraValue)
    body <- withWs(64) { w =>
      def field(k: String, v: String) = s"${w()}\"$k\"${w()}:${w()}$v${w()}"
      val entries = order.zip(entryExtras).zip(swaps).map { case ((i, extras), swap) =>
        val core = Seq(field("index", i.toString), field("embedding", array(vs(i), w)))
        val all: Seq[String] = extras.zipWithIndex.collect { case (Some(v), k) => field(s"x$k", v) } ++
          (if (swap) core.reverse else core)
        all.mkString("{", ",", "}")
      }
      Seq(field("object", topExtra(0)), field("data", array(entries, w)),
        field("usage", topExtra(1))).mkString(w() + "{", ",", "}" + w())
    }
  } yield (vs, body)

  val teiCase: Gen[(IndexedSeq[Vector[String]], String)] = for {
    vs <- vectors
    body <- withWs(64)(w => w() + array(vs.map(v => array(v, w)), w) + w())
  } yield (vs, body)
}
