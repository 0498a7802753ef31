package graft.core

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** EXACT chunks cut between token end offsets equal the decoded token
  * slices they replace, and uuid5 of streamed parts equals uuid5 of the
  * joined name, on generated text. */
class TokenOffsetsSpec extends AnyFunSuite {
  import TokenOffsetsSpec._

  private def check(prop: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1).withInitialSeed(Seed(SeedValue))
    val result = Test.check(params, prop)
    assert(result.passed, s"seed $SeedValue: ${Pretty.pretty(result, Pretty.Params(2))}")
  }

  /** EXACT as it was written before offsets: decode each token slice. */
  private def sliceChunks(text: String, size: Int, overlap: Int, tok: Tokenizer): Vector[Chunk] = {
    val tokens = tok.encode(text)
    (0 until tokens.length by (size - overlap)).map { i =>
      val t = tok.decode(tokens.slice(i, i + size))
      Chunk(t, Uuid5.of(s"$t-$i-exact"))
    }.toVector
  }

  // BpeTokenizer drops lone surrogates (UTF-8 '?'), so only the
  // stand-in tokenizer sees them
  for ((name, tok, lone) <- Seq(("GraftTokenizer", GraftTokenizer, true), ("BpeTokenizer", Bpe, false))) {
    test(s"$name: ends are the running token lengths, EXACT chunks equal decode(slice)") {
      check(Prop.forAll(text(lone), Gen.choose(1, 40), Gen.choose(0, 39)) { (s, size, rawOverlap) =>
        val overlap = rawOverlap % size
        val tokens = tok.encode(s)
        val ends = tok.ends(s)
        (tok.decode(tokens) == s) :| "encode is not lossless" &&
          (ends.toSeq == tokens.scanLeft(0)(_ + _.length).tail) :| s"ends ${ends.toSeq}" &&
          (tok.count(s) == tokens.length) :| "count" &&
          (Chunkers.exact(Seq(s), size, overlap, tok) == sliceChunks(s, size, overlap, tok)) :|
            s"size $size overlap $overlap"
      }, cases = 300)
    }
  }

  /** PARAGRAPH as it was written before: decode each chunk's
    * concatenated per-paragraph token lists. */
  private def decodedParagraphs(text: String, size: Int, tok: Tokenizer): Vector[String] = {
    val tokenized = text.split("\n\n", -1).map(p => tok.encode(p))
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < tokenized.length) {
      val current = scala.collection.mutable.ArrayBuffer.empty[String]
      while (current.length < math.max(1, (0.75 * size).toInt) && i < tokenized.length) {
        current ++= tokenized(i); i += 1
      }
      val t = tok.decode(current.toSeq)
      out ++= (if (current.length > size) Chunkers.exact(Seq(t), size, 0, tok).map(_.text) else Seq(t))
    }
    out.result()
  }

  for ((name, tok, lone) <- Seq(("GraftTokenizer", GraftTokenizer, true), ("BpeTokenizer", Bpe, false))) {
    test(s"$name: PARAGRAPH chunk texts equal the decoded token lists") {
      check(Prop.forAll(text(lone), Gen.choose(1, 40)) { (s, size) =>
        Chunkers.paragraph(Seq(s), size, 0, tok = tok).map(_.text) == decodedParagraphs(s, size, tok)
      }, cases = 300)
    }
  }

  test("BpeTokenizer: PARAGRAPH chunks keep a lone surrogate") {
    val chunks = Chunkers.paragraph(Seq("text \ud800 tex\n\ntest \udc00"), 100, 0, tok = Bpe)
    assert(chunks.map(_.text) == Vector("text \ud800 textest \udc00"))
  }

  test("uuid5 of streamed parts equals uuid5 of the joined name") {
    check(Prop.forAll(Gen.listOf(Gen.oneOf(text(loneSurrogates = true).map(t => t: Any), Gen.long.map(l => l: Any),
        Gen.choose(-5, 5000).map(i => i: Any)))) { parts =>
      Uuid5.ofParts(parts: _*) == Uuid5.of(parts.map(String.valueOf).mkString("-"))
    }, cases = 300)
    // python: str(uuid.uuid5(uuid.NAMESPACE_DNS, "-".join(map(str, parts))))
    assert(Uuid5.ofParts("job-1", 0L, 5) == "ebcf38a8-85d3-57e3-ad07-697adf82ee12")
    assert(Uuid5.ofParts("d\u00e9j\u00e0 \ud83d\ude00", 3, "exact") ==
      "5378f4fc-06db-5715-addf-90acf5e1e5cc")
    assert(Uuid5.ofParts(42L, 7, "chunk text\nline") == "d80ec750-7292-5c29-a319-f56d0e9f3abb")
  }
}

object TokenOffsetsSpec {
  val SeedValue = 20261019L

  /** A small BPE table, so the trait's default `ends` (derived from
    * `encode`) is exercised too. */
  val Bpe: BpeTokenizer = BpeTokenizer.fromRanks(
    Seq("t", "e", "x", "s", "te", "tex", "text", " t", "in", "ing", "\u00e9")
      .zipWithIndex.toMap)

  /** Letter runs long enough to split into sub-pieces, digits,
    * punctuation, whitespace runs, control characters, surrogate pairs
    * and, if asked, lone surrogates. */
  private def piece(loneSurrogates: Boolean): Gen[String] = Gen.frequency(
    3 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString)),
    2 -> Gen.oneOf(" ", "  ", "\n", "\n\n", "\t", " \r\n"),
    1 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString)),
    1 -> Gen.oneOf(".", "!?", "\"", "--", "\u2026", "\u20ac"),
    1 -> Gen.oneOf("\u0000", "\u0001", "\u001f", "\u007f"),
    1 -> (if (loneSurrogates) Gen.oneOf("\ud83d\ude00", "\ud800", "\udc00")
          else Gen.oneOf("\ud83d\ude00", "\ud835\udc00\ud835\udc01")),
    1 -> Gen.oneOf("d\u00e9j\u00e0", "\u4e2d\u6587", "\u0301", " texting"))

  def text(loneSurrogates: Boolean): Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, piece(loneSurrogates))).map(_.mkString)
}
