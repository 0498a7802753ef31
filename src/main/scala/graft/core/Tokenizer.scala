package graft.core

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuilder

/** Tokenization abstraction for the token-windowed chunkers.
  *
  * The reference counts/windows tokens with tiktoken `cl100k_base`
  * (reference: src/worker/worker.py:191-193). A real BPE vocab is not
  * available in this zero-egress build, so the default implementation is a
  * deterministic stand-in with the two properties the chunkers actually
  * rely on:
  *
  *   1. '''lossless''': tokens partition the input, so decoding a token
  *      slice (concatenation) reproduces the exact covered substring —
  *      what `encoding.decode(tokens[i:j])` does in the reference.
  *   2. '''~4 chars/token on long letter runs''': long words split into
  *      4-char pieces, matching BPE's behavior on rare words and the
  *      reference's golden fixtures ("testtext"*192 = 384 tokens).
  *
  * Swap in a real BPE by implementing [[Tokenizer]]; every chunker takes
  * the tokenizer as a parameter.
  */
trait Tokenizer extends Serializable {
  /** Split `text` into consecutive token strings; concatenation of the
    * result must equal `text` exactly. */
  def encode(text: String): IndexedSeq[String]
  /** The end offset in `text` of each token of `encode(text)`. By the
    * lossless property, `decode(encode(text).slice(i, j))` is
    * `text.substring(ends(i - 1), ends(j - 1))` (0 for `ends(-1)`). */
  def ends(text: String): Array[Int] = {
    val tokens = encode(text)
    val out = new Array[Int](tokens.length)
    var end = 0
    var k = 0
    while (k < out.length) {
      end += tokens(k).length
      out(k) = end
      k += 1
    }
    out
  }
  final def count(text: String): Int = ends(text).length
  final def decode(tokens: Seq[String]): String = tokens.mkString
}

/** Default tokenizer: GPT-2-style pretokenization (` ?letters`, ` ?digits`,
  * ` ?punctuation-run`, whitespace-run), then any piece longer than
  * [[GraftTokenizer.MaxPieceChars]] chars is split into
  * [[GraftTokenizer.SubPieceChars]]-char sub-pieces. Pure function of the
  * input — safe under Spark task retry. */
object GraftTokenizer extends Tokenizer {
  final val MaxPieceChars = 16
  final val SubPieceChars = 4

  private def isLetter(c: Char): Boolean = Character.isLetter(c)
  private def isDigit(c: Char): Boolean  = Character.isDigit(c)
  private def isSpaceLike(c: Char): Boolean = Character.isWhitespace(c)

  override def ends(text: String): Array[Int] = {
    val out = new ArrayBuilder.ofInt
    val n = text.length
    var i = 0
    while (i < n) {
      val start = i
      var c = text.charAt(i)
      // single leading space attaches to the following word/number/punct
      // piece (GPT-2 pretokenizer convention), so " example" is one token
      if (c == ' ' && i + 1 < n && !isSpaceLike(text.charAt(i + 1))) {
        i += 1
        c = text.charAt(i)
      }
      if (isLetter(c)) {
        while (i < n && isLetter(text.charAt(i))) i += 1
      } else if (isDigit(c)) {
        while (i < n && isDigit(text.charAt(i))) i += 1
      } else if (isSpaceLike(c)) {
        while (i < n && isSpaceLike(text.charAt(i))) i += 1
      } else {
        while (i < n && { val x = text.charAt(i); !isLetter(x) && !isDigit(x) && !isSpaceLike(x) }) i += 1
      }
      // a piece over MaxPieceChars ends every SubPieceChars chars
      if (i - start > MaxPieceChars) {
        var j = start + SubPieceChars
        while (j < i) { out += j; j += SubPieceChars }
      }
      out += i
    }
    out.result()
  }

  /** The substrings between [[ends]]. */
  override def encode(text: String): IndexedSeq[String] = {
    val e = ends(text)
    val out = new Array[String](e.length)
    var from = 0
    var k = 0
    while (k < e.length) {
      out(k) = text.substring(from, e(k))
      from = e(k)
      k += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }
}
