package graft.pipeline

/** One-pass readers of the HTTP embedders' response bodies: OpenAI's
  * `{"data":[{"index":i,"embedding":[...]},...]}` and TEI's
  * `[[...],[...],...]`. Each component is parsed where it lies in the
  * body, with no `String` per float.
  *
  * Tolerated like any JSON reader: whitespace, either field order, and
  * fields the reader does not need (`"object":"embedding"`, `"model"`,
  * `"usage"`). A component is the text between its separators, trimmed
  * as `String.trim` trims, and reads to the float that `toFloat` gives
  * it, bit for bit ([[parseFloat]]). */
private[graft] object EmbeddingResponse {

  /** The vectors of an OpenAI response to `n` inputs, placed by their
    * `index` tags. */
  def openAi(body: String, n: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val r = new Reader(body, dim)
    val out = new Array[Array[Float]](n)
    r.fields { () =>
      if (r.keyIs("data")) r.elements { () =>
        var idx = -1L
        var vector: Array[Float] = null
        var bad: String = null
        r.fields { () =>
          if (r.keyIs("index")) idx = r.index()
          else if (r.keyIs("embedding")) {
            vector = r.floats()
            bad = r.nonFinite
          } else r.skipValue()
        }
        // an entry lacking either field places nothing, as before
        if (idx >= 0 && vector != null) {
          require(idx < n, s"embedding response index $idx is out of range for $n inputs")
          if (bad != null) throw nonFinite(idx.toInt, bad)
          out(idx.toInt) = vector
        }
      } else r.skipValue()
    }
    require(out.forall(_ != null), "embedding response missing indices")
    out.toIndexedSeq
  }

  /** The vectors of a TEI response to `n` inputs: a top-level array of
    * float arrays, in request order. */
  def tei(body: String, n: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val r = new Reader(body, dim)
    val out = IndexedSeq.newBuilder[Array[Float]]
    var count = 0
    r.elements { () =>
      val vector = r.floats()
      if (r.nonFinite != null) throw nonFinite(count, r.nonFinite)
      out += vector
      count += 1
    }
    require(count == n, s"hugging-face response carried $count embeddings for $n inputs")
    out.result()
  }

  /** `toFloat` accepts `NaN`, `Infinity` and literals that overflow to ∞
    * (`1e39`); none is a JSON number, so a vector carrying one could not
    * be written to a sink, and the response is rejected. */
  private def nonFinite(vector: Int, text: String) = new IllegalArgumentException(
    s"embedding response vector $vector has a non-finite component '$text'")

  /** Exact doubles 1e0 … 1e22: each is 2^k·5^k with 5^k < 2^53. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10.0)

  /** `s.substring(from, until).toFloat`, bit for bit, without the
    * substring on the common path.
    *
    * Fast path (Clinger): a plain decimal `-?d+(.d+)?([eE][+-]?d+)?` with
    * at most 15 significant digits m and a decimal exponent |e| ≤ 22 is
    * m·10^e with both factors exact in a double, so one multiply or
    * divide gives the correctly rounded double. Casting that to float
    * rounds correctly too, unless the double sits exactly on a midpoint
    * between two floats (it may have been rounded onto it), or outside
    * the normal float range. Those, and every other literal, go to
    * `Float.parseFloat`. */
  def parseFloat(s: String, from: Int, until: Int): Float = {
    var i = from
    val neg = i < until && s.charAt(i) == '-'
    if (neg) i += 1
    var m = 0L
    var digits = 0
    var exp10 = 0
    val intStart = i
    while (i < until && isDigit(s.charAt(i))) {
      val d = s.charAt(i) - '0'
      if (m > 0 || d > 0) { m = m * 10 + d; digits += 1 }
      i += 1
    }
    var ok = i > intStart
    if (ok && i < until && s.charAt(i) == '.') {
      i += 1
      val fracStart = i
      while (i < until && isDigit(s.charAt(i))) {
        val d = s.charAt(i) - '0'
        if (m > 0 || d > 0) { m = m * 10 + d; digits += 1 }
        exp10 -= 1
        i += 1
      }
      ok = i > fracStart
    }
    if (ok && i < until && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      val expNeg = i < until && s.charAt(i) == '-'
      if (i < until && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      val expStart = i
      var e = 0
      while (i < until && isDigit(s.charAt(i))) {
        if (e < 1000) e = e * 10 + (s.charAt(i) - '0')
        i += 1
      }
      ok = i > expStart
      exp10 += (if (expNeg) -e else e)
    }
    // digits > 15 may also have overflowed m: the slow path ignores it
    if (ok && i == until && digits <= 15) {
      if (m == 0) return if (neg) -0.0f else 0.0f
      if (exp10 >= -22 && exp10 <= 22) {
        val d = if (exp10 >= 0) m * Pow10(exp10) else m / Pow10(-exp10)
        val low29 = java.lang.Double.doubleToRawLongBits(d) & 0x1fffffffL
        if (d >= java.lang.Float.MIN_NORMAL && d <= java.lang.Float.MAX_VALUE &&
            low29 != 0x10000000L) {
          val f = d.toFloat
          return if (neg) -f else f
        }
      }
    }
    java.lang.Float.parseFloat(s.substring(from, until))
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** A cursor over one body. Whitespace is any char ≤ ' ', as `trim`
    * has it. */
  private final class Reader(s: String, dim: Int) {
    private var pos = 0
    private var keyFrom, keyUntil = 0
    private var buf = new Array[Float](math.max(dim, 1))
    /** The text of the first non-finite component of the last
      * [[floats]] call, or null. */
    var nonFinite: String = null

    private def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"malformed embedding response at offset $pos: $what")

    private def skipWs(): Unit = while (pos < s.length && s.charAt(pos) <= ' ') pos += 1

    private def peek(): Char = {
      skipWs()
      if (pos < s.length) s.charAt(pos) else fail("unexpected end")
    }

    private def expect(c: Char): Unit =
      if (peek() == c) pos += 1 else fail(s"expected '$c'")

    /** The members of an object; `member` is called with the cursor on
      * each value, its key readable by [[keyIs]], and must consume it. */
    def fields(member: () => Unit): Unit = {
      expect('{')
      if (peek() == '}') pos += 1
      else {
        var more = true
        while (more) {
          if (peek() != '"') fail("expected a key")
          keyFrom = pos + 1
          skipString()
          keyUntil = pos - 1
          expect(':')
          member()
          if (peek() == ',') pos += 1 else { expect('}'); more = false }
        }
      }
    }

    /** The elements of an array; `element` must consume each. */
    def elements(element: () => Unit): Unit = {
      expect('[')
      if (peek() == ']') pos += 1
      else {
        var more = true
        while (more) {
          element()
          if (peek() == ',') pos += 1 else { expect(']'); more = false }
        }
      }
    }

    def keyIs(name: String): Boolean =
      keyUntil - keyFrom == name.length && s.regionMatches(keyFrom, name, 0, name.length)

    /** A non-negative integer value, as a Long; a longer run of digits
      * reads as Long.MaxValue, which no input count reaches. */
    def index(): Long = {
      skipWs()
      val start = pos
      var v = 0L
      while (pos < s.length && isDigit(s.charAt(pos))) {
        v = if (v > (Long.MaxValue - 9) / 10) Long.MaxValue else v * 10 + (s.charAt(pos) - '0')
        pos += 1
      }
      if (pos == start) fail("expected an index")
      v
    }

    /** An array of floats. Each component is the text up to the next
      * `,` or `]`, trimmed. */
    def floats(): Array[Float] = {
      expect('[')
      nonFinite = null
      var k = 0
      if (peek() == ']') pos += 1
      else {
        var more = true
        while (more) {
          skipWs()
          val from = pos
          while (pos < s.length && s.charAt(pos) != ',' && s.charAt(pos) != ']') pos += 1
          if (pos == s.length) fail("unterminated array")
          var until = pos
          while (until > from && s.charAt(until - 1) <= ' ') until -= 1
          val f = parseFloat(s, from, until)
          if (!java.lang.Float.isFinite(f) && nonFinite == null)
            nonFinite = s.substring(from, until)
          if (k == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * k)
          buf(k) = f
          k += 1
          more = s.charAt(pos) == ','
          pos += 1
        }
      }
      java.util.Arrays.copyOf(buf, k)
    }

    /** Skip one value of any type. */
    def skipValue(): Unit = peek() match {
      case '"' => skipString()
      case '{' => fields(() => skipValue())
      case '[' => elements(() => skipValue())
      case _ =>
        val start = pos
        while (pos < s.length && { val c = s.charAt(pos); c > ' ' && c != ',' && c != '}' && c != ']' })
          pos += 1
        if (pos == start) fail("expected a value")
    }

    /** Skip a string literal, the cursor on its opening quote. */
    private def skipString(): Unit = {
      pos += 1
      while (pos < s.length && s.charAt(pos) != '"') pos += (if (s.charAt(pos) == '\\') 2 else 1)
      if (pos >= s.length) fail("unterminated string")
      pos += 1
    }
  }
}
