package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The static helpers behind the native functions of the hot operators.
  * Each native function is one [[GraftFunctions]] def that builds a
  * [[NativeCall]] of one helper: a single static call inside whole-stage
  * codegen (the pattern Spark's own collection expressions use), so there
  * is no UDF serialization boundary and no per-element lambda dispatch.
  * Four functions keep their own expression class, where the generic call
  * would need a branch: [[CosineSimilarity]], [[SignPlanesCode]] and
  * [[SignProjectDots]] pick their helper or its float flag from the
  * resolved element type, and [[SqDistLong]] unboxes a nullable result.
  *
  * Measured motivation: the `transform(sequence(..), i ->
  * array_min(transform(shingles, s -> xxhash64(s, i))))` form of the
  * MinHash signature re-hashed every shingle string numHashes times
  * through interpreted higher-order functions — 8.2 s of an 11-query
  * sf0.1 bench. The fused helper hashes each shingle once and folds all
  * lanes in one pass.
  */
object helpers {

  /** XXH64 of a possibly-null array element — type checks admit
    * containsNull arrays, so a null element must hash (as the bare
    * seed) rather than NPE inside a task (r2 review finding). */
  private def hashElem(s: UTF8String): Long =
    if (s == null) 42L
    else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  /** Word start/end offsets of the single-space split (empties kept,
    * matching Spark's split(text, ' ')): ONE definition of the span
    * scaffolding shared by every scan-local text helper. Returns
    * (starts, ends, wordCount). */
  private def wordSpans(s: String): (Array[Int], Array[Int], Int) = {
    var nw = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') nw += 1; i += 1 }
    val starts = new Array[Int](nw)
    val ends = new Array[Int](nw)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = s.length
    (starts, ends, nw)
  }

  /** Code-point count of a string — fraction arithmetic must use code
    * points (what Spark's length() and DuckDB's length() count), not
    * UTF-16 units, or any non-BMP char breaks oracle parity. */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Sign-LSH plane matrix, planes(j)(d) = xxhash64(seed, j, d) >> 32 —
    * BIT-IDENTICAL to the SQL form it replaces: Spark's `xxhash64(a,
    * b, c)` folds each argument over an initial seed of 42, and an
    * int-range literal parses as INT (hashInt), so the fold is
    * hashInt(d, hashInt(j, hashInt(seed, 42))). Cached per JVM — a
    * handful of (dim, nPlanes, seed) configs ever live. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Long]]]()

  def signPlanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Long]] =
    planeCache.computeIfAbsent((dim, nPlanes, seed), _ => {
      val seedHash =
        if (seed >= Int.MinValue && seed <= Int.MaxValue)
          XXH64.hashInt(seed.toInt, 42L)
        else XXH64.hashLong(seed, 42L)
      Array.tabulate(nPlanes) { j =>
        val jh = XXH64.hashInt(j, seedHash)
        Array.tabulate(dim)(d => XXH64.hashInt(d, jh) >> 32)
      }
    })

  /** The exact quantization of the SQL `cast(round(cast(x as double) *
    * 1048576, 0) as bigint)`: double multiply, then Spark Round's
    * decimal-text HALF_UP (scala BigDecimal(d) == BigDecimal.valueOf),
    * then the truncating long cast. */
  private def quantHalfUp(xd: Double): Long = {
    val scaled = xd * 1048576.0
    // BigDecimal.valueOf(NaN/Inf) throws a bare NumberFormatException
    // mid-task; the ANSI SQL form also failed on such values (cast of a
    // non-finite double) — keep the failure but make it name the cause
    // (the LinAlg loud-failure convention)
    if (java.lang.Double.isNaN(scaled) || java.lang.Double.isInfinite(scaled))
      throw new IllegalArgumentException(
        s"sign_planes_code: non-finite vector component $xd")
    java.math.BigDecimal.valueOf(scaled)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** nPlanes-bit sign-LSH code of a float/double vector — the compiled
    * twin of the interpreted `aggregate(sequence(..), j ->
    * aggregate(sequence(..), d -> round(x·2²⁰)·plane_jd))` SQL form
    * (nested HOFs are CodegenFallback: at nPlanes = 64 the interpreted
    * form runs 4096 lambda dispatches + xxhash evaluations per row —
    * most of a28's original 5.6 s at sf0.1). Semantics replicated
    * exactly for full-length vectors; a null ELEMENT nulls the SQL
    * dot-product sum so every CASE falls to the 0 bit — 0L here too.
    * One deliberate divergence: a vector SHORTER than `dim` crashed
    * the SQL form (ANSI element_at out-of-range); here it returns the
    * same 0L the null cases produce (SignCodeSpec pins all three). */
  def signCode(arr: ArrayData, dim: Int, nPlanes: Int, seed: Long,
               isFloat: Boolean): Long = {
    if (arr.numElements() < dim) return 0L
    val q = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      if (arr.isNullAt(d)) return 0L
      val xd = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      q(d) = quantHalfUp(xd)
      d += 1
    }
    val planes = signPlanes(dim, nPlanes, seed)
    var code = 0L
    var j = 0
    while (j < nPlanes) {
      val p = planes(j)
      var s = 0L
      var i = 0
      while (i < dim) { s += q(i) * p(i); i += 1 }
      if (s >= 0L) code += (1L << j)
      j += 1
    }
    code
  }

  /** a12's ±1 JL sign matrix, signs(j)(d) from the md5 PARITY of
    * "{seed}{j}_{d}" (j ∈ 1..k, d ∈ 1..dim): +1 iff the first 4 md5
    * bytes read as an unsigned 32-bit value are even — the t17 md5
    * principle; DuckDB replays it as
    * ('0x' || substr(md5(seed || j || '_' || d), 1, 8))::BIGINT % 2.
    * Cached per (dim, k, seed) — a handful of configs ever live. */
  private val signProjCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, String), Array[Array[Long]]]()

  def signProjMatrix(dim: Int, k: Int, seed: String): Array[Array[Long]] =
    signProjCache.computeIfAbsent((dim, k, seed), _ => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(k) { j0 =>
        Array.tabulate(dim) { d0 =>
          val dig = md.digest(
            s"$seed${j0 + 1}_${d0 + 1}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val v = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
            ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
          if (v % 2 == 0) 1L else -1L
        }
      }
    })

  /** The k integer JL sign dot products of one vector — the compiled
    * twin of a12's interpreted `aggregate(sequence(1, dim), ...)` SQL
    * form (k nested-HOF evaluations per row, CodegenFallback — the
    * r9-deferred a12 perf item): same 2²⁰ HALF_UP quantization
    * ([[quantHalfUp]]), same md5-parity signs, pure integer sums — so
    * the outputs are bit-identical to the SQL form and to the DuckDB
    * replay. Null semantics replicated: any null ELEMENT in the first
    * `dim` positions nulls every dot (the SQL sum is null-poisoned) —
    * an all-null k-array here. One divergence, the SignPlanesCode
    * convention: a vector SHORTER than `dim` crashed the ANSI SQL form
    * opaquely (element_at out of range); here it fails loudly with the
    * length. */
  def signProjDots(arr: ArrayData, dim: Int, k: Int, seed: String,
                   isFloat: Boolean): ArrayData = {
    if (arr.numElements() < dim)
      throw new IllegalArgumentException(
        s"sign_project_dots: vector length ${arr.numElements()} < dim $dim")
    val q = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      if (arr.isNullAt(d))
        return new GenericArrayData(Array.fill[Any](k)(null))
      val xd = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      q(d) = quantHalfUp(xd)
      d += 1
    }
    val signs = signProjMatrix(dim, k, seed)
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val row = signs(j)
      var s = 0L
      var i = 0
      while (i < dim) { s += q(i) * row(i); i += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  private val md5Tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All `depth` Count-Min row buckets for one key — digest BYTES, no
    * hex-string hop (r12 verdict #5: the SQL form materialized a
    * 32-char md5 hex string per occurrence and `conv`-parsed four
    * substrings of it; that per-occurrence allocation was the whole
    * map-side cost of the sketch build, which is otherwise a bounded
    * -state scan). Bit-identical to the SQL form the t25 oracle
    * replays: row j reads the big-endian unsigned 32-bit lane j%4 of
    * md5("cm{j/4}|" + key) — exactly
    * ('0x' || substr(md5(...), 1 + j*8, 8))::BIGINT — then % width. */
  def cmBuckets(word: UTF8String, depth: Int, width: Int): ArrayData = {
    val md = md5Tl.get()
    val out = new Array[Long](depth)
    var h = 0
    while (h * 4 < depth) {
      md.reset()
      val dig = md.digest(
        ("cm" + h + "|" + word.toString).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var lane = 0
      while (lane < 4 && h * 4 + lane < depth) {
        val off = lane * 4
        val v = ((dig(off) & 0xffL) << 24) | ((dig(off + 1) & 0xffL) << 16) |
          ((dig(off + 2) & 0xffL) << 8) | (dig(off + 3) & 0xffL)
        out(h * 4 + lane) = v % width
        lane += 1
      }
      h += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: one base XXH64 per shingle, then `num` lanes of
    * SplitMix64-style remixing folded to their minima in a single pass. */
  def minHashSignature(arr: ArrayData, num: Int): ArrayData = {
    val sig = new Array[Long](num)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val base = hashElem(arr.getUTF8String(i))
      var lane = 0
      while (lane < num) {
        var z = base + lane * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < sig(lane)) sig(lane) = z
        lane += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** MinHash signature computed straight from the word array: each word
    * is XXH64-hashed once, an n-gram shingle hash is the XXH64-mix of
    * its n word hashes (no shingle strings are ever built), and all
    * lanes fold in one pass. Duplicate shingles can't change a minimum,
    * so skipping the distinct step is exact. */
  def minHashFromWords(arr: ArrayData, num: Int, shingle: Int): ArrayData = {
    val sig = new Array[Long](num)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = arr.numElements()
    if (n >= shingle) {
      val wh = new Array[Long](n)
      var i = 0
      while (i < n) {
        wh(i) = hashElem(arr.getUTF8String(i))
        i += 1
      }
      var start = 0
      while (start <= n - shingle) {
        var base = wh(start)
        var j = 1
        while (j < shingle) { base = XXH64.hashLong(wh(start + j), base); j += 1 }
        var lane = 0
        while (lane < num) {
          var z = base + lane * 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          if (z < sig(lane)) sig(lane) = z
          lane += 1
        }
        start += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Cosine similarity of two double arrays, left-to-right accumulation
    * (deterministic order — matches the SQL fold the oracle uses). */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(), s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Same over float arrays (the storage type) without an upcast pass;
    * arithmetic still in double. */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(), s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def unicodeNorm(s: UTF8String, form: String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form)))

  def uuid5(name: UTF8String): UTF8String =
    UTF8String.fromString(graft.core.Uuid5.of(name.toString))

  /** Gopher-rules repetition fractions, one scan-local pass per
    * document: [top-2-gram, top-3-gram, top-4-gram, dup-5-gram] char
    * fractions (Rae et al. 2021 §A1.1 — the fraction of characters in
    * the single most frequent n-gram for small n, and in ALL duplicated
    * n-grams for larger n; overlaps intentionally not de-overlapped, so
    * dup fractions can exceed 1 on degenerate text). The top n-gram
    * tie-breaks to the lexicographically smallest, so the statistic is
    * engine-reproducible. A native one-pass expression because per-doc
    * frequency maps must NOT become a corpus-wide (doc, gram) shuffle —
    * this is scan-side profiling, like [[ngramHashes]]. */
  /** Raw top-`n`-gram char fraction for ONE n — the building block of
    * [[gopherFractions]], exposed separately so consumers that need a
    * single slot (the quality verdict uses top-2 only) don't pay for
    * the other three frequency maps. Lengths are CODE POINTS (oracle
    * parity on non-BMP text); the count×length product is Long so
    * degenerate half-gigabyte documents can't wrap negative. */
  def topGramFraction(text: UTF8String, n: Int): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    val (starts, ends, nw) = wordSpans(s)
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i + n <= nw) {
      counts.merge(s.substring(starts(i), ends(i + n - 1)), 1, Integer.sum)
      i += 1
    }
    var bestGram: String = null
    var bestCnt = 0
    counts.forEach { (g, c) =>
      if (c > bestCnt || (c == bestCnt && (bestGram == null || g.compareTo(bestGram) < 0))) {
        bestGram = g; bestCnt = c
      }
    }
    // raw IEEE result — rounding happens in the query layer (round(x,6))
    // so both engines apply the same HALF_UP rule
    if (bestGram == null) 0.0
    else bestCnt.toLong * cpLen(bestGram) / cpLen(s).toDouble
  }

  /** Raw duplicated-`n`-gram char fraction (chars in every n-gram
    * occurring ≥ 2 times; overlaps intentionally counted). */
  def dupGramFraction(text: UTF8String, n: Int): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    val (starts, ends, nw) = wordSpans(s)
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i + n <= nw) {
      counts.merge(s.substring(starts(i), ends(i + n - 1)), 1, Integer.sum)
      i += 1
    }
    var dupChars = 0L
    counts.forEach { (g, c) => if (c >= 2) dupChars += c.toLong * cpLen(g) }
    dupChars / cpLen(s).toDouble
  }

  def gopherFractions(text: UTF8String): ArrayData = {
    val out = new Array[Double](4)
    out(0) = topGramFraction(text, 2)
    out(1) = topGramFraction(text, 3)
    out(2) = topGramFraction(text, 4)
    out(3) = dupGramFraction(text, 5)
    new GenericArrayData(out)
  }

  /** Language id in one word pass — the four per-language marker
    * filters ([[graft.operators.TextAnalysis.LangMarkers]]) counted
    * together, then the fixed-priority argmax (en > de > es > fr >
    * und). Marker membership is exact word equality, and a word can hit
    * several languages' lists ("la" is both es and fr), matching the
    * independent-filter semantics exactly. */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    val (starts, ends, nw) = wordSpans(s)
    var en = 0; var de = 0; var es = 0; var fr = 0
    var i = 0
    while (i < nw) {
      val w = s.substring(starts(i), ends(i))
      if (w == "the" || w == "a" || w == "is" || w == "and" || w == "of") en += 1
      if (w == "der" || w == "die" || w == "das" || w == "und" || w == "ist") de += 1
      if (w == "el" || w == "la" || w == "que" || w == "y" || w == "es") es += 1
      if (w == "le" || w == "la" || w == "et" || w == "est" || w == "les") fr += 1
      i += 1
    }
    UTF8String.fromString(
      if (en >= de && en >= es && en >= fr && en > 0) "en"
      else if (de >= es && de >= fr && de > 0) "de"
      else if (es >= fr && es > 0) "es"
      else if (fr > 0) "fr"
      else "und")
  }

  /** Raw composite quality score — MUST mirror the oracle's IEEE
    * expression shape exactly (CurationQueries.qualitySql):
    * 0.5·(stopHits/wsTokens) + 0.3·min(1, len/500) + 0.2·(1−punct/len),
    * each ratio a single double division of exact integers, summed
    * left-to-right. The Catalyst form spent its time in two
    * regexp_replace passes and an interpreted stopword filter; this is
    * one char/word scan. Empty text scores 0. Rounding stays in the
    * query layer. */
  def qualityScoreRaw(text: UTF8String): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    // count per CODE POINT, not UTF-16 unit: Spark's length() is
    // numChars and Java regex classes match code points, so a non-BMP
    // char must count once here too
    var punct = 0
    var len = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      len += 1
      val alnumSpace = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9') || cp == ' '
      if (!alnumSpace) punct += 1
      i += Character.charCount(cp)
    }
    var wsTokens = 1
    var stopHits = 0
    var start = 0
    i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        val wl = i - start
        // English stopwords: the / a / of / and / to / in / is
        if (wl == 1) {
          if (s.charAt(start) == 'a') stopHits += 1
        } else if (wl == 2) {
          val c0 = s.charAt(start); val c1 = s.charAt(start + 1)
          if ((c0 == 'o' && c1 == 'f') || (c0 == 't' && c1 == 'o') ||
              (c0 == 'i' && (c1 == 'n' || c1 == 's'))) stopHits += 1
        } else if (wl == 3) {
          val c0 = s.charAt(start); val c1 = s.charAt(start + 1); val c2 = s.charAt(start + 2)
          if ((c0 == 't' && c1 == 'h' && c2 == 'e') ||
              (c0 == 'a' && c1 == 'n' && c2 == 'd')) stopHits += 1
        }
        if (i < s.length) wsTokens += 1
        start = i + 1
      }
      i += 1
    }
    0.5 * (stopHits.toDouble / wsTokens.toDouble) +
      0.3 * math.min(1.0, len.toDouble / 500.0) +
      0.2 * (1.0 - punct.toDouble / len.toDouble)
  }

  /** Raw repetition ratio 1 − distinct-bigrams/total-bigrams (0.0 for
    * texts under two words) — same substring-span construction as
    * [[gopherFractions]]. The HOF form (`transform(sequence(..),
    * i -> concat(element_at..))` + `array_distinct`) cost 27 s over
    * 50k docs; this pass is sub-second. Rounding stays in the query
    * layer. */
  def repetitionRatioRaw(text: UTF8String): Double = {
    val s = text.toString
    val (starts, ends, nw) = wordSpans(s)
    val total = nw - 1
    if (total <= 0) return 0.0
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i + 2 <= nw) { distinct.add(s.substring(starts(i), ends(i + 1))); i += 1 }
    1.0 - distinct.size.toDouble / total.toDouble
  }

  /** The lo-half seed of the 128-bit line key: any constant ≠ 42 gives
    * an independent second XXH64 chain. r13 verdict residual risk (a):
    * with 64-bit keys alone, birthday collisions at 100 TB line
    * cardinalities silently drop non-boiler lines; two independent
    * 64-bit chains close that the way d20's 120-bit postings did. */
  private val LineKeyLoSeed = 1042L

  /** 128-bit (hi, lo) line keys for every '\n'-separated line of
    * `text`, one byte pass. hi is bit-identical to
    * `transform(split(text, '\n'), l -> xxhash64(src, l))` (Spark's
    * XxHash64 chains children as hash = XXH64(bytes, prevHash) from
    * seed 42, a null child leaving the hash unchanged); lo is the same
    * chain from [[LineKeyLoSeed]]. 0x0A is never part of a UTF-8
    * multi-byte sequence, and split keeps empty lines. The key is
    * engine-internal (the oracle replays raw (source, line) strings) —
    * any deterministic keying both passes share is valid. */
  def lineHashes(src: UTF8String, text: UTF8String): ArrayData = {
    val seedHi = if (src == null) 42L
      else XXH64.hashUnsafeBytes(src.getBaseObject, src.getBaseOffset,
        src.numBytes(), 42L)
    val seedLo = if (src == null) LineKeyLoSeed
      else XXH64.hashUnsafeBytes(src.getBaseObject, src.getBaseOffset,
        src.numBytes(), LineKeyLoSeed)
    val n = text.numBytes()
    var cnt = 1
    var i = 0
    while (i < n) { if (text.getByte(i) == 0x0a) cnt += 1; i += 1 }
    val out = new Array[AnyRef](cnt)
    var m = 0
    var ws = 0
    i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x0a) {
        out(m) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](
            XXH64.hashUnsafeBytes(text.getBaseObject,
              text.getBaseOffset + ws, i - ws, seedHi),
            XXH64.hashUnsafeBytes(text.getBaseObject,
              text.getBaseOffset + ws, i - ws, seedLo)))
        m += 1
        ws = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Membership probe against the aligned (hi, lo) boiler arrays,
    * sorted by (hi, lo): binary-search hi, walk the equal-hi run
    * comparing lo — the d20 aligned-long-array convention. */
  private def isBoilerLine(hi: Long, lo: Long,
                           bHi: Array[Long], bLo: Array[Long]): Boolean = {
    var idx = java.util.Arrays.binarySearch(bHi, hi)
    if (idx < 0) return false
    while (idx > 0 && bHi(idx - 1) == hi) idx -= 1
    while (idx < bHi.length && bHi(idx) == hi) {
      if (bLo(idx) == lo) return true
      idx += 1
    }
    false
  }

  /** Scan-local boilerplate removal: drop every line whose 128-bit
    * (hi, lo) key sits in `boiler` = (hi, lo), two aligned arrays
    * sorted by (hi, lo), and
    * return (n_lines, n_kept, clean_text = kept lines '\n'-joined,
    * original order). One byte pass + one binary search per line — the
    * shuffle-free rebuild of the removeBoilerplate anti-join +
    * collect_list form (bit-identical: same line split, same hash
    * chains, same join separator). */
  def keepLines(src: UTF8String, text: UTF8String,
                boiler: Array[Array[Long]]): InternalRow = {
    val boilerHi = boiler(0)
    val boilerLo = boiler(1)
    val seedHi = if (src == null) 42L
      else XXH64.hashUnsafeBytes(src.getBaseObject, src.getBaseOffset,
        src.numBytes(), 42L)
    val seedLo = if (src == null) LineKeyLoSeed
      else XXH64.hashUnsafeBytes(src.getBaseObject, src.getBaseOffset,
        src.numBytes(), LineKeyLoSeed)
    val n = text.numBytes()
    var nLines = 0L
    var nKept = 0L
    var cleanBytes = 0
    // pass 1: count lines / kept lines / kept bytes
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x0a) {
        nLines += 1
        val hi = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + ws, i - ws, seedHi)
        val lo = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + ws, i - ws, seedLo)
        if (!isBoilerLine(hi, lo, boilerHi, boilerLo)) {
          nKept += 1
          cleanBytes += (i - ws)
        }
        ws = i + 1
      }
      i += 1
    }
    val out = new Array[Byte](
      if (nKept == 0L) 0 else cleanBytes + (nKept.toInt - 1))
    // pass 2: copy kept line bytes with '\n' separators
    var p = 0
    var first = true
    ws = 0
    i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x0a) {
        val hi = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + ws, i - ws, seedHi)
        val lo = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + ws, i - ws, seedLo)
        if (!isBoilerLine(hi, lo, boilerHi, boilerLo)) {
          if (!first) { out(p) = 0x0a; p += 1 }
          first = false
          var j = ws
          while (j < i) { out(p) = text.getByte(j); p += 1; j += 1 }
        }
        ws = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, nKept, UTF8String.fromBytes(out)))
  }

  /** Single-space word count = spaces + 1 over the UTF-8 bytes (0x20 is
    * never part of a multi-byte sequence) — bit-identical to
    * `size(split(text, " "))` (empties kept, "" counts 1) without
    * materializing the token array. */
  def wordCount(text: UTF8String): Int = {
    val n = text.numBytes()
    var c = 1
    var i = 0
    while (i < n) {
      if (text.getByte(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  /** Per-document term frequencies restricted to a (sorted) query
    * vocabulary of xxhash64 term hashes — the fused form of
    * `explode(split(text, ' ')) → xxhash64 → broadcast-semi-join →
    * groupBy(doc, term).count()`: the corpus-terms scan that dominates
    * the BM25/retrieval family (a11 measured 37 s of executor CPU at
    * sf0.1, almost all in the explode+hash+probe+agg chain). One pass
    * over the document's UTF-8 BYTES (split on 0x20 — space is never
    * part of a multi-byte sequence, and empty tokens hash like Spark's
    * split keeps them), each word hashed in place with the same
    * XXH64(seed 42) Spark's xxhash64 computes, binary-searched against
    * the vocabulary, and matched hashes run-length-encoded after an
    * in-buffer sort. Output rows (ht, tf) sorted by ht. */
  def termTfs(text: UTF8String, vocab: Array[Long]): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    var buf = new Array[Long](16)
    var m = 0
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x20) {
        val h = XXH64.hashUnsafeBytes(base, off + ws, i - ws, 42L)
        if (java.util.Arrays.binarySearch(vocab, h) >= 0) {
          if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
          buf(m) = h
          m += 1
        }
        ws = i + 1
      }
      i += 1
    }
    if (m == 0) return new GenericArrayData(Array.empty[AnyRef])
    java.util.Arrays.sort(buf, 0, m)
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    var s = 0
    i = 1
    while (i <= m) {
      if (i == m || buf(i) != buf(s)) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](buf(s), (i - s).toLong))
        s = i
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** First 60 bits of md5(s) as a long — bit-identical to the SQL form
    * `conv(substring(md5(s), 1, 15), 16, 10)` every DuckDB oracle
    * replays, computed from the digest BYTES directly: the SQL form
    * materializes a 32-char hex string and re-parses 15 digits per
    * call (the t25 count-min disease, r13: one digest + hex + conv per
    * posting, twice when the lo half is also needed). */
  def md5Hash60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Both disjoint 60-bit halves of md5(s) — hex digits 1–15 and 16–30
    * — from ONE digest, as a (hi, lo) struct row. Bit-identical to the
    * `conv(substring(md5(s), 1|16, 15), 16, 10)` pair. */
  def md5Hash120(s: UTF8String): InternalRow = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h = (h << 4) | ((d(7) & 0xf0L) >> 4)
    // lo: the low nibble of byte 7, then bytes 8..14 (hex digits 16-30)
    var l = d(7) & 0x0fL
    i = 8
    while (i < 15) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](h, l))
  }

  /** Intersection size of two sets of 120-bit (hi, lo) pairs, each
    * given as two ALIGNED long arrays sorted ascending by (hi, lo) —
    * one merge walk, no per-element allocation. Replaces
    * `size(array_intersect(...))` over `array<struct<long,long>>`,
    * whose struct path falls back to interpreted per-element
    * ordering/equality (measured 6.6× on the d20 verify). Duplicate
    * pairs (impossible for per-doc distinct shingles, but harmless)
    * advance both cursors, matching set semantics. */
  def sortedPairIntersect(aHi: ArrayData, aLo: ArrayData,
                          bHi: ArrayData, bLo: ArrayData): Int = {
    val na = aHi.numElements()
    val nb = bHi.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val ah = aHi.getLong(i); val bh = bHi.getLong(j)
      if (ah < bh) i += 1
      else if (ah > bh) j += 1
      else {
        val al = aLo.getLong(i); val bl = bLo.getLong(j)
        if (al < bl) i += 1
        else if (al > bl) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }

  /** Distinct word n-gram STRINGS in first-occurrence order — the
    * oracle-facing twin of [[ngramHashes]] (d02's DuckDB oracle joins
    * on the strings, so they must exist; everything hash-keyed should
    * use ngramHashes instead). Same substring-span construction. */
  def ngramStrings(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    val (starts, ends, nw) = wordSpans(s)
    if (nw < n) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= nw) { seen.add(s.substring(starts(i), ends(i + n - 1))); i += 1 }
    val out = new Array[AnyRef](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Thread-local MD5 digester for [[hashedClassifierScore]] —
    * MessageDigest is not thread-safe and not cheap to instantiate per
    * word. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Raw hashed-linear classifier score — the shape of the GPT-3 /
    * CCNet-style quality-classifier filter (a linear model over hashed
    * bag-of-words features), with a FIXED deterministic weight table so
    * both engines can recompute it exactly:
    *
    *   bucket(w)  = (first 4 bytes of md5(w), big-endian unsigned) mod numBuckets
    *   weight(b)  = (b * 2654435761) mod 2001 − 1000        ∈ [−1000, 1000]
    *   score      = Σ weight(bucket(word)) / (1000.0 · nWords)
    *
    * md5 (not xxhash) because the ORACLE must hash identically —
    * DuckDB exposes md5 but not xxhash64; a production deployment would
    * swap in real trained weights (the table is the contract, the
    * hashing pipeline is the operator). The division is the only
    * floating-point operation (exact integer sum / exact integer-valued
    * double), so results are IEEE-identical across engines; rounding
    * stays in the query layer. One scan-local pass, no shuffle. */
  def hashedClassifierScore(text: UTF8String, numBuckets: Int): Double = {
    val s = text.toString
    val (starts, ends, nw) = wordSpans(s)
    val md = md5Local.get()
    var sum = 0L
    var i = 0
    while (i < nw) {
      md.reset()
      val bytes = s.substring(starts(i), ends(i))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = md.digest(bytes)
      val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val bucket = u32 % numBuckets
      sum += (bucket * 2654435761L) % 2001L - 1000L
      i += 1
    }
    sum / (1000.0 * nw)
  }

  /** Per-window hashed-feature BUCKET ids, duplicates KEPT (the bag
    * semantics DSIR-style n-gram LMs need — [[ngramHashes]] dedups and
    * would collapse repeated features): one XXH64 per word, window
    * folds, bucket = nonneg hash mod `buckets`. */
  def ngramBuckets(arr: ArrayData, n: Int, buckets: Int): ArrayData = {
    val nw = arr.numElements()
    if (nw < n) return new GenericArrayData(Array.empty[Int])
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      wh(i) = hashElem(arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Int](nw - n + 1)
    var start = 0
    while (start <= nw - n) {
      var h = wh(start)
      var j = 1
      while (j < n) { h = XXH64.hashLong(wh(start + j), h); j += 1 }
      out(start) = java.lang.Math.floorMod(h, buckets.toLong).toInt
      start += 1
    }
    new GenericArrayData(out)
  }

  /** Per-window n-gram hashes in POSITION order, duplicates kept —
    * element i is the hash of words[i..i+n-1]. The positional key of
    * exact-substring REMOVAL
    * ([[graft.operators.Dedup.removeDuplicateSpans]]): removal needs
    * to know WHERE a duplicated window starts, which the
    * deduped/sorted [[ngramHashes]] form discards. Same per-word
    * XXH64 + window fold, so keys compare equal across producers. */
  def ngramHashSeq(arr: ArrayData, n: Int): ArrayData = {
    val nw = arr.numElements()
    if (nw < n) return new GenericArrayData(Array.empty[Long])
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      wh(i) = hashElem(arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](nw - n + 1)
    var start = 0
    while (start <= nw - n) {
      var h = wh(start)
      var j = 1
      while (j < n) { h = XXH64.hashLong(wh(start + j), h); j += 1 }
      out(start) = h
      start += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document bigram tallies for the corpus-trained bigram LM
    * (t19 / p18's fluency gate): one pass over the UTF-8 bytes of the
    * single-space split (empties kept, trailing empties kept — the
    * split(text, ' ') convention [[wordCount]]/[[termTfs]] share),
    * each word hashed once with XXH64(seed 42) ≡ `xxhash64(w)`, each
    * bigram hashed as XXH64(w2 bytes, seed = h(w1)) ≡ `xxhash64(w1,
    * w2)` (Spark's multi-arg fold), then per-doc run-length counts
    * over the (h12, h1)-sorted pairs. Each output row carries the
    * doc-max h1 for its h12 (sorted order makes that the run's last),
    * so a downstream global max(h1) per h12 sees the same value set
    * as the old per-occurrence stream. Documents with < 2 words
    * return an empty array — the consumer's explode drops them, the
    * old filter(size(ws) >= 2) contract. Output rows (h12, h1, k)
    * sorted by (h12, h1).
    *
    * This replaces the explode(sequence(1, size-1)) + 2×xxhash64
    * per-token chain that ran TWICE over the corpus (model counts +
    * per-doc counts) plus the (doc_id, h12) groupBy exchange: the
    * per-doc aggregation now happens in the scan, and only distinct
    * (h12, k) rows leave it. */
  def bigramTfs(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    var nw = 1
    var i = 0
    while (i < n) { if (text.getByte(i) == 0x20) nw += 1; i += 1 }
    if (nw < 2) return new GenericArrayData(Array.empty[AnyRef])
    val starts = new Array[Int](nw)
    val wh = new Array[Long](nw)
    var w = 0
    var ws = 0
    i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x20) {
        starts(w) = ws
        wh(w) = XXH64.hashUnsafeBytes(base, off + ws, i - ws, 42L)
        w += 1
        ws = i + 1
      }
      i += 1
    }
    val m = nw - 1
    val h12a = new Array[Long](m)
    val h1a = new Array[Long](m)
    var j = 0
    while (j < m) {
      h1a(j) = wh(j)
      val s2 = starts(j + 1)
      val e2 = if (j + 2 < nw) starts(j + 2) - 1 else n
      h12a(j) = XXH64.hashUnsafeBytes(base, off + s2, e2 - s2, wh(j))
      j += 1
    }
    // index sort by (h12, h1): m is doc-token-sized, boxing is noise
    // next to the hashing above
    val ord = new Array[Integer](m)
    j = 0
    while (j < m) { ord(j) = Integer.valueOf(j); j += 1 }
    java.util.Arrays.sort(ord, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(h12a(a), h12a(b))
        if (c != 0) c else java.lang.Long.compare(h1a(a), h1a(b))
      }
    })
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    var s = 0
    j = 1
    while (j <= m) {
      if (j == m || h12a(ord(j)) != h12a(ord(s))) {
        // sorted by (h12, h1): the run's LAST h1 is its max
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](h12a(ord(s)), h1a(ord(j - 1)), (j - s).toLong))
        s = j
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct XXH64(seed 42) word hashes of the single-space split
    * (empties kept) — the vocabulary leg of the bigram LM: the corpus
    * V = count_distinct over these per-doc distinct sets equals the
    * count_distinct over the old per-occurrence explode. One byte
    * pass, sort + unique. */
  def distinctWordHashes(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    var nw = 1
    var i = 0
    while (i < n) { if (text.getByte(i) == 0x20) nw += 1; i += 1 }
    val out = new Array[Long](nw)
    var w = 0
    var ws = 0
    i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x20) {
        out(w) = XXH64.hashUnsafeBytes(base, off + ws, i - ws, 42L)
        w += 1
        ws = i + 1
      }
      i += 1
    }
    java.util.Arrays.sort(out)
    var k = 1
    var r = 1
    while (r < out.length) {
      if (out(r) != out(r - 1)) { out(k) = out(r); k += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** Per-document word term frequencies over the single-space split
    * (empties kept) — [[termTfs]] without the vocabulary restriction:
    * one (w, x) row per DISTINCT word, first-occurrence order. Lets a
    * per-(word, doc) tally happen IN the scan, so consumers shuffle
    * per-doc distinct word rows instead of every token occurrence
    * (t45's groupBy(w, doc_id) shuffled the full token-string stream
    * with near-zero map-side combining — doc_id in the key defeats
    * it). */
  def wordTfs(text: UTF8String): ArrayData = {
    val s = text.toString
    val (starts, ends, nw) = wordSpans(s)
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    var i = 0
    while (i < nw) {
      val w = s.substring(starts(i), ends(i))
      val prev = m.get(w)
      m.put(w, if (prev == null) java.lang.Long.valueOf(1L)
               else java.lang.Long.valueOf(prev.longValue() + 1L))
      i += 1
    }
    val out = new Array[AnyRef](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue.longValue()))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Integer squared L2 between two bigint arrays — the compiled twin
    * of `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
    * (acc, t) -> acc + t)`, with the fold's exact null semantics:
    * unequal lengths (zip_with pads with null) or any null element
    * poison the sum to NULL; two empty arrays fold to 0. The HOF form
    * is CodegenFallback — interpreted lambda dispatch per ELEMENT —
    * and sits on pair-volume hot paths (a31's histogram pairs, a25's
    * SQ8 ADC corpus×query scoring, a34's silhouette n×k fan-out).
    * Boxed return: null IS a reachable result. */
  def sqDistLongBoxed(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Number of elements of an array<bigint> that might be in the Bloom
    * bitset ([[graft.operators.BloomBits]] probe positions). */
  def bloomHitCount(arr: ArrayData, bits: Array[Long], numHashes: Int): Int = {
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (graft.operators.BloomBits.mightContain(bits, arr.getLong(i), numHashes)) hits += 1
      i += 1
    }
    hits
  }

  /** Σ table(bucket) over an int-array column — the scan-local scoring
    * pass of a broadcast lookup model (left-to-right order, so the
    * float sum is deterministic). */
  def sumLookup(arr: ArrayData, table: Array[Double]): Double = {
    var s = 0.0
    val n = arr.numElements()
    var i = 0
    while (i < n) { s += table(arr.getInt(i)); i += 1 }
    s
  }

  /** (token count, stopword count) in one byte pass — bit-identical to
    * the pair `size(split(text, ' '))` /
    * `size(filter(split(text, ' '), w -> array_contains(stops, w)))`:
    * single-space split, empties kept, token-vs-stopword equality is
    * exact UTF-8 byte equality. The HOF form materialized the token
    * array three times per doc and ran the filter lambda interpreted
    * per token (t38's dominant scan cost). */
  def stopTokenStats(text: UTF8String, stops: Array[Array[Byte]]): InternalRow = {
    val n = text.numBytes()
    var nt = 1L
    var ns = 0L
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x20) {
        if (i < n) nt += 1L
        val len = i - ws
        var s = 0
        var matched = false
        while (s < stops.length && !matched) {
          val st = stops(s)
          if (st.length == len) {
            var j = 0
            while (j < len && st(j) == text.getByte(ws + j)) j += 1
            matched = j == len
          }
          s += 1
        }
        if (matched) ns += 1L
        ws = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nt, ns))
  }

  /** Distinct word n-gram hashes: each word XXH64-hashed once, each
    * window the hashLong-fold of its n word hashes (the same scheme as
    * [[minHashFromWords]] — no window array copies, no re-hashing of
    * word bytes per window), deduplicated by sort + unique scan. The
    * interpreted `transform(sequence(..), i -> xxhash64(slice(..)))`
    * form of this re-hashed every word n times through three
    * interpreted higher-order functions — it was the dominant cost of
    * every n-gram consumer (decontamination, duplicated windows). */
  def ngramHashes(arr: ArrayData, n: Int): ArrayData = {
    val nw = arr.numElements()
    if (nw < n) return new GenericArrayData(Array.empty[Long])
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      wh(i) = hashElem(arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](nw - n + 1)
    var start = 0
    while (start <= nw - n) {
      var h = wh(start)
      var j = 1
      while (j < n) { h = XXH64.hashLong(wh(start + j), h); j += 1 }
      out(start) = h
      start += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    var r = 1
    while (r < out.length) {
      if (out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

/** `cosine_similarity(a, b)` → double, over array<float> or
  * array<double> children (both children must match). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity needs two float or two double arrays, got ${left.dataType} / ${right.dataType}")
    }
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat) helpers.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else helpers.cosineDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "cosineFloat" else "cosineDouble"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.helpers.$fn($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

/** `sign_planes_code(vec)` → bigint: the nPlanes-bit sign-LSH code
  * against the xxhash64-derived plane family — codegen'd single helper
  * call; see [[helpers.signCode]] for the exact SQL-form semantics it
  * replicates (including 0L on short/null-element vectors). */
case class SignPlanesCode(child: Expression, dim: Int, nPlanes: Int,
                          seed: Long) extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 64, s"nPlanes must be 1..64, got $nPlanes")
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_planes_code needs a float or double array, got $other")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    helpers.signCode(input.asInstanceOf[ArrayData], dim, nPlanes, seed, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.helpers.signCode($c, $dim, $nPlanes, ${seed}L, $isFloat);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "sign_planes_code"
}

/** `sign_project_dots(vec)` → array<bigint>: the k integer JL
  * sign-projection dot products against the md5-parity ±1 matrix —
  * codegen'd single helper call; see [[helpers.signProjDots]] for the
  * exact SQL-form semantics it replicates (2²⁰ HALF_UP quantization,
  * null-element poisoning, loud short-vector failure). */
case class SignProjectDots(child: Expression, dim: Int, k: Int,
                           seed: String) extends UnaryExpression {
  require(dim >= 1 && k >= 1, s"dim/k must be >= 1, got $dim/$k")
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_project_dots needs a float or double array, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullSafeEval(input: Any): Any =
    helpers.signProjDots(input.asInstanceOf[ArrayData], dim, k, seed, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the seed rides as a codegen string literal — escape it
    val seedLit = seed.replace("\\", "\\\\").replace("\"", "\\\"")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.helpers.signProjDots($c, $dim, $k, "$seedLit", $isFloat);""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "sign_project_dots"
}

/** `sq_dist_long(a, b)` → bigint: integer squared L2 between bigint
  * arrays, bit-identical (null semantics included) to the interpreted
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, ...)`
  * fold it replaces — see [[helpers.sqDistLongBoxed]]. */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq_dist_long needs two array<bigint>, got $l, $r")
    }
  override def dataType: DataType = LongType
  // null is reachable even for non-null inputs (length mismatch, null
  // element — the zip_with padding semantics)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    helpers.sqDistLongBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("sqDist")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Long $tmp = graft.functions.helpers.sqDistLongBoxed($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sq_dist_long"
}

/** A native function: one call of the static `helpers.<method>` on the
  * children's values followed by `consts`, made by reflection when
  * interpreted and as one Java call inside whole-stage codegen, so both
  * paths run the same helper. `name` is the SQL name ([[prettyName]]).
  *
  * The constants are fields, not children: `sql` and generated column
  * names show the children only, `toString` shows `name(children,
  * consts)`. A constant reaches the helper as
  *  - an `Int` or a `String`: itself (a Java literal in generated code);
  *  - a `Seq[String]` word list: its UTF-8 bytes, a `byte[][]`;
  *  - a `Broadcast`: its value. Generated code fetches it once per
  *    generated class into mutable state; a broadcast ships once per
  *    executor, where a plan constant would ride in every task binary.
  *
  * As for Spark's Unary/BinaryExpression, a null child makes the result
  * null without calling the helper, and nullability, foldability and
  * determinism follow the children. */
case class NativeCall(name: String, method: String, children: Seq[Expression],
                      inputTypes: Seq[DataType], dataType: DataType, consts: Seq[Any])
    extends Expression {
  import NativeCall.Helpers

  override def prettyName: String = name
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

  /** Each child must have its input type, up to nullability. */
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(inputTypes)(
        DataType.equalsStructurally(_, _, ignoreNullability = true)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs (${inputTypes.map(_.sql).mkString(", ")}), " +
        s"got (${children.map(_.dataType.sql).mkString(", ")})")
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)

  private def hostValue(c: Any): AnyRef = c match {
    case bc: Broadcast[_] => bc.value.asInstanceOf[AnyRef]
    case words: Seq[_] => words.map(_.toString.getBytes(StandardCharsets.UTF_8)).toArray
    case v => v.asInstanceOf[AnyRef]
  }

  @transient private lazy val hostConsts: Array[AnyRef] = consts.map(hostValue).toArray
  @transient private lazy val target: java.lang.reflect.Method =
    Class.forName(Helpers).getMethods.find(_.getName == method)
      .getOrElse(throw new NoSuchMethodException(s"$Helpers.$method"))

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + hostConsts.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(hostConsts, 0, args, i, hostConsts.length)
    try target.invoke(null, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  private def javaArg(ctx: CodegenContext, c: Any): String = c match {
    case n: Int => n.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case bc: Broadcast[_] =>
      val ref = ctx.addReferenceObj("broadcast", bc, classOf[Broadcast[_]].getName)
      val javaType = hostValue(bc).getClass.getCanonicalName
      ctx.addMutableState(javaType, "broadcastValue", v => s"$v = ($javaType) $ref.value();")
    case _: Seq[_] => ctx.addReferenceObj("words", hostValue(c), "byte[][]")
  }

  /** The null short-circuit of Spark's `nullSafeCodeGen`: UnaryExpression's
    * shape for one child, BinaryExpression's nesting for more. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val constArgs = consts.map(javaArg(ctx, _))
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = $Helpers.$method(" +
      (gens.map(_.value.toString) ++ constArgs).mkString(", ") + ");"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (!nullable) {
      ev.copy(code = code"""
        ${Block.blocksToBlock(gens.map(_.code))}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
    } else if (gens.length == 1) {
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $javaType ${ev.value} = $default;
        ${ctx.nullSafeExec(nullable = true, g.isNull)(call)}
      """)
    } else {
      val nullSafeEval = children.zip(gens).foldRight(s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $call
            """) { case ((c, g), inner) =>
        s"${g.code}${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $nullSafeEval
      """)
    }
  }
}

object NativeCall {
  /** The class whose static methods native functions call. */
  private val Helpers = "graft.functions.helpers"
}

/** Column-level entry points (and SQL registration). */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession

  private val Words = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val NonNullLongs = ArrayType(LongType, containsNull = false)
  private def longStruct(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  private def native(name: String, method: String, dataType: DataType,
                     args: Seq[(Column, DataType)], consts: Any*): Column =
    ColumnBridge.column(NativeCall(name, method, args.map(a => ColumnBridge.expression(a._1)),
      args.map(_._2), dataType, consts))

  private def broadcast[T: scala.reflect.ClassTag](value: T) =
    SparkSession.active.sparkContext.broadcast(value)

  /** `minhash_signature(shingles, numHashes)` → array<bigint>: one base
    * XXH64 per shingle, `numHashes` lanes folded in one pass. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    require(numHashes >= 1, s"minhash_signature needs numHashes >= 1, got $numHashes")
    native("minhash_signature", "minHashSignature", NonNullLongs, Seq(shingles -> Words),
      numHashes)
  }

  /** `minhash_words(words, numHashes, shingleSize)` → array<bigint>:
    * signature over word n-grams without materializing shingle strings. */
  def minhashWords(words: Column, numHashes: Int, shingleSize: Int): Column = {
    require(numHashes >= 1 && shingleSize >= 1,
      s"minhash_words needs numHashes and shingleSize >= 1, got $numHashes/$shingleSize")
    native("minhash_words", "minHashFromWords", NonNullLongs, Seq(words -> Words),
      numHashes, shingleSize)
  }

  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def signPlanesCode(vec: Column, dim: Int, nPlanes: Int, seed: Long): Column =
    ColumnBridge.column(SignPlanesCode(
      ColumnBridge.expression(vec), dim, nPlanes, seed))

  def signProjectDots(vec: Column, dim: Int, k: Int, seed: String): Column =
    ColumnBridge.column(SignProjectDots(
      ColumnBridge.expression(vec), dim, k, seed))

  /** `cm_buckets(word)` → array<bigint>: the `depth` Count-Min row
    * buckets of one key, from digest bytes ([[helpers.cmBuckets]]). */
  def cmBuckets(word: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && width >= 1, s"depth/width must be >= 1, got $depth/$width")
    native("cm_buckets", "cmBuckets", NonNullLongs, Seq(word -> StringType), depth, width)
  }

  /** `uuid5(name)` → RFC 4122 v5 UUID string of the UTF-8 name (DNS
    * namespace — the reference's generate_uuid_from_tuple). */
  def uuid5(name: Column): Column =
    native("uuid5", "uuid5", StringType, Seq(name -> StringType))

  /** `bloom_hit_count(hashes)` → int: how many elements of an
    * array<bigint> of hashes might be in the Bloom bitset. The bitset
    * travels as a broadcast, not a plan constant: a plan-embedded array
    * serializes into every stage's task binary (the scheduler warns at
    * 1 MiB), a broadcast ships once per executor. */
  def bloomHitCount(hashes: Column, bits: Array[Long], numHashes: Int): Column = {
    require(numHashes >= 1, s"bloom_hit_count needs numHashes >= 1, got $numHashes")
    native("bloom_hit_count", "bloomHitCount", IntegerType, Seq(hashes -> Longs),
      broadcast(bits), numHashes)
  }

  /** `ngram_hashes(words, n)` → array<bigint>: distinct word n-gram
    * hashes (sorted). The shared n-gram key of the decontamination and
    * duplicated-window operators — all producers and consumers MUST go
    * through this one function so keys compare equal across them. */
  def ngramHashes(words: Column, n: Int): Column = {
    require(n >= 1, s"ngram_hashes needs n >= 1, got $n")
    native("ngram_hashes", "ngramHashes", NonNullLongs, Seq(words -> Words), n)
  }

  /** `word_count(text)` → int: `size(split(text, " "))` without the
    * token array. */
  def wordCount(text: Column): Column =
    native("word_count", "wordCount", IntegerType, Seq(text -> StringType))

  /** `line_hashes(src, text)` → array<struct<hi, lo>>: the 128-bit
    * (two-chain xxhash64) key per '\n'-line ([[helpers.lineHashes]]). */
  def lineHashes(src: Column, text: Column): Column =
    native("line_hashes", "lineHashes", ArrayType(longStruct("hi", "lo"), containsNull = false),
      Seq(src -> StringType, text -> StringType))

  /** `keep_lines(src, text)` → struct<n_lines, n_kept, clean_text>
    * against broadcast boiler keys ([[helpers.keepLines]]).
    * `boilerHi`/`boilerLo` must be ALIGNED and sorted by (hi, lo). */
  def keepLines(src: Column, text: Column,
                boilerHi: Array[Long], boilerLo: Array[Long]): Column =
    native("keep_lines", "keepLines", StructType(Seq(
        StructField("n_lines", LongType, nullable = false),
        StructField("n_kept", LongType, nullable = false),
        StructField("clean_text", StringType, nullable = false))),
      Seq(src -> StringType, text -> StringType), broadcast(Array(boilerHi, boilerLo)))

  /** `term_tfs(text)` → array<struct<ht, tf>>: per-document term
    * frequencies restricted to a broadcast sorted xxhash64 vocabulary
    * ([[helpers.termTfs]]). */
  def termTfs(text: Column, vocab: Array[Long]): Column =
    native("term_tfs", "termTfs", ArrayType(longStruct("ht", "tf"), containsNull = false),
      Seq(text -> StringType), broadcast(vocab))

  /** `word_tfs(text)` → array<struct<w, x>>: per-document distinct-word
    * counts in one scan-local pass ([[helpers.wordTfs]]). */
  def wordTfs(text: Column): Column =
    native("word_tfs", "wordTfs", ArrayType(StructType(Seq(
        StructField("w", StringType, nullable = false),
        StructField("x", LongType, nullable = false))), containsNull = false),
      Seq(text -> StringType))

  /** `stop_token_stats(text)` → struct<nt, ns>: token and stopword
    * counts in one byte pass ([[helpers.stopTokenStats]]). */
  def stopTokenStats(text: Column, stops: Seq[String]): Column =
    native("stop_token_stats", "stopTokenStats", longStruct("nt", "ns"),
      Seq(text -> StringType), stops)

  def sqDistLong(a: Column, b: Column): Column =
    ColumnBridge.column(SqDistLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `bigram_tfs(text)` → array<struct<h12, h1, k>>: per-document
    * distinct bigram-hash counts, doc-max h1 per h12
    * ([[helpers.bigramTfs]]). */
  def bigramTfs(text: Column): Column =
    native("bigram_tfs", "bigramTfs",
      ArrayType(longStruct("h12", "h1", "k"), containsNull = false), Seq(text -> StringType))

  /** `distinct_word_hashes(text)` → array<bigint>: the per-doc distinct
    * xxhash64 word-hash set. */
  def distinctWordHashes(text: Column): Column =
    native("distinct_word_hashes", "distinctWordHashes", NonNullLongs, Seq(text -> StringType))

  /** `md5_hash60(s)` → bigint: first 60 bits of md5(s), bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` with one digest. */
  def md5Hash60(s: Column): Column =
    native("md5_hash60", "md5Hash60", LongType, Seq(s -> StringType))

  /** `md5_hash120(s)` → struct<hi, lo>: both disjoint 60-bit md5 halves
    * (hex digits 1–15 / 16–30) from one digest. */
  def md5Hash120(s: Column): Column =
    native("md5_hash120", "md5Hash120", longStruct("hi", "lo"), Seq(s -> StringType))

  /** `sorted_pair_intersect_count(aHi, aLo, bHi, bLo)` → int: size of
    * the intersection of two 120-bit (hi, lo) pair sets, each as two
    * aligned long arrays sorted by (hi, lo) — one allocation-free merge
    * walk where `size(array_intersect(...))` over structs runs
    * interpreted per element. */
  def sortedPairIntersectCount(aHi: Column, aLo: Column,
                               bHi: Column, bLo: Column): Column =
    native("sorted_pair_intersect_count", "sortedPairIntersect", IntegerType,
      Seq(aHi -> Longs, aLo -> Longs, bHi -> Longs, bLo -> Longs))

  /** `ngram_strings(text, n)` → array<string>: distinct word n-gram
    * strings, first-occurrence order. */
  def ngramStrings(text: Column, n: Int): Column = {
    require(n >= 1, s"ngram_strings needs n >= 1, got $n")
    native("ngram_strings", "ngramStrings", ArrayType(StringType, containsNull = false),
      Seq(text -> StringType), n)
  }

  /** `ngram_hash_seq(words, n)` → array<bigint>: per-window n-gram
    * hashes in position order, duplicates kept. */
  def ngramHashSeq(words: Column, n: Int): Column = {
    require(n >= 1, "ngram_hash_seq needs positive n")
    native("ngram_hash_seq", "ngramHashSeq", NonNullLongs, Seq(words -> Words), n)
  }

  /** `gopher_fractions(text)` → array<double> [top2, top3, top4, dup5]
    * char fractions — scan-local Gopher repetition rules. */
  def gopherFractions(text: Column): Column =
    native("gopher_fractions", "gopherFractions", ArrayType(DoubleType, containsNull = false),
      Seq(text -> StringType))

  /** `repetition_ratio(text)` → double: raw 1 − distinct/total bigram
    * ratio. */
  def repetitionRatioRaw(text: Column): Column =
    native("repetition_ratio", "repetitionRatioRaw", DoubleType, Seq(text -> StringType))

  /** `quality_score(text)` → double: raw composite quality (rounding in
    * the query layer). */
  def qualityScoreRaw(text: Column): Column =
    native("quality_score", "qualityScoreRaw", DoubleType, Seq(text -> StringType))

  /** `top_gram_fraction(text, n)` → double: raw char fraction of the
    * single most frequent word n-gram. */
  def topGramFraction(text: Column, n: Int): Column = {
    require(n >= 1, s"top_gram_fraction needs n >= 1, got $n")
    native("top_gram_fraction", "topGramFraction", DoubleType, Seq(text -> StringType), n)
  }

  /** `lang_id(text)` → string: fixed-priority marker-count language id. */
  def langId(text: Column): Column =
    native("lang_id", "langId", StringType, Seq(text -> StringType))

  /** `classifier_score(text, numBuckets)` → double: raw hashed-linear
    * quality-classifier score (md5 feature hashing, fixed weight table). */
  def classifierScore(text: Column, numBuckets: Int): Column = {
    require(numBuckets >= 1, "classifier_score needs a positive bucket count")
    native("classifier_score", "hashedClassifierScore", DoubleType, Seq(text -> StringType),
      numBuckets)
  }

  /** `unicode_norm(text, form)` → string: java.text.Normalizer
    * normalization (NFC/NFD/NFKC/NFKD) — the canonicalization step
    * multilingual corpora need before any hash-keyed dedup (composed `é`
    * and decomposed `e`+U+0301 are different bytes). */
  def unicodeNorm(text: Column, form: String): Column = {
    require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unsupported normalization form $form")
    native("unicode_norm", "unicodeNorm", StringType, Seq(text -> StringType), form)
  }

  /** NFD → drop combining marks → NFC recompose → lowercase: the full
    * text-canonicalization chain (`strip_accents` + casefold). */
  def foldText(text: Column): Column =
    org.apache.spark.sql.functions.lower(unicodeNorm(
      org.apache.spark.sql.functions.regexp_replace(
        unicodeNorm(text, "NFD"), "\\p{Mn}+", ""), "NFC"))

  /** `ngram_buckets(words, n, buckets)` → array<int>: per-window hashed
    * feature bucket ids, duplicates kept (bag-of-n-grams features). */
  def ngramBuckets(words: Column, n: Int, buckets: Int): Column = {
    require(n >= 1 && buckets >= 1, "ngram_buckets needs positive n and bucket count")
    native("ngram_buckets", "ngramBuckets", ArrayType(IntegerType, containsNull = false),
      Seq(words -> Words), n, buckets)
  }

  /** `sum_lookup(bucketIds)` → double: Σ table(bucket) against a
    * broadcast double table. */
  def sumLookup(bucketIds: Column, table: Array[Double]): Column =
    native("sum_lookup", "sumLookup", DoubleType, Seq(bucketIds -> ArrayType(IntegerType)),
      broadcast(table))

  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  // the SQL builders evaluate literal config arguments at registration
  // time; a column reference or wrong-typed literal must fail as a clean
  // analysis error naming the expectation, not a ClassCastException/NPE
  // from eval(InternalRow.empty)
  private def countLit(fn: String, e: Expression, min: Int = 1): Int = {
    val v =
      if (e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType)
        e.eval(InternalRow.empty)
      else null
    // the null check matters: CAST(NULL AS INT) is foldable and typed,
    // and null.asInstanceOf[Int] silently unboxes to 0
    if (v == null)
      analysisError(s"expected a foldable non-null INT literal argument, got $e")
    val n = v.asInstanceOf[Int]
    if (n < min) analysisError(s"$fn needs an INT argument >= $min, got $n")
    n
  }

  private def stringLit(e: Expression, expected: String): String = {
    val v =
      if (e.foldable && e.dataType == org.apache.spark.sql.types.StringType)
        e.eval(InternalRow.empty)
      else null
    if (v == null) analysisError(
      s"expected a foldable STRING literal argument ($expected), got $e")
    v.asInstanceOf[UTF8String].toString
  }

  /** Name → builder for every native SQL function, injected by
    * [[graft.plans.GraftExtensions]]. */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    def c(e: Expression): Column = ColumnBridge.column(e)
    Seq[(String, Seq[Expression] => Column)](
      "cosine_similarity" -> (e => cosineSimilarity(c(e(0)), c(e(1)))),
      "uuid5" -> (e => uuid5(c(e.head))),
      "minhash_signature" ->
        (e => minhashSignature(c(e(0)), countLit("minhash_signature", e(1)))),
      "ngram_hashes" -> (e => ngramHashes(c(e(0)), countLit("ngram_hashes", e(1)))),
      "gopher_fractions" -> (e => gopherFractions(c(e.head))),
      "ngram_strings" -> (e => ngramStrings(c(e(0)), countLit("ngram_strings", e(1)))),
      "top_gram_fraction" ->
        (e => topGramFraction(c(e(0)), countLit("top_gram_fraction", e(1)))),
      "repetition_ratio" -> (e => repetitionRatioRaw(c(e.head))),
      "quality_score" -> (e => qualityScoreRaw(c(e.head))),
      "lang_id" -> (e => langId(c(e.head))),
      "classifier_score" ->
        (e => classifierScore(c(e(0)), countLit("classifier_score", e(1)))),
      "unicode_norm" -> (e => unicodeNorm(c(e(0)),
        stringLit(e(1), "one of 'NFC', 'NFD', 'NFKC', 'NFKD'"))),
      "chunk_text" -> (e => graft.operators.Chunking.chunks(c(e(0)),
        graft.core.ChunkStrategy.fromString(stringLit(e(1), "a chunk strategy name")),
        countLit("chunk_text", e(2)), countLit("chunk_text", e(3), min = 0)))
    ).map { case (name, f) => name -> f.andThen(ColumnBridge.expression) }
  }

  /** Register the four UDF-shaped extractors on a session. The native
    * SQL functions ([[sqlBuilders]]) come from
    * [[graft.plans.GraftExtensions]] at session build; these four need
    * this call because `spark.udf` does not exist at injection time. */
  def register(spark: SparkSession): Unit = {
    // document extraction over binary columns (SQL surface for the S2/S3/
    // S4 extractors; Scala UDFs — extraction is I/O-shaped, not a
    // codegen hot path)
    spark.udf.register("graft_extract",
      (bytes: Array[Byte], ext: String) =>
        graft.sources.DocumentReader.extractText()(bytes, ext))
    // poison-file guard (same contract as DocumentReader.extractPdf/
    // extractDocx): a corrupt payload degrades to an empty page list
    // instead of throwing through the scan and failing the whole batch
    spark.udf.register("pdf_pages",
      (bytes: Array[Byte]) =>
        if (bytes == null) null
        else try graft.sources.PdfText.extractPages(bytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty[String] })
    spark.udf.register("docx_paragraphs",
      (bytes: Array[Byte]) =>
        if (bytes == null) null
        else try graft.sources.DocxText.extractParagraphs(bytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty[String] })
    spark.udf.register("markdown_text",
      (md: String) =>
        if (md == null) null else graft.sources.MarkdownText.extractText(md))
  }
}
