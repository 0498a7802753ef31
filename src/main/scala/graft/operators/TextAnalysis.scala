package graft.operators

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftTokenizer

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language id, and document fingerprinting. All but
  * the tokenizer/winnowing paths are pure Catalyst (codegen'd,
  * cross-engine checkable). */
object TextAnalysis {

  /** Whitespace token count. */
  // native byte-scan count, bit-identical to size(split(text, " "))
  // (empties kept, "" counts 1) — the split materialized the whole
  // token array per row just to count it (r13)
  def wsTokenCount(text: Column): Column =
    graft.functions.GraftFunctions.wordCount(text)

  /** BPE-ish regex token count: alnum runs (the pretokenizer classes).
    * Built with the Column DSL, not string interpolation, so composed
    * arguments (coalesce(...), aliases) work. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0)))

  /** Exact tokenizer count via the graft tokenizer (UDF path). */
  val graftTokenCount: Column => Column = {
    // resolve the tokenizer ON THE DRIVER and capture it in the closure:
    // executors don't see driver system properties / local ranks files,
    // so a lazy executor-side Tokenizers.default could silently diverge
    // from the chunkers' driver-resolved tokenizer
    val tok = graft.core.Tokenizers.default
    val f = udf { (s: String) => if (s == null) 0 else tok.count(s) }
    c => f(c)
  }

  /** Punctuation character count (anything outside [A-Za-z0-9 ]). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))

  /** Mean word length: chars-excluding-spaces / word count (double). */
  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      size(split(text, " ")).cast("double")

  /** Composite quality score in [0,1]:
    * 0.5·stopword-ratio + 0.3·min(1, len/500) + 0.2·(1 − punct-ratio).
    * Identical IEEE expression shape on the oracle side. Empty text
    * scores 0 — under ANSI mode (Spark 4 default) the punct-ratio
    * division would otherwise raise DIVIDE_BY_ZERO and kill the job on
    * the first empty document. */
  def qualityScore(text: Column): Column =
    // native scan-local expression (one char/word pass; the Catalyst
    // form spent ~2.4 s/50k docs in two regexp passes + an interpreted
    // stopword filter). The helper hard-codes the English stopwords and mirrors
    // the oracle's IEEE expression shape term for term.
    round(graft.functions.GraftFunctions.qualityScoreRaw(text), 6)

  /** Marker-word lists per language for the n-gram/lexicon language-id
    * heuristic. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "que", "y", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  /** Language id: argmax of marker-hit counts, fixed priority order on
    * ties (en > de > es > fr > und). Native single-pass expression —
    * the four independent marker filters ran as interpreted HOFs, the
    * last non-scan-local signal in the t01 profile. The native helper
    * hard-codes [[LangMarkers]]; change them together. */
  def langId(text: Column): Column =
    graft.functions.GraftFunctions.langId(text)

  /** Bag-of-words fingerprint: md5 of the sorted distinct word set —
    * order-insensitive exact-content signature (pure Catalyst). */
  def bowFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * k-gram rolling hashes, minimum per window of w, deduplicated —
    * the standard local document fingerprint for near-copy detection.
    * Deterministic UDF; `gramHash` defaults to the fast FNV-1a, and
    * oracle-checked callers pass [[Dedup.md5Hash60]] (positive 60-bit
    * values, so the per-window signed min here equals DuckDB's min
    * over the same hex-parsed BIGINTs; gram extraction is
    * UTF-16-substring here vs codepoint-substr there — identical on
    * BMP text, which the test corpus is). */
  def winnowFingerprints(k: Int = 8, w: Int = 4,
                         gramHash: String => Long = Dedup.fnv1a64): Column => Column = {
    val f = udf { (s: String) =>
      if (s == null || s.length < k) Array.empty[Long]
      else {
        val n = s.length - k + 1
        val hashes = new Array[Long](n)
        var i = 0
        while (i < n) { hashes(i) = gramHash(s.substring(i, i + k)); i += 1 }
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var start = 0
        while (start + w <= n) {
          var m = hashes(start)
          var j = start + 1
          while (j < start + w) { if (hashes(j) < m) m = hashes(j); j += 1 }
          out += m
          start += 1
        }
        out.toArray
      }
    }
    c => f(c)
  }

  /** PII scrubbing: mask email addresses, long digit runs (phone/ids),
    * and IPv4 literals — the C4-style cleanup pass. Patterns restricted
    * to the regex subset Java and RE2 interpret identically. */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noIp = regexp_replace(noEmail, "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>")
    regexp_replace(noIp, "[0-9]{7,}", "<NUM>")
  }

  /** Repetition ratio: 1 − distinct-bigrams / total-bigrams — the
    * Gopher-rules repetition signal (high = boilerplate/spam). Native
    * scan-local expression: the interpreted HOF form (transform +
    * concat + array_distinct) cost 27 s over 50k docs, ~20× the rest
    * of the profile combined. */
  def repetitionRatio(text: Column): Column =
    round(graft.functions.GraftFunctions.repetitionRatioRaw(text), 6)

  /** Compression ratio (deflate bytes / raw bytes): low ratio means
    * highly repetitive text — the Gopher-rules quality heuristic.
    * Deterministic for a given JVM zlib; no SQL-engine twin (rows-only
    * in the driver gate, pinned by spec). */
  val compressionRatio: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null || s.isEmpty) 1.0
      else {
        val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
        deflater.setInput(raw)
        deflater.finish()
        // drain into a fixed chunk: incompressible input can EXPAND past
        // raw.length (a fixed output buffer would make the loop spin
        // forever once full)
        val chunk = new Array[Byte](8192)
        var n = 0L
        while (!deflater.finished()) n += deflater.deflate(chunk)
        deflater.end()
        math.round(n.toDouble / raw.length * 1e6) / 1e6
      }
    }
    c => f(c)
  }

  /** Unigram-frequency document scoring — the scalable stand-in for
    * LM-perplexity quality filters: build the corpus's top-`vocabSize`
    * vocabulary (one word-count aggregation + TakeOrdered; ties break
    * by word so the cut is deterministic), broadcast it back, and score
    * every document by out-of-vocabulary ratio and mean in-vocabulary
    * word frequency. All sums are integer-exact, so the scores
    * hash-match across engines.
    *
    * Scale posture: the vocabulary is bounded (top-N of a hash agg),
    * the per-doc pass is explode → broadcast join → partial agg — the
    * corpus shuffles only (doc_id, partial counts), never text. */
  def unigramScores(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    import graft.core.Caching.LedgerOps
    // TWO consumers (vocab aggregation + the per-doc join side) and no
    // common-subtree reuse across DataFrame branches — unpersisted,
    // each cascaded back through the caller's upstream pipeline (the
    // bigramLmScore/tfIdfKeywords lesson applied here; r9 review)
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
      .persistLedgered()
    val vocab = words.groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(vocabSize)
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        count(col("freq")).as("n_in_vocab"),
        sum(coalesce(col("freq"), lit(0L))).as("sum_freq"))
      .select(col("doc_id"), col("n_words"), col("n_in_vocab"),
        round(lit(1.0) - col("n_in_vocab") / col("n_words").cast("double"), 6)
          .as("oov_ratio"),
        when(col("n_in_vocab") === 0, lit(0.0))
          .otherwise(round(col("sum_freq") / col("n_in_vocab").cast("double"), 6))
          .as("mean_freq"))
  }

  /** Gopher top-/duplicated-n-gram char fractions (Rae et al. 2021
    * §A1.1) via the scan-local native expression — returns the four
    * fraction columns rounded for cross-engine comparison. */
  def gopherNgramFractions(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val f = graft.functions.GraftFunctions.gopherFractions(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      round(element_at(f, 1), 6).as("top2_frac"),
      round(element_at(f, 2), 6).as("top3_frac"),
      round(element_at(f, 3), 6).as("top4_frac"),
      round(element_at(f, 4), 6).as("dup5_frac"))
  }

  /** TF-IDF-style keyword extraction with a RATIONAL idf (score =
    * tf · N/df instead of tf · ln(N/df)): ln is not correctly-rounded
    * and differs across libm implementations, while N/df is one IEEE
    * division — so the scores (and therefore the top-k cut) are
    * engine-exact. N/df is a monotone transform of ln(N/df), so the
    * RANKING it induces per document is the classic TF-IDF ranking
    * whenever tf ties break the same way (and ties break by term here).
    *
    * Scale posture: one (term) aggregation for document frequencies —
    * the vocabulary table, partial-agg'd map-side — joined back on the
    * term key; corpus cardinality rides in as a broadcast scalar (q13
    * pattern); top-k per doc is one window over the doc partition. */
  def tfIdfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    // tf rows are one-per-(doc, term), so df is a plain count over tf —
    // no second pass over the exploded words and no count-distinct
    // machinery (measured 1.3 s -> sub-second at sf0.1). Persist tf: it
    // feeds both the df aggregation and the final join; lives for the
    // lazy plan's lifetime (the GlobalIds cache-lifetime contract —
    // one-shot consumers clear the cache after their action).
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persistLedgered()
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (col("n_docs").cast("double") / col("df").cast("double")), 6))
    // bounded-heap prune BEFORE the ranking window: the window alone
    // would shuffle and sort every (doc, term) pair; after the prune it
    // ranks ≤ k rows per document (the a01 TopKPerKeyExec shape)
    graft.plans.TopKPerKey.prune(scored, "doc_id", "score", "term", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  /** The document-level KEEP/DROP verdict — the C4/Gopher-style quality
    * filter decision that real pipelines apply, combining the
    * independent signals into one row per document: composite quality,
    * within-doc repetition, top-bigram coverage (Gopher rule), OOV
    * ratio against the corpus vocabulary, and a length floor. All
    * thresholds compare the ROUNDED 6-decimal signals, so the verdict
    * bit is engine-exact. Dropping keep = 0 rows IS the quality pass
    * (the d09 pattern, for quality instead of duplication).
    *
    * Scale posture: every signal but OOV is scan-local (one projection);
    * OOV adds the bounded vocabulary aggregate + broadcast join of
    * [[unigramScores]]. One shuffle total (the unigram partial agg). */
  def qualityVerdict(docs: DataFrame, idCol: String, textCol: String,
                     minQuality: Double = 0.3, maxRepetition: Double = 0.1,
                     maxTop2Frac: Double = 0.15, maxOovRatio: Double = 0.7,
                     minWords: Long = 20, vocabSize: Int = 500): DataFrame = {
    // "one row per document" holds for documents WITH text: null-text
    // rows are excluded EXPLICITLY here rather than vanishing through
    // the unigram inner join (r9 review — a dropped-by-join doc got
    // neither keep=1 nor keep=0, so the verdict depended on the
    // consumer's join type; now the exclusion is this operator's
    // stated contract: no text, no verdict)
    val d = docs.filter(col(textCol).isNotNull)
    val signals = d.select(col(idCol).as("doc_id"),
      qualityScore(col(textCol)).as("quality"),
      repetitionRatio(col(textCol)).as("rep_ratio"),
      // top-2 slot only: the full gopherFractions pass would build the
      // 3-, 4-, and dup-5-gram maps just to discard them (r2 review)
      round(graft.functions.GraftFunctions.topGramFraction(col(textCol), 2), 6)
        .as("top2_frac"))
    val oov = unigramScores(d, idCol, textCol, vocabSize)
      .select(col("doc_id"), col("n_words"), col("oov_ratio"))
    signals.join(oov, "doc_id")
      .select(col("doc_id"), col("n_words"), col("quality"),
        col("rep_ratio"), col("top2_frac"), col("oov_ratio"),
        (col("quality") >= minQuality && col("rep_ratio") <= maxRepetition &&
          col("top2_frac") <= maxTop2Frac && col("oov_ratio") <= maxOovRatio &&
          col("n_words") >= minWords).cast("int").as("keep"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): fit
    * hashed bag-of-n-grams unigram-count LMs for the TARGET
    * distribution (the data you want more of) and the RAW corpus, then
    * score every raw document with its log importance weight
    * `log w(x) = Σ_f [ln p_target(f) − ln p_raw(f)]` (add-one
    * smoothing). Resampling raw by `exp(log_w)` yields target-like
    * data — the modern data-selection operator behind quality-targeted
    * pretraining corpora.
    *
    * Scale posture: both LMs aggregate to exactly `buckets` keys (one
    * partial-agg shuffle each, collected as a bounded array — 8k
    * doubles, not a corpus structure); the per-document score is then
    * ONE scan-local native-expression pass over the broadcast log-ratio
    * table ([[graft.functions.GraftFunctions.sumLookup]] — table ships once per executor). No joins, no
    * per-feature shuffle of the corpus. Rows-only vs the oracle:
    * xxhash64 feature hashing and `ln` have no bit-exact DuckDB twin
    * (DsirSpec pins the semantics instead). */
  def dsirWeights(raw0: DataFrame, target0: DataFrame, idCol: String,
                  textCol: String, n: Int = 2, buckets: Int = 8192): DataFrame = {
    import graft.functions.GraftFunctions.{ngramBuckets, sumLookup}
    // null-text rows excluded IDENTICALLY here and in the exact twin
    // (r9 review: the native path surfaced NULL weights while the
    // exact path's null-tolerant UDF emitted weight-0 rows for the
    // same input — the two surfaces must agree on every corpus)
    val raw = raw0.filter(col(textCol).isNotNull)
    val target = target0.filter(col(textCol).isNotNull)
    def bucketCounts(df: DataFrame): Array[Long] = {
      val rows = df
        .select(explode(ngramBuckets(split(col(textCol), " "), n, buckets)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
        .collect()
      val out = new Array[Long](buckets)
      rows.foreach(r => out(r.getInt(0)) = r.getLong(1))
      out
    }
    val tc = bucketCounts(target)
    val rc = bucketCounts(raw)
    val tTot = tc.sum.toDouble + buckets
    val rTot = rc.sum.toDouble + buckets
    // log-ratio per bucket, fixed evaluation shape: ln((tc+1)/(T+B)) −
    // ln((rc+1)/(R+B)) — an unseen-everywhere bucket scores ln(R+B)−ln(T+B)
    val table = Array.tabulate(buckets)(b =>
      math.log((tc(b) + 1.0) / tTot) - math.log((rc(b) + 1.0) / rTot))
    raw.select(
      col(idCol).as("doc_id"),
      ngramBuckets(split(col(textCol), " "), n, buckets).as("__f"))
      .select(col("doc_id"),
        size(col("__f")).cast("long").as("n_features"),
        round(sumLookup(col("__f"), table), 6).as("log_weight"))
  }

  /** [[dsirWeights]] in the ENGINE-EXACT form (the t17 md5 + a14
    * fixed-point principles): features are md5-bucketed n-gram STRINGS
    * (DuckDB recomputes ('0x'||substr(md5(g),1,8))::BIGINT % buckets),
    * and the log-ratio table — still ln, but evaluated ONCE on the
    * driver — is quantized to 2^-30 units and spliced into the oracle
    * as literals, so the per-document score is an integer sum divided
    * by a power of two: bit-identical across engines with no libm call
    * in either scan. The LM FITTING (bucket counts → smoothed log
    * ratios) stays driver-side like a14's eigensolve; DsirSpec pins it.
    * Returns the quantized table for the splice. [[dsirWeights]]
    * remains the fast xxhash64 production surface. */
  def dsirWeightsExact(raw0: DataFrame, target0: DataFrame, idCol: String,
                       textCol: String, n: Int = 2, buckets: Int = 8192,
                       scale: Long = 1L << 30): (DataFrame, Array[Long]) = {
    // same null-text exclusion as [[dsirWeights]] — the two surfaces
    // must classify every row identically
    val raw = raw0.filter(col(textCol).isNotNull)
    val target = target0.filter(col(textCol).isNotNull)
    val nb = buckets
    val nn = n
    val featUdf = udf { (s: String) =>
      if (s == null) Array.empty[Int]
      else {
        val words = s.split(" ", -1)
        if (words.length < nn) Array.empty[Int]
        else Array.tabulate(words.length - nn + 1) { i =>
          (Dedup.md5U32(words.slice(i, i + nn).mkString(" ")) % nb).toInt
        }
      }
    }
    def bucketCounts(df: DataFrame): Array[Long] = {
      val rows = df
        .select(explode(featUdf(col(textCol))).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
        .collect()
      val out = new Array[Long](buckets)
      rows.foreach(r => out(r.getInt(0)) = r.getLong(1))
      out
    }
    val tc = bucketCounts(target)
    val rc = bucketCounts(raw)
    val tTot = tc.sum.toDouble + buckets
    val rTot = rc.sum.toDouble + buckets
    val tableQ = Array.tabulate(buckets)(b => math.round(
      (math.log((tc(b) + 1.0) / tTot) - math.log((rc(b) + 1.0) / rTot)) *
        scale.toDouble))
    val bcT = raw.sparkSession.sparkContext.broadcast(tableQ)
    val sumUdf = udf { (fs: Seq[Int]) =>
      val t = bcT.value
      var s = 0L
      var i = 0
      while (i < fs.length) { s += t(fs(i)); i += 1 }
      s
    }
    val df = raw
      .select(col(idCol).as("doc_id"), featUdf(col(textCol)).as("__f"))
      .select(col("doc_id"),
        size(col("__f")).cast("long").as("n_features"),
        round(sumUdf(col("__f")).cast("double") / lit(scale.toDouble), 6)
          .as("log_weight"))
    (df, tableQ)
  }

  /** Domain-mixture statistics and temperature-weighted sampling
    * budgets — the corpus-mixing step of a training-data pipeline
    * (mixture weights ∝ token-count^alpha, the multilingual/domain
    * rebalancing rule of the XLM-R / Pile lineage): a domain's raw token
    * share is flattened by `alpha` < 1 so small domains are upsampled,
    * then a global token `budget` is allocated proportionally.
    *
    * Determinism contract (the oracle hash-compares): sqrt is IEEE
    * correctly-rounded, so per-domain `round(sqrt(tokens), 6)` is
    * engine-exact; the cross-domain total sums those rounded values as
    * DECIMAL (order-free), and every double division happens on
    * identical inputs. Only alpha = 0.5 keeps this contract (pow is not
    * correctly-rounded in general); other alphas are allowed but
    * oracle-checkable only if the other engine's pow bit-matches.
    *
    * Scale posture: one partial-agg shuffle on the domain key; the
    * domain table (tiny) then cross-joins a broadcast 1-row total —
    * the q13 broadcast-scalar pattern, no driver-side collect. */
  def domainMixture(docs: DataFrame, domainCol: String, textCol: String,
                    budget: Long, alpha: Double = 0.5): DataFrame = {
    require(alpha == 0.5,
      "oracle-exact mixture weights require alpha = 0.5 (IEEE sqrt); " +
        "generalize only with a bit-compatible pow on the oracle side")
    val per = docs.groupBy(col(domainCol).as("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(wsTokenCount(col(textCol)).cast("long")).as("total_tokens"))
      .withColumn("w_raw", round(sqrt(col("total_tokens").cast("double")), 6))
    val totals = per.agg(
      sum(col("total_tokens")).as("all_tokens"),
      sum(col("w_raw").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
        .as("w_sum"))
    per.crossJoin(broadcast(totals))
      .select(
        col("domain"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens") / col("all_tokens").cast("double"), 6)
          .as("token_share"),
        round(col("w_raw") / col("w_sum").cast("double"), 6).as("weight"),
        floor(round(col("w_raw") / col("w_sum").cast("double"), 6) * budget)
          .cast("long").as("sample_tokens"))
  }

  /** Half-away-rounded mean in micro-units — the t19/t21 boundary rule:
    * `num/den` as a double can land exactly on a 6th-decimal .5
    * boundary where engines' round() implementations disagree;
    * `floor((2·num·10⁶ + den) / 2·den)` is boundary-free integer
    * arithmetic. `den` must be positive. */
  def microMean(numCol: String, denCol: String): Column =
    expr(s"((2 * $numCol * 1000000 + $denCol) div (2 * $denCol))")
      .cast("double") / 1e6

  /** Readability profile — the Flesch-family signal on the syllable
    * heuristic every readability library uses (a syllable ≈ one maximal
    * vowel group per LOWERCASED word): per-document word count, syllable
    * count, long-word (≥ 3 syllables) count, and the [[microMean]]
    * syllables-per-word. Entirely scan-local — one projection, no
    * shuffle, one regex pass per word. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // null text = zero counts (size(split(null)) would be -1 — the trap
    // Packing.tokenCount documents). Lowercase before the vowel regex —
    // readability libraries lowercase first; '[aeiouy]+' alone would
    // under-syllable every capitalized word. ONE regex pass per word:
    // the per-word counts materialize once, both folds read them.
    val t = coalesce(col(textCol), lit(""))
    val nWords = when(col(textCol).isNull, lit(0L))
      .otherwise(wsTokenCount(t).cast("long"))
    docs.select(col(idCol).as("doc_id"), nWords.as("n_words"),
        coalesce(expr(s"""transform(split($textCol, ' '),
               |  w -> size(regexp_extract_all(lower(w), '[aeiouy]+', 0)))"""
          .stripMargin), expr("array()")).as("__syl"))
      .select(col("doc_id"), col("n_words"),
        expr("aggregate(__syl, 0L, (acc, x) -> acc + x)").as("n_syllables"),
        expr("aggregate(__syl, 0L, (acc, x) -> acc + CASE WHEN x >= 3 THEN 1L ELSE 0L END)")
          .as("n_long_words"))
      .withColumn("mean_syllables",
        when(col("n_words") === 0, lit(0.0))
          .otherwise(microMean("n_syllables", "n_words")))
  }

  /** Corpus-trained bigram language-model scoring — the CCNet-style
    * fluency signal: train an add-one-smoothed bigram LM on the corpus
    * itself (p(w2|w1) = (c(w1w2)+1)/(c(w1·)+V), context counts derived
    * from the bigram table, V = corpus vocabulary size) and score each
    * document by its mean negative log-probability. Low nll = phrasing
    * that repeats corpus-typical bigrams; high nll = atypical/garbled
    * text. Scoring the training corpus itself means no OOV path.
    *
    * Engine-exactness: ln is evaluated once per DISTINCT bigram (not per
    * token) on an IEEE-exact integer ratio, rounded to a scaled BIGINT,
    * then multiplied by the per-doc occurrence count and summed — integer
    * arithmetic end-to-end after the single ln call, so cross-engine
    * divergence would need libm to differ by more than one part in 10¹⁰
    * on one of the ~vocab² distinct inputs (the a11/t15 principle).
    *
    * Scale posture: bigrams leave the scan as 8-byte xxhash64 keys only;
    * the model is two partial-agg'd counts (bigram table, context table
    * folded FROM it — one corpus pass, not two); V rides in as a
    * broadcast scalar (q13 pattern); scoring joins per-doc distinct
    * bigram counts against the model on the hash key. Model tables scale
    * with vocabulary², not corpus size.
    *
    * Output: (doc_id, n_bigrams, nll); docs with < 2 words report (0, 0.0). */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    persistWords: Boolean = true): DataFrame = {
    // the per-doc bigram tallies feed FOUR consumers (per-doc counts,
    // model counts derived from them, the vocab scalar, and the final
    // n_bigrams join); unpersisted, each cascades back through the
    // caller's upstream pipeline, which at 100× rows was measured at
    // 54 s of redundant rescans. Persisting the projection caps every
    // caller at ONE input scan. Repeated-invocation callers (streaming
    // micro-batches) pass persistWords=false — the sequencePack
    // persistToks convention.
    //
    // r13: the old shape cached the word ARRAYS and re-ran the
    // explode(sequence) + 2×xxhash64 per-token chain for each bigram
    // consumer, plus a corpus-token-sized (doc_id, h12) groupBy
    // exchange for the per-doc counts. bigram_tfs aggregates per doc
    // IN the scan (one byte pass, hashes computed once), so the cached
    // frame holds pre-counted distinct rows, the (doc_id, h12)
    // exchange disappears, and the model counts re-aggregate the
    // compact per-doc rows instead of re-hashing the corpus. The r12
    // fusion REJECTION (deriving model counts from the per-doc
    // exchange) is superseded, not contradicted: there is no per-doc
    // exchange left to share — both consumers explode the cached
    // arrays scan-locally. Bit-identical by construction: every
    // aggregate below consumes the same multiset of (doc, h1, h12)
    // facts (BigramLmSpec pins equality with the explode form).
    val baseRaw = docs.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.bigramTfs(col(textCol)).as("bt"),
      graft.functions.GraftFunctions.distinctWordHashes(col(textCol)).as("dwh"),
      greatest(graft.functions.GraftFunctions.wordCount(col(textCol))
        .cast("long") - 1L, lit(0L)).as("n_bigrams"))
    val base =
      if (persistWords)
        baseRaw.persistLedgered()
      else baseRaw
    // per-doc distinct (h12, k) with the doc-max h1 — already counted
    // in the scan; mh1 exists only to rebuild the model's max(h1)
    val docBi = base.select(col("doc_id"), explode(col("bt")).as("e"))
      .select(col("doc_id"), col("e.h12").as("h12"),
        col("e.h1").as("mh1"), col("e.k").as("k"))
    // model counts from the per-doc rows: sum(k) ≡ the occurrence
    // count, max(per-doc max h1) ≡ the occurrence-stream max
    val bcnt = docBi.groupBy(col("h12"))
      .agg(max(col("mh1")).as("h1"), sum(col("k")).as("c12"))
    val ccnt = bcnt.groupBy(col("h1")).agg(sum(col("c12")).as("cctx"))
    val vrow = base.select(explode(col("dwh")).as("h"))
      .agg(count_distinct(col("h")).as("v"))
    val scores = docBi.select(col("doc_id"), col("h12"), col("k"))
      .join(bcnt, Seq("h12"))
      .join(ccnt, Seq("h1"))
      .crossJoin(broadcast(vrow))
      .withColumn("c", expr(
        "k * cast(round(ln(cast(c12 + 1 as double) / (cctx + v)) * 1e6, 0) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("s"), sum(col("k")).as("nb"))
    // the mean is rounded HALF-AWAY IN INTEGER ARITHMETIC on the exact
    // rational -s/nb (micro-nats): s/1e6/nb as a double lands exactly on
    // 6th-decimal .5 boundaries (s is 1e6-scaled), where Spark's
    // BigDecimal rounding and DuckDB's multiply-then-round disagree —
    // floor((-2s + nb) / 2nb) is boundary-free and engine-exact
    base.select(col("doc_id"), col("n_bigrams"))
      .join(scores, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(expr("((-2 * s + nb) div (2 * nb))").cast("double") / 1e6,
          lit(0.0)).as("nll"))
  }

  /** Per-source boilerplate line removal — the CCNet/trafilatura cleanup
    * every web-scale corpus needs: nav menus, footers, cookie banners
    * repeat VERBATIM across a site's pages, so a line occurring in
    * ≥ `minDocFreq` distinct documents of the SAME source is boilerplate
    * and is stripped from every document (repeated lines within one
    * document count once toward the frequency).
    *
    * Scale posture: lines shuffle as 8-byte xxhash64(source, line) keys,
    * never as text (the d10 convention); the document frequency is a
    * partial-agg'd count over per-doc-distinct keys; the boilerplate key
    * set (lines crossing the threshold — nav/footer-sized, far smaller
    * than the corpus) re-broadcasts for a map-side LEFT ANTI filter, so
    * the corpus itself is scanned twice but never shuffled on a
    * high-cardinality key. The rebuild aggregates (pos, line) pairs per
    * document — the only corpus-keyed shuffle, carrying kept lines only.
    *
    * Output: (doc_id, n_lines, n_kept, clean_text), empty string when
    * every line was boilerplate. */
  /** Boiler-key sets larger than this keep the distributed anti-join
    * rebuild (the broadcast arrays would stop being "a few MB of
    * longs" — at the cap the two aligned 128-bit key arrays are
    * 64 MB); below it the rebuild is scan-local. Overridable via
    * spark.graft.boiler.broadcastMaxKeys (the regime-equality spec
    * forces the fallback with 0). */
  private def boilerBroadcastMaxKeys(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.boiler.broadcastMaxKeys")
      .map(_.toInt).getOrElse(1 << 22)

  def removeBoilerplate(docs: DataFrame, idCol: String, srcCol: String,
                        textCol: String, minDocFreq: Long): DataFrame = {
    // src null-coalesced ONCE so the census and the rebuild hash the
    // same key (the hash is engine-internal — the oracle replays raw
    // (source, line) strings, so any deterministic keying works as
    // long as both passes agree)
    val base = docs.select(col(idCol).as("doc_id"),
        coalesce(col(srcCol), lit("")).as("src"), col(textCol).as("text"))
      // the doc-level frame feeds the census pass AND the rebuild scan;
      // un-persisted, an expensive upstream (p18's planted-lines
      // construction) would run twice. Doc-level rows, not the old
      // line-level explode — strictly fewer bytes cached.
      .persistLedgered()
    // census: per-document-DISTINCT line keys → document frequency.
    // line_hashes is one scan-local byte pass emitting 128-bit (hi, lo)
    // two-chain xxhash64 keys (r14 — closing the r13 verdict's residual
    // risk (a): 64-bit keys at 100 TB line cardinalities silently drop
    // non-boiler lines on birthday collisions; two independent chains
    // give the same close-out d20's 120-bit postings got). Only 16-byte
    // keys leave the scan — line STRINGS never shuffle (r13; the old
    // plan persisted the exploded line-string frame and shuffled full
    // lines through a collect_list rebuild, p18's dominant phase).
    val lineKeys = base.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.lineHashes(
          col("src"), col("text"))).as("lk"))
      .select(col("doc_id"), col("lk.hi").as("hi"), col("lk.lo").as("lo"))
    val boiler = lineKeys.distinct()
      .groupBy(col("hi"), col("lo")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDocFreq)
      .select(col("hi"), col("lo"))
    // the boiler set is (frequent-distinct-lines)-sized — collect it
    // (capped) and rebuild SCAN-LOCALLY: per doc one byte pass dropping
    // boiler lines, no explode, no line shuffle, no re-join. The guide
    // §8 shape: decide with small rows (16-byte keys), move the heavy
    // strings zero times.
    val spark = docs.sparkSession
    val cap = boilerBroadcastMaxKeys(spark)
    val keyRows = boiler.limit(cap + 1).collect()
    if (keyRows.length <= cap) {
      // signed (hi, lo) lexicographic order — the keepLines probe
      // binary-searches hi with signed compares
      val pairs = keyRows.map(r => (r.getLong(0), r.getLong(1))).sorted
      val bHi = pairs.map(_._1)
      val bLo = pairs.map(_._2)
      base.select(col("doc_id"),
          graft.functions.GraftFunctions.keepLines(
            col("src"), col("text"), bHi, bLo).as("r"))
        .select(col("doc_id"),
          // null text = 0 lines / 0 kept / "" (keep_lines is null-safe
          // over text, the struct coalesces to the old left_outer
          // semantics)
          coalesce(col("r.n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("r.n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("r.clean_text"), lit("")).as("clean_text"))
    } else {
      // distributed fallback — the pre-r13 anti-join + ordered rebuild,
      // on the same 128-bit keys (arrays_zip pairs each line string
      // with its key; both arrays are per-line, so lengths agree)
      val lines = base
        .select(col("doc_id"), split(col("text"), "\n").as("ls"),
          graft.functions.GraftFunctions.lineHashes(
            col("src"), col("text")).as("ks"))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("ls"), col("ks"))).as(Seq("pos", "z")))
        .select(col("doc_id"), col("pos"), col("z.ls").as("line"),
          col("z.ks.hi").as("hi"), col("z.ks.lo").as("lo"))
      val kept = lines.join(boiler, Seq("hi", "lo"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x("line")), "\n").as("clean_text"))
      base.select(col("doc_id"),
          when(col("text").isNull, lit(0L))
            .otherwise(size(split(col("text"), "\n")).cast("long")).as("n_lines"))
        .join(kept, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
    }
  }

  /** Materialize the [[domainMixture]] budgets: per-domain deterministic
    * hash-gated sampling at exactly the rate the mixture computed —
    * a document is kept iff its md5 bucket (32-bit) falls under
    * sample_tokens/total_tokens of the gate space. The comparison
    * cross-multiplies in DECIMAL so the rate is an EXACT rational
    * (no float rate, no boundary drift; i64 products would overflow at
    * 100 TB token totals), and md5-gating makes the sample reproducible
    * across engines and runs (the t04 principle). Domains whose budget
    * meets or exceeds their total keep everything.
    *
    * Scale posture: one corpus pass for the budgets (domain-bounded
    * aggregate), one for the gate — the budget table broadcasts; the
    * gate is scan-local. Output: kept (doc_id, domain, n_tokens). */
  def mixtureSample(docs: DataFrame, idCol: String, domainCol: String,
                    textCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val budgets = domainMixture(docs, domainCol, textCol, budget)
      .select(col("domain"), col("total_tokens"), col("sample_tokens"))
    docs.select(col(idCol).as("doc_id"), col(domainCol).as("domain"),
        wsTokenCount(col(textCol)).cast("long").as("n_tokens"),
        expr(s"cast(conv(substring(md5($textCol), 1, 8), 16, 10) as bigint)")
          .as("__gate"))
      .join(broadcast(budgets), "domain")
      .filter(col("__gate").cast(DecimalType(19, 0)) *
        col("total_tokens").cast(DecimalType(19, 0)) <
        col("sample_tokens").cast(DecimalType(19, 0)) *
          lit(4294967296L).cast(DecimalType(19, 0)))
      .select(col("doc_id"), col("domain"), col("n_tokens"))
  }

  /** Epoch-repeat resampling WITH replacement — the upsampling half of
    * mixture building ([[mixtureSample]] only downsamples): every
    * domain is driven to the SAME token target by replicating each
    * document `floor(r)` times plus one more with probability
    * `frac(r)`, where r = target/total is the domain's exact rational
    * repeat factor — the "epochs over a small high-quality domain"
    * move of modern data recipes. Expected emitted tokens per domain
    * = target exactly.
    *
    * Determinism (the t22 gate): the frac(r) coin is the 32-bit md5
    * bucket of the text, compared by DECIMAL cross-multiplication
    * `gate·total < (target mod total)·2³²` — no float rate, no drift;
    * re-runs and the DuckDB twin flip identical coins. Copies emit
    * via `explode(sequence(1, n))` guarded against Spark's DESCENDING
    * sequence(1, 0) quirk.
    *
    * Scale posture: one domain-bounded aggregate (broadcast back), a
    * scan-local gate + explode; output volume is the requested
    * target, never more. */
  def epochRepeat(docs: DataFrame, idCol: String, domainCol: String,
                  textCol: String, targetTokens: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(targetTokens >= 1, "token target must be positive")
    val totals = docs.groupBy(col(domainCol).as("domain"))
      .agg(sum(wsTokenCount(col(textCol)).cast("long")).as("total_tokens"))
    val d19 = (c: Column) => c.cast(DecimalType(19, 0))
    docs.select(col(idCol).as("doc_id"), col(domainCol).as("domain"),
        wsTokenCount(col(textCol)).cast("long").as("n_tokens"),
        expr(s"cast(conv(substring(md5($textCol), 1, 8), 16, 10) as bigint)")
          .as("__gate"))
      .join(broadcast(totals), "domain")
      .withColumn("n_copies",
        expr(s"$targetTokens div total_tokens") +
          when(d19(col("__gate")) * d19(col("total_tokens")) <
            d19(lit(targetTokens) % col("total_tokens")) * d19(lit(4294967296L)),
            1L).otherwise(0L))
      .select(col("doc_id"), col("domain"), col("n_tokens"),
        col("n_copies"),
        explode(when(col("n_copies") >= 1,
          sequence(lit(1L), col("n_copies")))
          .otherwise(expr("cast(array() as array<bigint>)"))).as("copy"))
  }

  /** Blocked-wordlist policy filter — the C4/FineWeb "bad words" gate:
    * count the DISTINCT blocked terms a document contains (word-exact
    * match on the whitespace tokens, the C4 rule) and keep documents
    * with none. The list rides as a plan literal (policy lists are
    * hundreds of terms); the whole operator is one scan-local
    * projection — no shuffle, no UDF, integer-exact. */
  def wordlistFilter(docs: DataFrame, idCol: String, textCol: String,
                     blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "need at least one blocked term")
    // typed literal, not SQL splicing — terms with quotes/backslashes
    // are data, not syntax. array_intersect already returns distinct
    // elements; null text = zero matches (classified, not NULL'd out
    // of both sides of the gate).
    val terms = typedLit(blocked)
    docs.select(col(idCol).as("doc_id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(array_intersect(split(col(textCol), " "), terms))
            .cast("long")).as("n_blocked"))
      .withColumn("keep", (col("n_blocked") === 0).cast("int"))
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus
    * word stream, engine-exact: every counter is an exact integer sum
    * over md5-bucketed keys, so DuckDB replays the sketch AND the
    * min-over-rows estimates bit for bit (the a06 HyperLogLog
    * principle — determinism makes an approximate operator
    * oracle-checkable).
    *
    * Why a sketch when groupBy(word) is exact: the sketch's state is
    * `depth × width` counters REGARDLESS of vocabulary size. At 100 TB
    * the word vocabulary (URLs, typos, code identifiers) can reach
    * billions of keys, where the exact groupBy's shuffle is the
    * bottleneck; the sketch shuffles at most `depth × width` keys
    * (map-side partial aggregation collapses each partition to ≤ that
    * many rows) and never materializes the tail. Estimates are
    * one-sided: `est ≥ exact` always (collisions only ADD), with
    * ε = e/width overcount at δ = e^-depth confidence — the classic
    * heavy-hitters contract.
    *
    * Sketch build: one scan → explode to `depth` (row, bucket) keys
    * per token → bounded groupBy. Buckets: row j reads the big-endian
    * 32-bit lane j%4 of md5("cm{j/4}|" + key) — one digest covers four
    * sketch rows — via the native [[graft.functions.GraftFunctions.cmBuckets]]
    * (digest bytes, no hex-string hop). Lookup for a key set:
    * broadcast the keys, probe the sketch on (row, bucket), min over
    * rows. */
  def countMinSketch(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 1024): DataFrame = {
    // buckets come from the native digest-bytes expression (r12
    // verdict #5: the hex-string + conv form paid a 32-char string
    // materialization and four substring parses PER OCCURRENCE — the
    // whole map-side cost of an otherwise bounded-state scan; the ×10
    // row dropped ~3× with this). Bit-identical bucket values, same
    // oracle replay.
    val words = docs.select(explode(split(col(textCol), " ")).as("word"))
    words
      .select(posexplode(graft.functions.GraftFunctions.cmBuckets(
        col("word"), depth, width)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Heavy-hitter estimates: the exact top-`k` words (the demonstration
    * query — at scale the candidate set would itself come from the
    * sketch or a per-partition top-k) probed against the Count-Min
    * sketch. Output (word, n_exact, n_est) with n_est ≥ n_exact by
    * construction. */
  def countMinHeavyHitters(docs: DataFrame, textCol: String,
                           depth: Int = 4, width: Int = 1024,
                           k: Int = 20): DataFrame =
    countMinProbe(docs, textCol, countMinSketch(docs, textCol, depth, width),
      depth, width, k)

  /** [[countMinHeavyHitters]] with the sketch supplied by the caller —
    * the streaming twin (s17) maintains the sketch as BOUNDED streaming
    * state (depth·width counter cells, a count monoid) and probes it at
    * read time; batch t25 passes [[countMinSketch]] of the same docs. */
  def countMinProbe(docs: DataFrame, textCol: String, sketch: DataFrame,
                    depth: Int = 4, width: Int = 1024,
                    k: Int = 20): DataFrame = {
    val words = docs.select(explode(split(col(textCol), " ")).as("word"))
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("word")).limit(k)
    val probes = top
      .select(col("word"), col("n_exact"),
        posexplode(graft.functions.GraftFunctions.cmBuckets(
          col("word"), depth, width)).as(Seq("j", "bucket")))
      .select(col("word"), col("n_exact"), col("j"), col("bucket"))
    broadcast(probes).join(sketch, Seq("j", "bucket"))
      .groupBy(col("word"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
  }

  /** PII redaction — the C4/web-corpus privacy gate: detect and mask
    * emails, North-American phone numbers, and IPv4 literals before
    * the corpus ships. Counts are reported per document (the audit a
    * privacy review wants) alongside the redacted text.
    *
    * Count semantics: n_emails/n_phones/n_ips are DETECTION counts on
    * the RAW text, while masking is sequential (email → phone → IP) —
    * a span matching two classes (a phone-shaped local part inside an
    * email) is counted under both but masked once, under the earlier
    * class. Reconcile an audit against raw-text detections, not
    * against a token census of clean_text. (Deliberate: per-class
    * detection telemetry is what the privacy review samples; the
    * oracle replays the same raw-text counts.)
    *
    * NOTE: [[scrubPii]] is a DIFFERENT, reference-pinned cleanup pass
    * (its `<EMAIL>`/`<IP>`/`<NUM>` masks, unanchored IP pattern, and
    * digit-run rule replicate that operator's own contract) — the two
    * pattern sets diverge on purpose and must NOT be unified.
    *
    * Engine parity: the three patterns use only the regex subset Java
    * (Spark) and RE2 (DuckDB) agree on — character classes, bounded
    * repetition, non-capturing groups, word boundaries; no lookaround,
    * no backreferences. DuckDB's regexp_replace needs the explicit
    * 'g' flag to match Spark's replace-all semantics — the oracle
    * carries it.
    *
    * Scale posture: entirely scan-local (counts + three chained
    * replaces per row, all codegen'd) — zero shuffle; the gate runs at
    * scan bandwidth like the wordlist/gopher filters.
    *
    * Output: (doc_id, n_emails, n_phones, n_ips, clean_text); null
    * text reports zero counts and '' (the removeBoilerplate null
    * convention). */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val t = col(textCol)
    def cnt(p: String) = when(t.isNull, lit(0L))
      .otherwise(size(regexp_extract_all(t, lit(p), lit(0))).cast("long"))
    docs.select(col(idCol).as("doc_id"),
      cnt(email).as("n_emails"),
      cnt(phone).as("n_phones"),
      cnt(ip).as("n_ips"),
      // email first: its digits must not be half-eaten by the ip/phone
      // masks; phone/ip are disjoint by construction
      coalesce(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, email, "[EMAIL]"),
            phone, "[PHONE]"),
          ip, "[IP]"),
        lit("")).as("clean_text"))
  }

  /** N-gram novelty (t39) — how much of each document is text the
    * corpus has NOT already seen: the fraction of its distinct word
    * n-grams whose FIRST occurrence (minimum doc id) is this document.
    * The inverse readout of duplication: boilerplate-heavy or
    * crawl-duplicated documents score near 0, fresh prose near 1000
    * permille. This is the attribution form of exact substring dedup —
    * instead of dropping repeated spans (d10/d14), it charges each
    * n-gram to its earliest document and scores everyone else's reuse.
    *
    * Scale posture: shuffles carry 8-byte md5-prefix hashes, never the
    * n-gram strings (the d03 hashed-shingle lesson); the per-hash
    * min-doc aggregate map-side combines; the exploded (doc, hash)
    * frame persists because it feeds both the aggregate and the
    * join-back (cache lifetime: session LRU / caller clearCache, like
    * every index intermediate here). The hash is the 60-bit md5 prefix
    * — engine-replayable, collision odds ~n²/2⁶¹ (once per ~10⁹ grams
    * squared; a collision misattributes ONE gram, it cannot fail the
    * pipeline).
    *
    * Output: (doc_id, n_grams, n_novel, novelty_permille) — permille by
    * integer floor division (corpus-derived denominators never ride a
    * rounded double: the t33 rule); gram-less docs report 0/0/NULL. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.ngramStrings(col(textCol), n))
          .as("shingle"))
      .select(col("doc_id"), Dedup.md5Hash60Col(col("shingle")).as("h"))
      .persistLedgered()
    val first = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val agg = ex.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .withColumn("novelty_permille", expr("(n_novel * 1000) div n_grams"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        col("novelty_permille"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source n-gram overlap matrix (t40) — for every ordered
    * source pair (a, b), how much of source a's distinct n-gram
    * vocabulary also appears in source b: the containment readout a
    * crawl owner reads before merging feeds ("does this new feed just
    * mirror one we already have?"). d11 reports dedup impact WITHIN
    * the corpus; this localizes redundancy BETWEEN sources.
    *
    * Plan: one corpus scan explodes to distinct (source, gram-hash)
    * pairs — the vocabulary projection, the only corpus-sized shuffle,
    * carrying 8-byte md5-prefix hashes (the t39 keys, never strings);
    * the overlap self-join fans each gram out to (sources containing
    * it)² rows, bounded by |sources|² per gram and |sources|² total
    * output state. `maxGramSourceFreq` is the stop-gram guard for
    * source-heavy universes (a gram in more than that many sources is
    * dropped from BOTH the numerator and each source's denominator —
    * the jaccardPairs filtered-universe rule, so containment stays a
    * true ratio over one gram universe).
    *
    * Output: (source_a, source_b, n_grams_a, n_common,
    * containment_ppm) for overlapping pairs; ppm by integer floor
    * division (corpus-sized denominator — the t33 rule). */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int, maxGramSourceFreq: Option[Int] = None): DataFrame = {
    val g0 = docs
      .select(col(srcCol).as("source"),
        explode(graft.functions.GraftFunctions.ngramStrings(col(textCol), n))
          .as("shingle"))
      .select(col("source"), Dedup.md5Hash60Col(col("shingle")).as("h"))
      .distinct()
    val g = (maxGramSourceFreq match {
      case Some(maxSf) =>
        val keep = g0.groupBy(col("h"))
          .agg(count(lit(1)).as("__sf"))
          .filter(col("__sf") <= maxSf)
          .select(col("h"))
        g0.join(keep, Seq("h"))
      case None => g0
    }).persistLedgered()
    // per-source vocabulary sizes over the SAME (possibly guarded)
    // gram universe as the overlap join
    val sz = g.groupBy(col("source")).agg(count(lit(1)).as("n_grams_a"))
    // Pair generation stays the h-keyed self-join. Built and REJECTED
    // after measurement (r13): one groupBy(h) + collect_list + an
    // ordered-pair explode replaces the second exchange, but the
    // nested transform/filter HOF runs INTERPRETED per gram row
    // (millions of rows, mostly |ss| = 2) and measured 2.43 s vs the
    // join's 1.9 s on the t40 sf0.1 row — the join machinery is
    // cheaper than per-row lambda dispatch at this fan-out.
    val ov = g.as("a")
      .join(g.as("b"),
        col("a.h") === col("b.h") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    ov.join(sz.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .withColumn("containment_ppm",
        expr("(n_common * 1000000) div n_grams_a"))
      .select(col("source_a"), col("source_b"), col("n_grams_a"),
        col("n_common"), col("containment_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Document-stitch detection — the crawl/pagination repair signal:
    * a page whose TAIL word sequence reappears as another page's HEAD
    * is a split-document candidate (A continues into B), and the
    * longest matching suffix–prefix length grades the confidence.
    *
    * An overlap of length L puts A's last `minK` words at positions
    * L−minK+1..L of B — NOT at B's head — so the block key is A's
    * tail minK-gram against the minK-gram ENDING at each candidate
    * position k ∈ [minK, maxK] of B's head window, and the candidate
    * is verified in the same join predicate by the full-k hash
    * equality (tail_k(A) = head_k(B)). Everything is a scan-local
    * 8-byte md5 prefix — the join moves a few longs per (doc, k),
    * never word arrays — and the verified maximum k per pair is one
    * bounded aggregate. Overlaps LONGER than maxK are out of scope by
    * design: a wholesale copy is d02/d10's territory (near-dup), not
    * a stitch; this operator grades bounded pagination-style seams.
    * Directed output: (id_a → id_b, overlap_len ∈ [minK, maxK]). */
  def stitchPairs(docs: DataFrame, idCol: String, textCol: String,
                  minK: Int = 3, maxK: Int = 8): DataFrame = {
    require(1 <= minK && minK <= maxK, "need 1 <= minK <= maxK")
    import graft.operators.Dedup.md5Hash60Col
    val w = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"),
        graft.functions.GraftFunctions.wordCount(col(textCol)).as("n"))
      .filter(col("n") >= minK)
    def hash(c: org.apache.spark.sql.Column) =
      md5Hash60Col(concat(lit("st|"), c))
    // ONE scan per side (the round-7 restructure): k is a ROW, not a
    // plan branch — explode sequence(minK, least(maxK, n)) and slice
    // with the k COLUMN, instead of a (maxK − minK + 1)-way unionByName
    // of per-k FileScans that re-split and re-hashed the corpus once
    // per k per side (12 scans at the 3..8 default; the r7 driver bench
    // amplified that shape 20×)
    val wk = w.select(col("id"), col("ws"),
      explode(expr(s"sequence($minK, least($maxK, n))")).as("k"))
    // A side: one row per (doc, k) carrying the tail-k verify hash and
    // the tail-minK block key (k aliased per side: both sides read the
    // SAME wk frame, and identical attribute ids in a self-join
    // condition are ambiguous)
    val aLong = wk.select(col("id").as("id_a"), col("k").as("ka"),
      hash(concat_ws(" ", expr("slice(ws, -k, k)"))).as("th"),
      hash(concat_ws(" ", expr(s"slice(ws, -$minK, $minK)"))).as("ta"))
    // B side: one row per (doc, k) carrying the head-k verify hash and
    // the block key = the minK-gram ENDING at position k
    val bLong = wk.select(col("id").as("id_b"), col("k").as("kb"),
      hash(concat_ws(" ", expr("slice(ws, 1, k)"))).as("hh"),
      hash(concat_ws(" ",
        expr(s"slice(ws, k - ${minK - 1}, $minK)"))).as("bkey"))
    aLong.join(bLong,
        col("ta") === col("bkey") && col("ka") === col("kb") &&
          col("th") === col("hh") && col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("ka")).as("overlap_len"))
  }

  /** One row per document with the full text-analysis profile. */
  def profile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      wsTokenCount(t).cast("long").as("ws_tokens"),
      regexTokenCount(t).cast("long").as("re_tokens"),
      punctCount(t).cast("long").as("punct_chars"),
      round(meanWordLen(t), 6).as("mean_word_len"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_guess"),
      bowFingerprint(t).as("bow_fp"))
  }

  /** Topic-segmentation boundaries (t43) — TextTiling's lexical-
    * cohesion valley rule (Hearst, CL 1997 §4: score each gap between
    * adjacent text blocks by their lexical similarity; topic
    * boundaries live at local minima), made engine-exact: blocks are
    * fixed `blockWords` word windows, the gap score is the SQUARED
    * cosine of the two blocks' term-count vectors in ppm —
    * (dot²·10⁶) div (‖a‖²·‖b‖²) — so no square root ever happens
    * (the a27 discipline: squared cosine orders identically to
    * cosine on nonnegative counts), and a gap is a boundary when it
    * is a STRICT local valley (score below both neighbors; doc-edge
    * gaps never qualify — lag/lead nulls coalesce to false).
    *
    * Scale posture: the block id is scan-local (pos div blockWords),
    * counts shuffle 8-byte md5-prefix word hashes (the t39/d21
    * discipline), the adjacent-block dot is an equi-join on (doc,
    * hash, blk+1), and the valley windows partition by doc — many
    * small groups, bounded by per-doc block count, never corpus-wide.
    * Output: (doc_id, gap, simsq_ppm, is_boundary) per adjacent-block
    * gap; single-block docs emit nothing. */
  def textTilingBoundaries(docs: DataFrame, idCol: String, textCol: String,
                           blockWords: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // magnitude bound for the BIGINT ppm arithmetic: dot ≤ blockWords²
    // (one repeated word), so dot²·10⁶ ≤ blockWords⁴·10⁶ must stay
    // under 2⁶³ — blockWords ≤ 1024 gives ≤ 1.1e18. Beyond it Spark
    // (ANSI off) would wrap silently while DuckDB errors — fail loudly
    // here instead (the Hits.scala disclosed-bound convention).
    require(blockWords >= 2 && blockWords <= 1024,
      s"blockWords=$blockWords outside [2, 1024]: dot²·10⁶ would overflow BIGINT")
    val words = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), expr(s"pos div $blockWords").as("blk"),
        Dedup.md5Hash60Col(col("w")).as("h"))
    val cnt = words.groupBy(col("doc_id"), col("blk"), col("h"))
      .agg(count(lit(1)).as("c"))
      .persistLedgered()
    // ^ two consumers (norms + adjacent dot); lifetime: LRU / caller
    // clearCache, the standard index-intermediate contract
    val n2 = cnt.groupBy(col("doc_id"), col("blk"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val dots = cnt.as("a")
      .join(cnt.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.blk") === col("a.blk") + 1 && col("a.h") === col("b.h"))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.blk").as("blk"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    val gaps = n2.as("x")
      .join(n2.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.blk") === col("x.blk") + 1)
      .select(col("x.doc_id").as("doc_id"), col("x.blk").as("gap"),
        col("x.n2").as("na2"), col("y.n2").as("nb2"))
      .join(dots.withColumnRenamed("blk", "gap"), Seq("doc_id", "gap"),
        "left_outer")
      .withColumn("dot", coalesce(col("dot"), lit(0L)))
      .withColumn("simsq_ppm",
        expr("(dot * dot * 1000000) div (na2 * nb2)"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("gap"))
    gaps
      .withColumn("is_boundary", coalesce(
        col("simsq_ppm") < lag(col("simsq_ppm"), 1).over(w) &&
          col("simsq_ppm") < lead(col("simsq_ppm"), 1).over(w),
        lit(false)).cast("int"))
      .select(col("doc_id"), col("gap"), col("simsq_ppm"),
        col("is_boundary"))
      .orderBy(col("doc_id"), col("gap"))
  }
}
