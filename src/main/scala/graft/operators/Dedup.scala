package graft.operators

import graft.core.Caching.LedgerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines:
  * exact (hash), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. North-star extension of the reference's
  * filename dedup (F7, src/api/app.py:103-105).
  *
  * Scale design notes (100 TB posture):
  *  - exact dedup is one hash-shuffle on a 32-byte digest, not the text;
  *  - Jaccard via shingle join is quadratic in per-shingle doc frequency —
  *    `maxShingleDocFreq` drops stop-shingles (bounded skew) exactly like
  *    stop-words; use MinHash/LSH when the pair space is too big;
  *  - MinHash signatures are computed per-row in pure Catalyst
  *    (`transform` + `array_min` + `xxhash64`), no shuffle; only the
  *    band-bucket join shuffles, carrying (band, hash, id) triples;
  *  - SimHash pairs join on 16-bit blocks (pigeonhole: hamming ≤ 3 ⇒ an
  *    equal block), so the shuffle key space is dense and small.
  */
object Dedup {

  /** A user-supplied similarity threshold as an EXACT reduced fraction
    * num/den. Doubles that came from decimal literals (0.07, 0.85)
    * round-trip exactly through `toString` ("0.07"), so
    * BigDecimal(toString) recovers the intended rational with no
    * binary-float residue — the foundation for integer-only prefix /
    * length pruning in [[prefixJaccardPairs]] (⌈n·t⌉ =
    * (n·num + den − 1) div den, never computed in doubles). */
  private[operators] def thresholdAsFraction(t: Double): (Long, Long) = {
    val bd  = BigDecimal(t.toString)
    val den = BigDecimal(10).pow(math.max(bd.scale, 0))
    val num = (bd * den).toBigIntExact.getOrElse(
      sys.error(s"threshold $t is not a decimal fraction"))
    val g = num.gcd(den.toBigInt)
    val (n, d) = ((num / g).longValue, (den.toBigInt / g).longValue)
    // keep n_sh·num / n_sh·den inside Long for any realistic shingle
    // count (n_sh ≤ ~10⁶ per document): a COMPUTED threshold like
    // 0.1 + 0.2 stringifies with 17 decimals, den = 10¹⁷, and the
    // integer prunings would silently overflow — fail loudly instead
    // (same ≤ 9-significant-decimals contract the ε-slack documented)
    require(d <= 1000000000L,
      s"threshold $t carries more than 9 decimal digits (den = $d); " +
        "pass a decimal-literal threshold")
    (n, d)
  }

  /** documents(id, text) -> (id, shingles: array<string>) with distinct
    * word n-grams — the native scan-local [[graft.functions.GraftFunctions.ngramStrings]]
    * pass (the interpreted transform/slice/array_join form was the
    * dominant cost of every string-shingle consumer). */
  def withShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions.ngramStrings(col(textCol), n).as("shingles"))

  /** The exact-dedup key: the SHA-256 digest of the text, so the
    * shuffle carries 64 hex chars, not the document. */
  private def textDigest(textCol: String): Column = sha2(col(textCol), 256)

  /** Exact dedup, keep-first: of the rows with the same text, the one
    * with the lowest `idCol` survives, whole. No window: the row_number
    * form shuffles and then SORTS full text rows under the digest key;
    * the min_by aggregation consumes `df` once (a second consumer would
    * re-run an un-persisted upstream), partial-aggregates map-side (one
    * winner candidate per digest per partition crosses the wire), and
    * needs no per-group sort. */
  def keepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textDigest(textCol).as("__dig"))
      .agg(min_by(struct(df.columns.map(col).toIndexedSeq: _*), col(idCol)).as("__w"))
      .select(df.columns.map(c => col("__w").getField(c).as(c)).toIndexedSeq: _*)

  /** The [[keepFirst]] groups summarised: one row per distinct text with
    * its kept (lowest) id and copy count. */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textDigest(textCol).as("text_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** All-pairs n-gram Jaccard ≥ threshold via inverted shingle index.
    * `maxShingleDocFreq` (optional) drops shingles present in more than
    * that many documents before pairing — the stop-shingle guard that
    * keeps the join fan-out bounded under skew. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, maxShingleDocFreq: Option[Int] = None): DataFrame =
    jaccardPairsFromShingles(withShingles(df, idCol, textCol, n),
      threshold, maxShingleDocFreq)

  /** [[jaccardPairs]] over a pre-built (id, shingles) frame — callers
    * that already materialized the shingle scan (the d19 sweep shares
    * one persisted frame between its LSH signatures and this exact
    * denominator) skip a full re-scan of the corpus. */
  /** (id, shingle, lo) hashed postings of a (id, shingles) frame — the
    * ONE posting builder the d02/d17 inverted-index pair ops share
    * (r12 verdict #4: containment had its own raw-STRING posting path,
    * a copy-paste drift risk and ~10× the shuffle bytes per posting).
    * `shingle` is the 60-bit candidate/bucket key; `lo` the disjoint
    * second 60 bits ([[md5Hash60LoCol]]) that widen every downstream
    * equality to 120 bits. */
  private def hashedPostings(sh: DataFrame, prefix: String): DataFrame =
    sh.select(col("id"), explode(col("shingles")).as("s"))
      .select(col("id"),
        graft.functions.GraftFunctions.md5Hash120(
          concat(lit(prefix), col("s"))).as("h"))
      .select(col("id"), col("h.hi").as("shingle"), col("h.lo").as("lo"))

  /** Optional stop-shingle guard over hashed postings — the df census
    * counts TRUE (120-bit) shingles, so a 60-bit prefix collision can
    * neither merge two shingles' document frequencies nor drop the
    * wrong one. */
  private def dfGuard(postings: DataFrame, maxDf: Option[Int]): DataFrame =
    maxDf match {
      case Some(cap) =>
        val freq = postings.groupBy("shingle", "lo")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select("shingle", "lo")
        postings.join(freq, Seq("shingle", "lo"))
      case None => postings
    }

  /** (id_a, id_b, n_inter) over hashed postings: the pair join's
    * equality is the FULL 120-bit (shingle, lo) key (r12 verdict #3 —
    * with the 60-bit key alone, collision odds reach ~2e-3 at 10⁹
    * distinct shingles, inflating n_inter by 1 near the threshold
    * boundary); the 60-bit prefix leads the shuffle key, so bucketing
    * is unchanged. */
  private def pairIntersections(postings: DataFrame): DataFrame =
    postings.as("a")
      .join(postings.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.lo") === col("b.lo") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))

  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double,
                               maxShingleDocFreq: Option[Int] = None): DataFrame = {
    // the pair join shuffles 16-byte md5 keys (60-bit candidate prefix
    // + the 60-bit verify extension), never shingle strings (the
    // t39/d21 discipline); equality is set-exact to n²/2¹²¹ odds, so
    // the exact-pair oracle joins raw shingle strings
    val filtered = dfGuard(hashedPostings(sh, "jp|"), maxShingleDocFreq)
    // denominator must use the same shingle universe as the numerator:
    // when the stop-shingle guard is active, sizes come from the FILTERED
    // postings, otherwise near-threshold pairs are systematically missed
    // (intersection filtered, union not)
    val sizes = maxShingleDocFreq match {
      case Some(_) => filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
      case None    => sh.select(col("id"), size(col("shingles")).as("n_sh"))
    }
    pairIntersections(filtered)
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "sh_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sh_a") + col("sh_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** All-pairs WEIGHTED (term-frequency) cosine over the n-gram
    * inverted index — the multiset companion to [[jaccardPairs]]: set
    * Jaccard is blind to repetition, so a page that repeats another's
    * paragraph five times scores the same as one that quotes it once;
    * TF cosine weighs the overlap. cos²(A,B)·10⁶ =
    * (Σ tfA·tfB)² · 10⁶ div (Σ tfA² · Σ tfB²) — integers end to end
    * (DECIMAL(38) for the square, so a million-shingle document stays
    * exact), and thresholding on cos² avoids the square root no
    * integer replay has. Shuffles carry 8-byte md5-prefix hashes and
    * per-(doc, gram) counts, never gram strings; the candidate space
    * is the d02 inverted index (pairs sharing ≥ 1 gram), with the same
    * optional stop-gram guard — when active, norms come from the SAME
    * filtered universe as the dot products (the jaccard denominator
    * lesson). The tf frame persists for its three consumers (norms +
    * both join sides); lifetime: LRU / caller clearCache. */
  def cosinePairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                  cos2PpmThreshold: Long,
                  maxShingleDocFreq: Option[Int] = None): DataFrame =
    cosinePairsFromTf(cosineTf(df, idCol, textCol, n, maxShingleDocFreq),
      cos2PpmThreshold)

  /** The (id, h, tf) term-frequency index [[cosinePairs]] verifies
    * over — split out (r11) so artifact callers build it ONCE per
    * corpus version and serve every later run from the store
    * ([[graft.queries.GraphCache]]'s cosineTfIndex, the
    * docJaccardPairs economics): the index is a pure function of
    * (corpus, n, df guard), and at scale it is the TF posting file a
    * dedup platform keeps next to its corpus. */
  def cosineTf(df: DataFrame, idCol: String, textCol: String, n: Int,
               maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val grams = df.select(col(idCol).as("id"), split(col(textCol), " ").as("words"))
      .filter(size(col("words")) >= n)
      // positional n-grams, duplicates KEPT (ngramStrings dedups — tf
      // needs the multiset); one single-level transform over a plan
      // column, not the a25 nested-lambda shape
      .select(col("id"), explode(expr(
        s"transform(sequence(1, size(words) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(words, i, $n)))")).as("shingle"))
    val tf0 = grams
      .groupBy(col("id"), md5Hash60Col(concat(lit("tc|"), col("shingle"))).as("h"))
      .agg(count(lit(1)).as("tf"))
    maxShingleDocFreq match {
      case Some(maxDf) =>
        // the guard makes tf0 a TWO-consumer frame (the df census and
        // the semi-join probe) — persist it, or the guard's price is a
        // full second corpus scan + shingle shuffle, not one bounded agg
        val tfp = tf0.persistLedgered()
        val keep = tfp.groupBy(col("h"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf)
          .select(col("h"))
        tfp.join(keep, "h")
      case None => tf0
    }
  }

  /** [[cosinePairs]] over a pre-built (id, h, tf) index — the
    * jaccardPairsFromShingles pattern: callers serving the index from
    * a store skip the corpus scan, the gram explode, and the df-guard
    * shuffle entirely. Norm denominators come from the SAME frame as
    * the dot products by construction. */
  def cosinePairsFromTf(tfIndex: DataFrame,
                        cos2PpmThreshold: Long): DataFrame = {
    // three consumers (norms + both join legs) — persist, or each
    // re-runs the upstream build / re-scans the artifact
    val tf = tfIndex.persistLedgered()
    val norms = tf.groupBy(col("id")).agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = tf.as("a")
      .join(tf.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("cos2_ppm", expr(
        "cast((cast(dot as decimal(38,0)) * dot * 1000000) div " +
          "(cast(na as decimal(38,0)) * nb) as bigint)"))
      .filter(col("cos2_ppm") >= cos2PpmThreshold)
      .select(col("id_a"), col("id_b"), col("dot"), col("cos2_ppm"))
  }

  /** Min-id STAR links over the TF-cosine near-dup graph — d21's
    * 100 TB output contract (r12 stretch; the [[minHashLshLinks]]
    * shape): on duplicate-heavy corpora the verified PAIR set is
    * quadratic in cluster size (the measured ×10-rows slope was 13.1×,
    * dominated by true-pair growth), while each involved document
    * emits exactly ONE link row (rep_id, id), rep_id = min(its
    * verified partners ∪ itself) — linear in duplicates. The pair
    * stream stays pipeline-internal: the star aggregation consumes it
    * map-side, so nothing quadratic is materialized to the output.
    * One label-propagation iteration short of full components — feed
    * [[graft.operators.Clusters.connectedComponents]] for exact
    * cluster ids, or drop every id ≠ rep_id for keep-one dedup. */
  def cosineLinksFromTf(tfIndex: DataFrame,
                        cos2PpmThreshold: Long): DataFrame = {
    val pairs = cosinePairsFromTf(tfIndex, cos2PpmThreshold)
    pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      .groupBy(col("id"))
      .agg(min(col("nb")).as("__mn"))
      .select(least(col("__mn"), col("id")).as("rep_id"), col("id"))
  }

  /** All-pairs n-gram Jaccard ≥ threshold via PREFIX FILTERING — the
    * AllPairs/PPJoin plan (Bayardo et al., WWW 2007; Xiao et al., WWW
    * 2008): identical output to [[jaccardPairs]], far smaller candidate
    * space. Where the inverted-index plan pairs every two documents
    * sharing ANY shingle (quadratic in per-shingle document frequency,
    * dominated by common shingles), prefix filtering orders each
    * document's shingles by GLOBAL RARITY (document frequency asc, tie
    * by 60-bit md5 shingle hash — a deterministic total order both
    * engines could replay; ANY consistent order yields a correct
    * superset prefix) and pairs only documents sharing a token in
    * their first
    * `|x| − ⌈t·|x|⌉ + 1` rarest shingles. Correctness: prefixes of
    * those lengths are supersets of the canonical `|x| − α + 1`
    * prefixes for the required overlap `α = ⌈t·max(|A|,|B|)⌉`, and the
    * SSJoin prefix lemma says disjoint prefixes bound `|A∩B| < α ⇒
    * J < t` — so every qualifying pair survives (DedupSpec pins
    * bit-equality with [[jaccardPairs]]). A length filter
    * (`t·|A| ≤ |B| ≤ |A|/t`, from `J ≤ min/max`) prunes candidates
    * before the verify.
    *
    * Scale posture: the posting frame (8-byte hash keys, never gram
    * strings) is pre-partitioned by shingle and persisted, so the df
    * census and the df join share ONE exchange; one doc-keyed shuffle
    * then builds the per-doc dictionary (n_sh + rarity-ordered hash
    * array + prefix length) that serves prefix generation AND both
    * verify sides — no re-scan of the corpus anywhere downstream. The
    * candidate join carries PREFIX postings only — rare-by-construction
    * tokens, so the per-token fan-out that makes the inverted-index
    * plan quadratic is capped at the rare end of the df distribution;
    * verification is scan-local (`array_intersect` on long arrays
    * joined from the cached dictionary — AQE broadcasts it while it
    * fits, shuffle join past that), no per-pair aggregation. This is
    * the exact-pair plan to run when the corpus outgrows
    * [[jaccardPairs]] but the answer must stay exact (LSH trades
    * recall; this trades nothing).
    *
    * Output: (id_a, id_b, jaccard) — bit-identical to [[jaccardPairs]]
    * (same double division, same round-6), so d02's oracle SQL is this
    * operator's oracle too. Cache lifetime: the posting frame and the
    * doc dictionary persist for the session (LRU / caller clearCache),
    * like every index intermediate here. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame =
    prefixJaccardPairsImpl(df, idCol, textCol, n, threshold,
      candidateKeyBits = 60)

  /** [[prefixJaccardPairs]] with the candidate-key width exposed as a
    * TEST SEAM: `candidateKeyBits` < 60 masks the candidate JOIN key
    * to that many bits (`pmod(h, 2^bits)`), planting the prefix-key
    * collisions a 60-bit space would only produce at ~10⁹ distinct
    * shingles. The df census, the rarity order, and the verify arrays
    * all stay on the full 120-bit (shingle, lo) identity, so the
    * OUTPUT must be bit-identical at any width — collisions only add
    * candidates the verify rejects (PrefixJoinSpec pins equality with
    * the string-set form at 4 bits). Production callers use 60. */
  private[graft] def prefixJaccardPairsImpl(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, candidateKeyBits: Int): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(candidateKeyBits >= 1 && candidateKeyBits <= 60,
      s"candidateKeyBits must be 1..60, got $candidateKeyBits")
    val (tNum, tDen) = thresholdAsFraction(threshold)
    // r11 restructure (the r10 verdict's #1 heavy): the old shape
    // scanned the shingle frame THREE times (prefix build + both
    // verify sides) and paid two dictionary joins to re-fetch the
    // shingle arrays per candidate. Now ONE posting frame — hashed to
    // 8-byte keys (the jaccardPairs/cosinePairs "never shuffle gram
    // strings" discipline), pre-partitioned by shingle so the df
    // census AND the df join both reuse the cached exchange — feeds
    // ONE doc-keyed shuffle that builds a per-doc frame carrying
    // everything downstream needs: n_sh, the rarity-ordered FULL
    // hash array (verify side), and the prefix length. The verify
    // then joins the candidate pairs to this |docs|-row dictionary
    // (AQE broadcasts it under the threshold; shuffle join past it —
    // the FuzzyJoin auto-gate economics), intersecting LONG arrays
    // instead of string arrays.
    val exploded = withShingles(df, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .select(col("id"), explode(col("shingles")).as("s"))
      .select(col("id"),
        graft.functions.GraftFunctions.md5Hash120(
          concat(lit("pj|"), col("s"))).as("h"))
      .select(col("id"), col("h.hi").as("shingle"), col("h.lo").as("lo"))
      .repartition(col("shingle"))
      .persistLedgered()
    // df census on the TRUE 120-bit shingle identity (r12 verdict #3);
    // hashpartitioning(shingle) co-locates equal (shingle, lo) rows, so
    // the census and the df join below still reuse the one exchange
    val dfreq = exploded.groupBy("shingle", "lo").agg(count(lit(1)).as("df"))
    // one doc-keyed shuffle builds the rarity-ordered array; prefix =
    // the p rarest shingles under the (df, hash, lo) total order — any
    // deterministic total order yields a correct (superset) prefix,
    // and both engines could replay this one (md5 is engine-portable)
    val docs = exploded.join(dfreq, Seq("shingle", "lo"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"), col("lo"))))
          .as("ord"),
        count(lit(1)).as("n_sh"))
      // EXACT rational prunings (r10, replacing the r9 ε-slack): the
      // threshold is a decimal literal, so treat it as the exact
      // fraction num/den and compute ⌈n·t⌉ = (n·num + den − 1) div den
      // in pure integer arithmetic. Double rounding (100·0.07 =
      // 7.000000000000001) can never over-shorten the prefix or
      // over-tighten the length filter, and — unlike the ε-slack —
      // the bounds stay TIGHT: no spurious candidates reach the verify.
      .withColumn("p",
        (col("n_sh")
          - expr(s"(n_sh * ${tNum}L + ${tDen - 1}L) DIV ${tDen}L") + 1)
          .cast("int"))
      // the verify dictionary keeps BOTH hash columns — 120-bit set
      // identity (r12 verdict #3: the 60-bit arrays carried ~2e-3
      // collision odds at 10⁹ distinct shingles; now n²/2¹²¹, gone at
      // the design point) — as two ALIGNED long arrays sorted by
      // (shingle, lo), NOT an array of structs: array_intersect over
      // struct arrays drops to interpreted per-element ordering
      // (measured 18.3 s vs 2.7 s on the d20 sf0.1 row); the long
      // arrays feed the codegen'd merge walk below instead
      .withColumn("srt",
        sort_array(expr("transform(ord, x -> struct(x.shingle, x.lo))")))
      .select(col("id"), col("n_sh"),
        expr("transform(slice(ord, 1, p), x -> x.shingle)").as("pref"),
        expr("transform(srt, x -> x.shingle)").as("sh_hi"),
        expr("transform(srt, x -> x.lo)").as("sh_lo"))
      .persistLedgered()
    // candidate postings carry the 60-bit prefix key ONLY (masked to
    // `candidateKeyBits` under the test seam) — a prefix-key collision
    // only adds a candidate the 120-bit verify then rejects
    val candKey: Column => Column =
      if (candidateKeyBits >= 60) identity
      else h => pmod(h, lit(1L << candidateKeyBits))
    val prefix = docs
      .select(col("id"), col("n_sh"), explode(col("pref")).as("pe"))
      .select(col("id"), col("n_sh"), candKey(col("pe")).as("shingle"))
    // length filter t·|A| ≤ |B| exactly: |B|·den ≥ |A|·num over longs
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          col("a.n_sh") * lit(tDen) >= col("b.n_sh") * lit(tNum) &&
          col("b.n_sh") * lit(tDen) >= col("a.n_sh") * lit(tNum))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // scan-local verify against the cached doc dictionary: one
    // |docs|-row frame serves both sides; same division and rounding
    // as jaccardPairs (120-bit hash-set intersection = string-set
    // intersection to n²/2¹²¹ odds, so the exact-pair oracle joins raw
    // shingle strings and matches).
    cand
      .join(docs.select(col("id").as("id_a"), col("sh_hi").as("sa_hi"),
        col("sh_lo").as("sa_lo"), col("n_sh").as("na")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh_hi").as("sb_hi"),
        col("sh_lo").as("sb_lo"), col("n_sh").as("nb")), "id_b")
      .withColumn("n_inter",
        graft.functions.GraftFunctions.sortedPairIntersectCount(
          col("sa_hi"), col("sa_lo"), col("sb_hi"), col("sb_lo")))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** All-pairs n-gram CONTAINMENT ≥ threshold — the asymmetric
    * companion to [[jaccardPairs]]: containment(A,B) = |A∩B| /
    * min(|A|,|B|), i.e. how much of the SMALLER shingle set lies inside
    * the larger. Jaccard misses doc-inside-doc duplication (a page
    * quoted whole inside a 10× longer page has J ≈ 0.1 but containment
    * 1.0); containment is the Broder resemblance/containment split and
    * the signal behind subset-dedup passes.
    *
    * Same inverted-index plan as Jaccard — SHARED plumbing, not
    * parallel code (r12 verdict #4: this op used to carry its own
    * raw-string posting builder, shuffling gram strings where every
    * sibling shuffled 8-byte hashes): [[hashedPostings]] + [[dfGuard]]
    * + [[pairIntersections]], 120-bit pair equality; only the
    * denominator differs. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                       threshold: Double,
                       maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val sh = withShingles(df, idCol, textCol, n)
    val filtered = dfGuard(hashedPostings(sh, "ct|"), maxShingleDocFreq)
    // the jaccardPairs denominator rule: sizes come from the same
    // shingle universe as the intersection
    val sizes = maxShingleDocFreq match {
      case Some(_) => filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
      case None    => sh.select(col("id"), size(col("shingles")).as("n_sh"))
    }
    pairIntersections(filtered)
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "sh_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "sh_b"), "id_b")
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("sh_a"), col("sh_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        round(col("containment"), 6).as("containment"))
  }

  /** MinHash signature column: the native
    * [[graft.functions.GraftFunctions.minhashSignature]] — one XXH64 per shingle, all lanes folded in one codegen'd
    * pass (the interpreted transform/array_min form cost 8.2 s of the
    * sf0.1 bench; this runs in ~0.1 s). */
  def minHashSignature(shinglesCol: String, numHashes: Int): Column =
    graft.functions.GraftFunctions.minhashSignature(col(shinglesCol), numHashes)

  /** MinHash+LSH near-dup pairs: band the signature, bucket-join on
    * (band, hash(band slice)), then verify candidates with exact Jaccard
    * on the shingle sets. Returns (id_a, id_b, jaccard) with jaccard ≥
    * threshold.
    *
    * `maxBucketDf` is the hot-bucket guard: the bucket self-join is
    * quadratic in bucket size, and dedup corpora are exactly the ones
    * with giant duplicate clusters (10⁵ copies of one boilerplate page =
    * one bucket = 10¹⁰ candidate pairs). Buckets larger than the cap
    * collapse to representative links — each member pairs with the
    * bucket's minimum id only (O(size), not O(size²)); members of an
    * oversized bucket are near-certain duplicates, so the cluster is
    * still connected through its representative and survives the exact
    * Jaccard verify.
    *
    * `minSignatureAgreement` (optional) pre-filters candidates by the
    * fraction of agreeing signature lanes — an unbiased Jaccard
    * estimate (E[agreement] = j, σ = sqrt(j(1−j)/numHashes)) computed
    * from arrays already in hand, BEFORE shingle sets are materialized
    * for the exact verify. Set it ~3σ below `threshold` (e.g. 0.3 for
    * threshold 0.5 at 64 hashes) to cut the verify join with recall
    * loss bounded by the normal tail; None (default) keeps the exact
    * subset-of-all-pairs contract. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      numHashes: Int, bands: Int, threshold: Double,
                      maxBucketDf: Option[Int] = Some(100),
                      minSignatureAgreement: Option[Double] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // signatures straight from the word array (no shingle strings, no
    // distinct — duplicates cannot change a minimum): one codegen'd pass.
    // Docs with fewer words than one shingle are excluded — their
    // signature is the all-MaxValue sentinel, which would bucket every
    // such doc together and then divide 0/0 in the Jaccard verify.
    val sig0 = df
      .filter(graft.functions.GraftFunctions.wordCount(col(textCol)) >= n)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.minhashWords(split(col(textCol), " "), numHashes, n).as("sig"))
    // with the agreement pre-filter active, sig has THREE consumers
    // (buckets + the sig_a/sig_b joins) and Catalyst has no
    // common-subtree reuse across DataFrame branches — unpersisted, the
    // corpus scan + minhash pass ran once per consumer (r9 review),
    // which is exactly the cost the pre-filter exists to avoid
    val sig = if (minSignatureAgreement.isDefined) sig0.persistLedgered()
      else sig0
    val buckets = sig.select(
      col("id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $r + 1, $r)))")))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    // the candidate pair list is consumed three times below (both sides
    // of the involved-docs union, then the verify join) and Catalyst has
    // no common-subtree reuse across DataFrame branches — without
    // materialization the whole signature+bucket subtree re-runs per
    // consumer. The pair list is tiny (survivors only), so persist it;
    // LRU evicts it once the query finishes.
    val rawCandidates = bucketCandidates(buckets, maxBucketDf)
    // optional estimated-Jaccard pre-filter: signatures are one narrow
    // array column, far cheaper to join than materializing shingle sets
    val candidates = (minSignatureAgreement match {
      case Some(minAgree) =>
        val minLanes = math.ceil(minAgree * numHashes).toInt
        rawCandidates
          .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
          .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
          .filter(expr(
            s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) >= $minLanes"))
          .select(col("id_a"), col("id_b"))
      case None => rawCandidates
    }).persistLedgered()
    // exact-Jaccard verification materializes shingle SETS only for the
    // documents that appear in a candidate pair (a tiny fraction) — and
    // as 8-byte hashes, not strings (ngramHashes): set sizes and
    // intersections are identical absent a 64-bit collision, and on
    // duplicate-heavy corpora (involved ≈ everyone) string
    // materialization dominated the verify (measured 2.5 s of the sf0.1
    // corpus pass, ~4× the whole hashed verify)
    val involved = candidates.select(col("id_a").as("id"))
      .unionAll(candidates.select(col("id_b").as("id"))).distinct()
    // same reuse argument: the shingle sets of involved docs feed both
    // the id_a and id_b joins
    val sh = df.join(involved, df(idCol) === involved("id"), "left_semi")
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.ngramHashes(split(col(textCol), " "), n).as("shingles"))
      .persistLedgered()
    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Min-id STAR links over the verified MinHash near-dup graph — the
    * 100 TB output contract. [[minHashLshPairs]] emits every verified
    * pair, and on a duplicate-heavy corpus the pair SET is quadratic in
    * cluster size even though candidate work stays linear (the measured
    * 10×-rows slope was 27×, dominated by pair materialization). Star
    * links are linear: each involved document emits ONE row
    * (rep_id, id) where rep_id = min(its verified partners ∪ itself) —
    * the same representation the hot-bucket guard uses inside oversized
    * buckets. One label-propagation iteration short of full components;
    * feed [[graft.operators.Clusters.connectedComponents]] when exact
    * cluster ids are needed, or drop every id ≠ rep_id for the common
    * keep-one-per-star dedup decision. */
  def minHashLshLinks(df: DataFrame, idCol: String, textCol: String, n: Int,
                      numHashes: Int, bands: Int, threshold: Double,
                      maxBucketDf: Option[Int] = Some(100),
                      minSignatureAgreement: Option[Double] = None): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, n, numHashes, bands,
      threshold, maxBucketDf, minSignatureAgreement)
    pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      .groupBy(col("id"))
      .agg(min(col("nb")).as("__mn"))
      .select(least(col("__mn"), col("id")).as("rep_id"), col("id"))
  }

  /** Distinct xxhash64 word-n-gram hashes of a text column — the
    * shared n-gram key for [[contaminationPairs]] and the streaming
    * decontamination filter (both sides MUST hash identically). */
  def hashedNgrams(textCol: String, n: Int): Column =
    graft.functions.GraftFunctions.ngramHashes(split(col(textCol), " "), n)

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-grams with a benchmark/eval document
    * (the GPT-3/Pile 13-gram-overlap rule; n is a parameter because
    * short eval items need smaller n). Returns
    * (doc_id, bench_id, shared_ngrams).
    *
    * Scale posture: inverted n-gram index join, like [[jaccardPairs]],
    * but the benchmark side is an eval suite — thousands of rows, not
    * billions — so its postings broadcast and the corpus NEVER
    * shuffles: one scan, map-side join, partial agg. `maxNgramDocFreq`
    * (applied to the corpus side) drops boilerplate n-grams that would
    * otherwise pair every corpus doc with every benchmark item quoting
    * them.
    *
    * `hashNgrams` (default true, the 100 TB posture) joins on
    * xxhash64 of the word slice instead of materializing the n-gram
    * STRING per posting — string construction dominates the corpus
    * pass otherwise (measured ~2× at sf0.1). A cross-doc collision
    * (~2^-64 per comparison) could overcount `shared_ngrams` by one;
    * set false for the literal-string contract. */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         benchIdCol: String, benchTextCol: String,
                         n: Int, minShared: Int = 1,
                         maxNgramDocFreq: Option[Int] = None,
                         hashNgrams: Boolean = true): DataFrame = {
    def ngrams(df: DataFrame, id: String, text: String, outId: String): DataFrame =
      if (hashNgrams)
        df.select(col(id).as(outId),
          explode(hashedNgrams(text, n)).as("ngram"))
      else
        withShingles(df, id, text, n)
          .select(col("id").as(outId), explode(col("shingles")).as("ngram"))
    val corpusNg = ngrams(corpus, idCol, textCol, "doc_id")
    val guarded = maxNgramDocFreq match {
      case Some(maxDf) =>
        val rare = corpusNg.groupBy("ngram")
          .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf).select("ngram")
        corpusNg.join(rare, "ngram")
      case None => corpusNg
    }
    val benchNg = ngrams(bench, benchIdCol, benchTextCol, "bench_id")
    guarded.join(broadcast(benchNg), "ngram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Duplicated-window profile — the exact-substring dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22), at word-window granularity: for each document,
    * how many of its distinct word `n`-grams also occur in at least one
    * OTHER document, plus the ratio. Dropping or trimming documents with
    * a high `dup_ratio` is the span-level dedup pass that survives
    * paraphrase-level edits (unlike whole-document exact dedup) without
    * the cost of suffix arrays.
    *
    * Scale posture: windows are hashed (xxhash64) before they shuffle,
    * so the exchange carries (doc_id, 8-byte hash) postings, never text.
    * Document frequency comes from a window aggregate partitioned by the
    * hash — ONE shuffle for df + one partial-agg shuffle on doc_id, and
    * a corpus-wide boilerplate window costs df postings (linear), never
    * df² pairs: this operator intentionally counts duplication without
    * materializing the pair graph, which is what makes it safe where
    * [[jaccardPairs]] needs its stop-shingle guard.
    *
    * Within-document repeats do not count (windows are per-doc
    * distinct): the signal is cross-document duplication; use
    * [[graft.operators.TextAnalysis.repetitionRatio]] for
    * within-document repetition. */
  def duplicatedWindows(df: DataFrame, idCol: String, textCol: String,
                        n: Int, hashWindows: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings =
      if (hashWindows)
        df.select(col(idCol).as("doc_id"),
          explode(hashedNgrams(textCol, n)).as("w"))
      else
        withShingles(df, idCol, textCol, n)
          .select(col("id").as("doc_id"), explode(col("shingles")).as("w"))
    postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows") / col("n_windows").cast("double"), 6)
          .as("dup_ratio"))
  }

  /** Incremental (snapshot-delta) dedup — the daily-crawl workflow: a
    * NEW batch of documents deduplicates against the ACCUMULATED corpus
    * without rescanning it as pairs. New docs are dropped when their
    * content digest already exists in the base snapshot OR when an
    * earlier new doc (by id) carries the same digest — so
    * base ∪ keep(new) stays exact-duplicate-free and the operation is
    * associative across days.
    *
    * Scale posture: both sides shuffle/join on the 32-byte digest, never
    * text (the d01 convention); the base side needs only its digest
    * column (at 100 TB the accumulated digests are a fraction of corpus
    * bytes and prune to one column at the scan). Output: kept new rows
    * only — (id, n_copies) where n_copies counts the new batch's
    * collapsed duplicates of that content. */
  def incrementalKeepNew(newDocs: DataFrame, idCol: String, textCol: String,
                         base: DataFrame, baseTextCol: String): DataFrame = {
    // null text is classified out on BOTH sides (not digested): a null
    // digest never equi-joins, so null new rows would always be "kept"
    // while a SQL NOT IN oracle with a null base row keeps nothing —
    // excluding nulls explicitly makes Spark and oracle agree on
    // null-bearing inputs instead of silently diverging.
    // digests shuffle as 32-byte BINARY (unhex), not sha2's 64-char hex
    // string — half the exchange bytes for the identical 1:1 group key
    // (guide §2.3 narrower types; the digest is engine-internal, the
    // oracle replays content identity).
    val newDigests = newDocs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), unhex(sha2(col(textCol), 256)).as("digest"))
    val baseDigests = base.filter(col(baseTextCol).isNotNull)
      .select(unhex(sha2(col(baseTextCol), 256)).as("digest"))
    incrementalKeepNewFromDigests(newDigests, baseDigests)
  }

  /** The digest-level core of [[incrementalKeepNew]]: keep-first within
    * the new batch (min id per digest, with the collapsed copy count),
    * then anti-join the accumulated base digests. Exposed for callers
    * that derive both digest frames from ONE pass over a shared source
    * (d15's snapshot-delta construction digested the same corpus scan
    * four times through the text-level API). `newDigests` must carry
    * (id, digest), `baseDigests` (digest); null digests must already be
    * excluded (the text-level contract above). */
  def incrementalKeepNewFromDigests(newDigests: DataFrame,
                                    baseDigests: DataFrame): DataFrame =
    newDigests
      .groupBy(col("digest"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("n_copies"))
      .join(baseDigests.distinct(), Seq("digest"), "left_anti")
      .select(col("id"), col("n_copies"))

  /** Incremental NEAR-dedup — [[incrementalKeepNew]]'s workflow at
    * near-duplicate granularity: each NEW document is checked for a
    * near-duplicate (exact word-shingle Jaccard ≥ `threshold`,
    * which subsumes exact copies at jaccard 1.0) in the accumulated
    * BASE corpus, without pairing the base against itself. Returns the
    * matched table only — (id, base_match, best_jaccard) with
    * base_match = min matching base id — so keep(new) is an anti-join
    * away and the base's own near-dup structure is out of scope (run
    * the d03 family within a snapshot; this operator is the
    * cross-snapshot edge).
    *
    * Candidates come from banding MinHash signatures on BOTH sides and
    * joining new bands against base bands — never new×new or
    * base×base. `maxBaseBucketDf` guards hot base buckets exactly like
    * [[minHashLshPairs]]: an over-cap bucket collapses to its min-id
    * representative, preserving the match/no-match DECISION (members
    * of an oversized bucket are near-certain duplicates of the rep)
    * while bounding the join fan-out; `base_match`/`best_jaccard` may
    * then name the representative rather than the global minimum —
    * exact reporting inside hot buckets is traded for linear work.
    *
    * Scale posture: base shingle sets materialize ONLY for docs named
    * by a candidate pair (left-semi restriction), as 8-byte hashes;
    * the daily delta is small next to the base, so the candidate list
    * — bounded by delta × bands — stays small even when the base is
    * 100 TB, and the base pays one signature scan plus survivor-only
    * shingle work. */
  def nearMatchAgainstBase(newDocs: DataFrame, idCol: String, textCol: String,
                           base: DataFrame, baseIdCol: String, baseTextCol: String,
                           n: Int, numHashes: Int, bands: Int, threshold: Double,
                           maxBaseBucketDf: Option[Int] = Some(100)): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    def bucketsOf(df: DataFrame, id: String, text: String, outId: String): DataFrame =
      df.filter(graft.functions.GraftFunctions.wordCount(col(text)) >= n)
        .select(col(id).as(outId),
          graft.functions.GraftFunctions
            .minhashWords(split(col(text), " "), numHashes, n).as("sig"))
        .select(col(outId), posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $r + 1, $r)))")))
        .select(col(outId), col("pos").as("band"), col("col").as("bucket"))

    val newBuckets = bucketsOf(newDocs, idCol, textCol, "id")
    val baseBucketsAll = bucketsOf(base, baseIdCol, baseTextCol, "base_id")
    val baseBuckets = maxBaseBucketDf match {
      case Some(cap) =>
        val stats = baseBucketsAll.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("df"), min(col("base_id")).as("rep"))
        baseBucketsAll.join(
            stats.filter(col("df") <= cap).select(col("band"), col("bucket")),
            Seq("band", "bucket"), "left_semi")
          .unionByName(stats.filter(col("df") > cap)
            .select(col("rep").as("base_id"), col("band"), col("bucket")))
      case None => baseBucketsAll
    }
    // candidate (new, base) pairs; consumed by the two involved-side
    // restrictions and the verify join — persist the tiny survivor list
    val candidates = newBuckets.join(baseBuckets, Seq("band", "bucket"))
      .select(col("id"), col("base_id")).distinct()
      .persistLedgered()
    def shinglesOf(df: DataFrame, id: String, text: String, outId: String,
                   involved: DataFrame): DataFrame =
      df.join(involved, df(id) === involved("__iid"), "left_semi")
        .select(col(id).as(outId),
          graft.functions.GraftFunctions
            .ngramHashes(split(col(text), " "), n).as("sh"))
    val shNew = shinglesOf(newDocs, idCol, textCol, "id",
      candidates.select(col("id").as("__iid")).distinct())
    val shBase = shinglesOf(base, baseIdCol, baseTextCol, "base_id",
      candidates.select(col("base_id").as("__iid")).distinct())
    candidates
      .join(shNew.select(col("id"), col("sh").as("sh_n")), "id")
      .join(shBase.select(col("base_id"), col("sh").as("sh_b")), "base_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(min(col("base_id")).as("base_match"),
        round(max(col("jaccard")), 6).as("best_jaccard"))
  }

  /** [[nearMatchAgainstBase]] in a STREAMABLE plan shape: the batch
    * form's involved-side restrictions semi-join the inputs by a frame
    * derived from the new side — on a streaming delta that is a
    * stream-stream self-join, which Structured Streaming cannot
    * express without time bounds. Here the new document's shingle
    * hashes ride its band rows instead (computed once per doc, carried
    * through the ×bands explode), the base's ride its static bucket
    * table, and the verify happens directly on the joined row — one
    * stream-static inner join plus one streaming aggregation, no
    * self-join. Multi-band agreements produce duplicate candidate
    * rows; min/max aggregates are duplicate-insensitive, so no
    * dedup state is needed.
    *
    * The trade: new-side shuffle volume carries shingle arrays ×bands
    * (bounded by the delta size — the side that is small by
    * construction), and base shingles materialize for every BUCKETED
    * base doc rather than survivors only. Batch callers should prefer
    * [[nearMatchAgainstBase]]; IncrementalNearSpec proves the two
    * forms equal. */
  def nearMatchAgainstBaseStreamable(
      newDocs: DataFrame, idCol: String, textCol: String,
      base: DataFrame, baseIdCol: String, baseTextCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBaseBucketDf: Option[Int] = Some(100)): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    def withShingleBuckets(df: DataFrame, id: String, text: String,
                           outId: String, shName: String): DataFrame =
      df.filter(graft.functions.GraftFunctions.wordCount(col(text)) >= n)
        .select(col(id).as(outId),
          graft.functions.GraftFunctions
            .minhashWords(split(col(text), " "), numHashes, n).as("sig"),
          graft.functions.GraftFunctions
            .ngramHashes(split(col(text), " "), n).as(shName))
        .select(col(outId), col(shName), posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $r + 1, $r)))")))
        .select(col(outId), col(shName), col("pos").as("band"), col("col").as("bucket"))

    val newBuckets = withShingleBuckets(newDocs, idCol, textCol, "id", "sh_n")
    val baseBucketsAll = withShingleBuckets(base, baseIdCol, baseTextCol, "base_id", "sh_b")
    val baseBuckets = maxBaseBucketDf match {
      case Some(cap) =>
        // min(struct) picks the min-id member WITH its shingles, so the
        // representative row keeps everything the verify needs
        val stats = baseBucketsAll.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("df"),
            min(struct(col("base_id"), col("sh_b"))).as("m"))
        baseBucketsAll.join(
            stats.filter(col("df") <= cap).select(col("band"), col("bucket")),
            Seq("band", "bucket"), "left_semi")
          .unionByName(stats.filter(col("df") > cap)
            .select(col("m.base_id").as("base_id"), col("m.sh_b").as("sh_b"),
              col("band"), col("bucket")))
      case None => baseBucketsAll
    }
    newBuckets.join(baseBuckets, Seq("band", "bucket"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(min(col("base_id")).as("base_match"),
        round(max(col("jaccard")), 6).as("best_jaccard"))
  }

  /** Shared span machinery for [[removeDuplicateSpans]] and
    * [[exciseContamination]] — the two operators differ ONLY in how the
    * removed window-start set is derived, and their DuckDB oracles
    * assume byte-identical base/window/rebuild semantics. */
  private def spanBase(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))

  /** (doc, 1-based window start, window hash); docs shorter than one
    * window contribute no rows and pass through untouched in the
    * rebuild. */
  private def spanWindows(base: DataFrame, n: Int): DataFrame =
    base.select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.ngramHashSeq(col("__ws"), n)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wh"))

  /** Drop every word covered by a removed window start ([pos, pos+n-1];
    * overlapping spans collapse via collect_set) and rebuild the text. */
  private def removeCovered(base: DataFrame, starts: DataFrame,
                            n: Int): DataFrame = {
    val removed = starts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("rp"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("rp")).as("removed"))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        coalesce(size(col("removed")), lit(0)).cast("long").as("n_removed"),
        array_join(expr(
          "filter(__ws, (w, i) -> removed IS NULL OR NOT array_contains(removed, i + 1))"),
          " ").as("kept_text"))
  }

  /** Exact-substring REMOVAL — the action to [[duplicatedWindows]]'
    * signal (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better", as the word-window approximation of
    * their suffix-array method): every word covered by an n-word
    * window whose content occurred EARLIER in the corpus (lower
    * doc_id, or lower start position within the same doc) is dropped;
    * first occurrences survive. One row per input doc:
    * (doc_id, n_words, n_removed, kept_text).
    *
    * Scale posture: windows travel as 8-byte xxhash64 keys + (doc,
    * pos) — never as strings; ONE shuffle on the window hash ranks
    * occurrences (first occurrence = row_number 1); covered positions
    * fold back to one int-array per affected doc (bounded by doc
    * length); the text is rebuilt scan-side by an indexed-lambda
    * filter over the original word array, so document text itself
    * never shuffles. A cross-doc hash collision (~2⁻⁶⁴ per window
    * comparison) could drop a non-duplicate span — same approximate
    * contract as [[duplicatedWindows]]. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(docs, idCol, textCol)
    val ranked = spanWindows(base, n).withColumn("rn", row_number().over(
      Window.partitionBy(col("wh")).orderBy(col("doc_id"), col("pos"))))
    removeCovered(base, ranked.filter(col("rn") > 1), n)
  }

  /** Contamination EXCISION — the removal counterpart of the t10/t13
    * detection operators: every word covered by an n-gram window that
    * also appears in the eval set is dropped and the text rebuilt, so a
    * verbatim benchmark quote disappears from the training corpus while
    * the rest of the document survives (document-level dropping wastes
    * everything else the page said). The [[removeDuplicateSpans]]
    * machinery pointed at an EXTERNAL n-gram set instead of earlier
    * occurrences.
    *
    * Scale posture: corpus windows ride as 8-byte `ngram_hash_seq`
    * hashes; the eval-side hash set is distinct-aggregated (eval sets
    * are bounded) and BROADCAST, so the corpus is never shuffled for
    * matching — only (doc, covered-position) rows for contaminated docs
    * reach the rebuild aggregation. */
  def exciseContamination(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          n: Int): DataFrame = {
    val base = spanBase(docs, idCol, textCol)
    val evalHashes = bench.select(explode(
        graft.functions.GraftFunctions.ngramHashSeq(
          split(col(benchTextCol), " "), n)).as("wh"))
      .distinct()
    removeCovered(base,
      spanWindows(base, n).join(broadcast(evalHashes), Seq("wh")), n)
  }

  /** Winnowing-based near-dup pairs: documents sharing at least
    * `minShared` winnowing fingerprints (Schleimer et al. local
    * fingerprints catch copied PASSAGES, which set-level Jaccard dilutes
    * away in long documents). Inverted fingerprint index + count join —
    * same scale shape as the shingle index, but ~w× fewer postings. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4, minShared: Int = 5,
                  maxFpDocFreq: Option[Int] = None,
                  gramHash: String => Long = fnv1a64): DataFrame = {
    val raw = df.select(col(idCol).as("id"),
      explode(TextAnalysis.winnowFingerprints(k, w, gramHash)(col(textCol))).as("fp"))
    // stop-fingerprint guard (same role as jaccardPairs'
    // maxShingleDocFreq): one corpus-wide boilerplate k-gram would make
    // the self-join quadratic in its document frequency
    val fps = maxFpDocFreq match {
      case Some(maxDf) =>
        val rare = raw.groupBy(col("fp"))
          .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf).select("fp")
        raw.join(rare, "fp")
      case None => raw
    }
    fps.as("a")
      .join(fps.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** 64-bit SimHash of the word multiset (sign of per-bit vote over
    * `wordHash` values). Deterministic UDF — the 64-lane bit vote has
    * no tidy Catalyst form. */
  def simHash64With(wordHash: String => Long): Column => Column = {
    val f = udf { (words: Seq[String]) =>
      val votes = new Array[Int](64)
      val safe = if (words == null) Seq.empty[String] else words
      safe.foreach { w =>
        val h = wordHash(w)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    c => f(c)
  }

  /** FNV-1a word hashes — the fast production default. */
  val simHash64: Column => Column = simHash64With(fnv1a64)

  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Engine-exact 60-bit hash: the first 15 md5 hex digits as a
    * POSITIVE long — DuckDB recomputes it as
    * ('0x' || substr(md5(s), 1, 15))::BIGINT, and positivity makes
    * signed and unsigned comparisons agree, so ORDER-sensitive
    * consumers (the winnowing per-window min) replay identically. */
  /** [[md5Hash60]] as a Column over a computed string — ONE definition
    * of the cast(conv(substring(md5(..),1,15),16,10) as bigint) form so
    * hash-convention changes cannot silently miss a copy (t39/t40/p31
    * share it; [[Kmv.hashCol]] is the prefixed variant). */
  def md5Hash60Col(c: Column): Column =
    // native single-digest form; bit-identical to
    // conv(substring(md5(c), 1, 15), 16, 10).cast("long") — the SQL
    // shape every oracle replays — without the 32-char hex string and
    // the 15-digit conv parse per row (the t25/CmBuckets disease; r13)
    graft.functions.GraftFunctions.md5Hash60(c)

  /** The DISJOINT second 60 bits of the same digest (hex digits
    * 16–30) — the verify-widening column (r12 verdict #3): equality on
    * (md5Hash60, md5Hash60Lo) is 120-bit equality, collision odds
    * n²/2¹²¹ over the distinct-shingle population (~4·10⁻¹⁹ at 10⁹ —
    * gone at the 100 TB design point, vs ~2·10⁻³ for the 60-bit key
    * alone). Candidate/bucket keys STAY the 60-bit prefix; only
    * verification compares both columns. DuckDB replays it as
    * ('0x' || substr(md5(s), 16, 15))::BIGINT when an oracle needs
    * the hash itself (the exact-pair oracles instead join raw shingle
    * strings — set-exact, which 120-bit equality matches). */
  def md5Hash60LoCol(c: Column): Column =
    // native twin of [[md5Hash60Col]] (callers needing BOTH halves
    // should project graft.functions.GraftFunctions.md5Hash120 once
    // instead — one digest for the pair)
    graft.functions.GraftFunctions.md5Hash120(c).getField("lo")

  def md5Hash60(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex digits = first 7 bytes + the high nibble of byte 8
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Engine-exact 32-bit bucket hash (the exact t17 shape): first 4
    * md5 bytes big-endian unsigned — DuckDB recomputes it as
    * ('0x' || substr(md5(s), 1, 8))::BIGINT. */
  def md5U32(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Engine-exact word hash (the t17 md5 principle): the first 8 md5
    * bytes big-endian as a 64-bit value — DuckDB recomputes it as
    * ('0x' || substr(md5(w), 1, 16))::UBIGINT; same bits on a signed
    * carrier here. Slower than [[fnv1a64]]; used where an oracle must
    * replay the hash. */
  def md5Hash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDistance:
    * pigeonhole on maxDistance+1 blocks — at most maxDistance bits
    * differ, so at least one block is bit-identical and the join key is
    * (block idx, block value). Block count derives from the REQUESTED
    * distance (4 fixed blocks would silently lose recall past distance 3).
    *
    * Scale posture: wider distances mean more/narrower blocks and denser
    * key spaces (d+1 blocks of 64/(d+1) bits). `maxBlockDf` caps the
    * per-(block, value) bucket population before the self-join; at 10⁸+
    * docs the narrow-block buckets saturate and candidate generation
    * goes corpus-wide quadratic without it. UNLIKE the minhash guard,
    * the star collapse here is lossy beyond exact copies: sharing one
    * block proves only 64/(d+1) common bits, so an oversized bucket's
    * min-id representative may be far from two members that are
    * mutually close — their star links fail the hamming filter and the
    * pair is lost. Default None keeps exact pigeonhole semantics; set a
    * cap only when saturation is the bigger risk. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3,
                   maxBlockDf: Option[Int] = None,
                   wordHash: String => Long = fnv1a64): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 32,
      "pigeonhole needs maxDistance+1 blocks of >= 2 bits each")
    val nBlocks = maxDistance + 1
    // distribute the 64 bits as evenly as possible across the blocks
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blockExprs = (0 until nBlocks).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      s"shiftright(simhash, ${offsets(b)}) & ${mask}L"
    }
    val hashed = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        simHash64With(wordHash)(split(col(textCol), " ")).as("simhash"))
    val blocks = hashed.select(
      col("id"), col("simhash"),
      posexplode(expr(s"array(${blockExprs.mkString(", ")})")))
      .select(col("id"), col("simhash"), col("pos").as("block"), col("col").as("block_val"))
    // the simhash rides inside the member struct, so no join back to
    // `hashed` is needed to recover it for the hamming check
    val paired = memberPairs(
      blocks.select(col("block").as("band"), col("block_val").as("bucket"),
        struct(col("id"), col("simhash")).as("m")), maxBlockDf)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
    paired
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Member-struct pairs (a, b) with a.id < b.id from a
    * (band, bucket, m) frame, where `m` is a struct whose FIRST field is
    * named `id` (sort_array orders by it; extra fields ride along as
    * payload). With a cap: ONE shuffle gathers each bucket's sorted
    * member list, then pairs are generated with codegen'd array ops —
    * all pairs for small buckets, a star to the minimum id for buckets
    * over the cap (O(size) instead of O(size²)); a pathological bucket's
    * member array lives in one row, exactly the bounded cost the guard
    * trades for never materializing its pair clique. Without a cap: the
    * classic bucket self-join. Callers project/dedup the result. */
  private def memberPairs(buckets: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) =>
        buckets.groupBy(col("band"), col("bucket"))
          .agg(sort_array(collect_list(col("m"))).as("ms"))
          .filter(size(col("ms")) >= 2)
          .select(explode(when(size(col("ms")) <= c,
              expr("""flatten(transform(ms, (x, i) ->
                     |  transform(slice(ms, i + 2, size(ms)), y ->
                     |    struct(x AS a, y AS b))))""".stripMargin))
            .otherwise(
              expr("""transform(slice(ms, 2, size(ms) - 1), y ->
                     |  struct(ms[0] AS a, y AS b))""".stripMargin))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
      case None =>
        buckets.as("x")
          .join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
              col("x.m.id") < col("y.m.id"))
          .select(col("x.m").as("a"), col("y.m").as("b"))
    }

  /** Distinct candidate id pairs (id_a < id_b) from a (id, band, bucket)
    * frame — [[memberPairs]] with an id-only member struct. The min-id
    * star is semantics-preserving HERE because LSH bucket membership is
    * only candidate generation: every emitted pair still passes the
    * exact verify, and hot-bucket members are near-certain duplicates of
    * the representative. */
  private def bucketCandidates(buckets: DataFrame, maxBucketDf: Option[Int]): DataFrame =
    memberPairs(buckets.select(col("band"), col("bucket"), struct(col("id")).as("m")),
        maxBucketDf)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Scale path for embedding near-dup (the all-pairs [[cosinePairs]]
    * is verification-grade only): `bands` independent sign-LSH banks
    * bucket the vectors (a pair is a candidate if ANY bank agrees),
    * then exact cosine verifies the candidates. Identical vectors share
    * every bank's bucket, so exact duplicates have recall 1; near-dup
    * recall is 1-(1-p^nPlanes)^bands with p = 1 - angle/π. Same
    * hot-bucket guard as the other LSH families. */
  def cosinePairsLsh(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
                     threshold: Double, nPlanes: Int = 8, bands: Int = 4,
                     maxBucketDf: Option[Int] = Some(100)): DataFrame = {
    val base = vectors
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("__v"))
    val bankCols = (0 until bands).map(b =>
      Similarity.signLshBucket("__v", dim, nPlanes, seed = 0x5eedL + b))
    val buckets = base
      .select(col("id"), posexplode(array(bankCols: _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val candidates = bucketCandidates(buckets, maxBucketDf)
    candidates
      .join(base.select(col("id").as("id_a"), col("__v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("__v").as("vb")), "id_b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, generate
    * candidate pairs WITHIN clusters only, verify with exact cosine ≥
    * `threshold`, then keep one document per connected near-dup
    * component (minimum id). Returns one row per input vector:
    * `(id, cluster_id, keep)` — dropping keep = 0 rows is the semantic
    * dedup pass.
    *
    * Scale posture: the quadratic candidate step is bounded BY K — each
    * cluster is an independent all-pairs of ~n/k members, which is
    * exactly how the paper makes web-scale feasible (k grows with the
    * corpus so cluster populations stay bounded; the LAION run used
    * 50k clusters). Cross-cluster near-dups are forgone by design —
    * that recall trade, not an index, is the operator's contract.
    * `maxClusterPairs` additionally star-collapses clusters that
    * exceed the cap (same representative-link semantics as the LSH
    * hot-bucket guard) for corpora whose duplicate mass defeats the
    * n/k bound. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, iterations: Int = 2, threshold: Double = 0.95,
                    maxClusterPairs: Option[Int] = None): DataFrame = {
    val base = vectors
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
    val (_, centroids) = KMeans.fit(base, "id", "__v", k, iterations)
    val assigned = KMeans.assign(
      base.repartition(base.sparkSession.sparkContext.defaultParallelism),
      "id", "__v", centroids)
    semanticTail(base, assigned, threshold, maxClusterPairs)
  }

  /** Engine-exact variant of [[semanticDedup]] (the a14
    * `pcaProjectExact` pattern): k-means TRAINING stays the
    * double-precision [[KMeans.fit]], but the final cluster assignment
    * runs in fixed point — vectors and the trained centroids are
    * quantized to `scale`-scaled BIGINTs and the squared-L2 argmin is
    * exact integer arithmetic with index tiebreak. A SQL twin holding
    * the returned quantized-centroid literals replays the assignment
    * bit-for-bit (no cross-engine float-summation-order hazard);
    * everything downstream — within-cluster pairs, the cosine verify,
    * min-label components, keep selection — was already
    * engine-portable (d05/d08/d09 oracles). [[semanticDedup]] remains
    * the double-precision production surface. */
  def semanticDedupExact(vectors: DataFrame, idCol: String, vecCol: String,
                         k: Int, iterations: Int = 2, threshold: Double = 0.95,
                         maxClusterPairs: Option[Int] = None,
                         scale: Long = 1L << 20): (DataFrame, Array[Array[Long]]) = {
    val base = vectors
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
    val (_, centroids) = KMeans.fit(base, "id", "__v", k, iterations)
    // centroid quantization happens ONCE on the driver and the result is
    // spliced into the oracle as literals, so its rounding mode cannot
    // diverge across engines; only the per-row vector quantization must
    // match, and KMeans.assignExact uses the same round() construction
    // in both
    val centroidsQ = centroids.map(_.map(x => math.round(x * scale)))
    val assigned = KMeans.assignExact(
      base.repartition(base.sparkSession.sparkContext.defaultParallelism),
      "id", "__v", centroidsQ, scale)
    (semanticTail(base, assigned, threshold, maxClusterPairs), centroidsQ)
  }

  /** Shared tail of the SemDeDup variants: within-cluster candidate
    * pairs → exact cosine verify → connected components → min-id keep. */
  private def semanticTail(base: DataFrame, assigned: DataFrame,
                           threshold: Double,
                           maxClusterPairs: Option[Int]): DataFrame = {
    val candidates = bucketCandidates(
      assigned.select(col("id"), lit(0).as("band"), col("cluster").as("bucket")),
      maxClusterPairs)
    val pairs = candidates
      .join(base.select(col("id").as("id_a"), col("__v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("__v").as("vb")), "id_b")
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    Clusters.canonicalize(base.select(col("id")), pairs, "id")
      .select(col("id"), col("cluster_id"), col("keep").cast("int").as("keep"))
  }

  def cosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val dbl = expr(s"transform($vecCol, x -> cast(x as double))")
    val va = vectors.select(col(idCol).as("id_a"), dbl.as("va"))
    val vb = vectors.select(col(idCol).as("id_b"), dbl.as("vb"))
    va.join(vb, col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic universal-hash lane constants for [[bandPlanSweep]]:
    * (i, a_i ∈ [1, 2^30), b_i ∈ [0, 2^30)) — derived from md5 so any
    * engine splicing the same literals replays the same lanes. */
  def bandPlanLanes(numHashes: Int): Seq[(Int, Long, Long)] =
    (0 until numHashes).map { i =>
      (i, (md5Hash60(s"lane-a|$i") % ((1L << 30) - 1)) + 1,
        md5Hash60(s"lane-b|$i") % (1L << 30))
    }

  /** MinHash-LSH band-plan sensitivity sweep (d19) — the dedup-side
    * analogue of the a24 nprobe sweep: before (bands, rowsPerBand)
    * ships, the index owner reads candidate volume (cost) and recall
    * vs the exact pair set (quality) for each plan. S-curve theory
    * says P(candidate) = 1 − (1 − j^r)^b; this is the measured readout
    * (default plans 32×2, 16×4, 8×8 over 64 lanes — an r=1 leg is
    * pathological by construction: any shared min-shingle is already a
    * candidate, which measured 493k candidates for 256 true pairs).
    *
    * One signature serves every plan, built scan-locally per row: a
    * single engine-exact 32-bit md5 base hash per shingle
    * (`('0x'||substr(md5(s),1,8))::BIGINT` in DuckDB), then 64
    * universal-hash lanes `(a_i·h + b_i) mod (2^31−1)` with
    * [[bandPlanLanes]]' deterministic constants spliced into BOTH
    * engines — integer multiply/mod both replay bit for bit (a_i <
    * 2^30, h < 2^32 keeps the product inside a signed 64-bit). Each
    * plan's band keys are md5 over `slice`s of the lane-ordered
    * signature array — still scan-local. The exact pair set uses
    * [[jaccardPairs]], the d02-proven inverted-index plan.
    *
    * Scale posture: the signature is one array row per doc (no lane
    * shuffle at all — the aggregated lane-row form cost 12 s of
    * persist alone at sf0.1); each plan's candidate
    * join is the usual LSH bucket self-join (hot-bucket quadratic
    * edge — callers at scale would add the minHashLshPairs maxBucketDf
    * guard; the sweep reports the volume that motivates it).
    *
    * Output: one row per plan — (bands, rows_per_band, n_candidates,
    * n_true, n_exact, recall). */
  def bandPlanSweep(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, numHashes: Int = 64,
                    plans: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8)),
                    threshold: Double = 0.5,
                    precomputedExact: Option[DataFrame] = None): DataFrame = {
    require(plans.nonEmpty && plans.forall { case (b, r) => b * r == numHashes },
      s"every plan's bands*rowsPerBand must equal numHashes=$numHashes")
    // ONE shingle materialization serves both the LSH signatures and
    // the exact-pair denominator (each previously re-scanned the
    // corpus; the shingle scan is the sweep's single largest stage).
    // With a precomputed exact pair set (round-8 item 1: callers that
    // already own the d02 pair graph — the GraphCache artifact — pass
    // it in), the signature build is the shingle frame's ONLY
    // consumer, so the persist would be pure cache pressure.
    val shRaw = withShingles(docs, idCol, textCol, n)
    val sh =
      if (precomputedExact.isEmpty)
        shRaw.persistLedgered()
      else shRaw
    // signature built SCAN-LOCALLY, one row per doc (the file-header
    // design note: signatures per-row in pure Catalyst, no shuffle —
    // the first cut shuffled |docs|·numHashes·|shingles| lane rows
    // through an aggregation and its persist alone cost 12 s at
    // sf0.1): one md5 base per shingle, then every lane is an
    // array_min over the codegen'd universal-hash transform
    val laneMins = bandPlanLanes(numHashes).map { case (_, a, b) =>
      s"array_min(transform(bases, x -> ($a * x + $b) % 2147483647))"
    }.mkString(", ")
    val sig = sh
      // shingle-less docs carry no signature (the lane min is
      // undefined); the grouped form dropped them implicitly, and
      // all-null sigs must never false-match each other
      .filter(size(col("shingles")) > 0)
      .withColumn("bases", expr(
        "transform(shingles, s -> cast(conv(substring(md5(concat('mh|', s)), 1, 8), 16, 10) as bigint))"))
      .select(col("id"), expr(s"array($laneMins)").as("sig"))
      // 1 row per doc, scanned twice per plan (join sides); lifetime:
      // LRU / caller clearCache, like every index intermediate here
      .persistLedgered()
    // exact denominator over the SHARED shingle frame (round-8 item 1:
    // the denominator re-scanned the corpus for its own shingles —
    // most of its cost was that scan, not the pair join; measured
    // here, the prefix-filtered plan (d20) is 1.3× SLOWER than the
    // inverted index because this corpus's shared-shingle density
    // never goes quadratic, so the classic plan stays)
    val exact = precomputedExact
      .map(_.select(col("id_a"), col("id_b")))
      .getOrElse(jaccardPairsFromShingles(sh, threshold)
        .select(col("id_a"), col("id_b")))
      .persistLedgered()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    // ONE candidate pass for ALL plans (round 9 — previously each plan
    // ran its own self-join + distinct + three scalar aggregates,
    // three sequential legs that made d19 the bench's #1 heavy at
    // 30.6 s): every plan's band keys explode in a single scan of the
    // cached signature — `bands` alone identifies the plan, since
    // bands·rowsPerBand = numHashes forces distinct bands per plan —
    // so the candidate self-join keys on (bands, band, bkey) and ONE
    // shuffle carries what was previously |plans| shuffles. Per-band
    // keys stay scan-local: md5 over the lane-ordered slice (sig is
    // already in lane order, so slice order IS h order).
    val allBandStructs = plans.flatMap { case (b, r) =>
      (0 until b).map { band =>
        s"named_struct('bands', $b, 'band', $band, " +
          s"'bkey', md5(array_join(transform(" +
          s"slice(sig, ${band * r + 1}, $r), x -> cast(x as string)), ',')))"
      }
    }.mkString(", ")
    val bkey = sig
      .select(col("id"), explode(expr(s"array($allBandStructs)")).as("bb"))
      .select(col("bb.bands").as("bands"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"), col("id"))
    val cand = bkey.as("a")
      .join(bkey.as("b"),
        col("a.bands") === col("b.bands") && col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.bands").as("bands"),
        col("a.id").as("id_a"), col("b.id").as("id_b"))
      // one distinct per (plan, pair) — a pair caught by several bands
      // of the same plan is one candidate
      .distinct()
    // truth flag via broadcast left join (the exact pair set is
    // model-sized next to the candidate volume), then ONE closing
    // groupBy(bands) replaces the former 9 scalar aggregates; cand has
    // a single consumer now, so no persist
    val perPlan = cand
      .join(broadcast(exact.withColumn("is_true", lit(1L))),
        Seq("id_a", "id_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_true"))
    // a plan with ZERO candidates must still emit its row — rebuild
    // the plan list as a 3-row literal frame and left-join the counts
    val spark = docs.sparkSession
    import spark.implicits._
    plans.toDF("bands", "rows_per_band")
      .join(perPlan, Seq("bands"), "left")
      .na.fill(0L, Seq("n_candidates", "n_true"))
      .crossJoin(nExact) // 1-row broadcast scalar
      .select(col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_true"), col("n_exact"))
      .withColumn("recall",
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_true").cast("double") / col("n_exact").cast("double"), 6)))
      .orderBy(col("bands"))
  }
}
