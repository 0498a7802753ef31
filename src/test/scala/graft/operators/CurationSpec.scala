package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries

class CurationSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH candidates recover exact-Jaccard pairs (recall)") {
    val exact = pairs(CurationQueries.dedupJaccard(spark, sfDir))
    val lsh = pairs(CurationQueries.dedupMinHash(spark, sfDir))
    // verification step guarantees precision == 1 relative to threshold
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact).take(3)}")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low (16 bands of 4 should catch j>=0.5)")
  }

  test("star links: one row per involved doc, min partner as representative") {
    import spark.implicits._
    // cluster {1,2,3} pairwise-similar, cluster {10,11}, singleton 99
    val t1 = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val t2 = "completely different words about spark shuffles and joins " * 4
    val docs = Seq((1L, t1), (2L, t1 + "iota"), (3L, t1 + "kappa"),
      (10L, t2), (11L, t2 + "extra"), (99L, "tiny unrelated text here okay"))
      .toDF("doc_id", "text")
    val links = Dedup.minHashLshLinks(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // linear contract: one row per involved doc; 99 is not involved
    assert(links.map(_._2) === Set(1L, 2L, 3L, 10L, 11L))
    assert(links === Set((1L, 1L), (1L, 2L), (1L, 3L), (10L, 10L), (10L, 11L)))
    // keep-one-per-star: dropping id != rep_id keeps exactly the reps
    assert(links.filter(l => l._1 == l._2).map(_._2) === Set(1L, 10L))
  }

  test("signature-agreement pre-filter: full recall at 3-sigma slack, selective when tight") {
    val docs = graft.Tables.documents(spark, sfDir)
    val exact = pairs(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5))
    // 3 sigma below threshold (0.5 - 3*sqrt(0.25/64) ~= 0.31): estimator
    // noise stays inside the slack, so nothing true is lost here
    val slack = pairs(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5,
      minSignatureAgreement = Some(0.31)))
    assert(slack === exact, "3-sigma slack must keep every verified pair")
    // an over-tight cut (0.95 agreement ~ jaccard 0.95) must actually
    // filter: only near-identical pairs survive to the verify
    val tight = pairs(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5,
      minSignatureAgreement = Some(0.95)))
    assert(tight.subsetOf(exact) && tight.size < exact.size,
      s"tight cut should drop mid-similarity pairs (${tight.size} vs ${exact.size})")
  }

  test("simhash: exact copies at hamming 0; near-copies mostly within 3") {
    import spark.implicits._
    val d = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // exact copies -> identical simhash -> always found at distance 0
    val exactPlanted = d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000000L))
    val exactFound = Dedup.simHashPairs(exactPlanted, "doc_id", "text", maxDistance = 0)
    val ids = d.select("doc_id").collect().map(_.getLong(0)).toSet
    val foundExact = pairs(exactFound)
    assert(ids.forall(i => foundExact.contains((i, i + 1000000L))),
      "identical texts must collide at hamming 0")
    // one appended word on LONG docs flips few bits (vote margin scales
    // with word count); short docs legitimately drift past the cutoff
    val long = d.filter(length(col("text")) >= 300)
    val near = long.unionAll(long
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" the"))))
    val found = pairs(Dedup.simHashPairs(near, "doc_id", "text", maxDistance = 3))
    val longIds = long.select("doc_id").collect().map(_.getLong(0))
    val recall = longIds.count(i => found.contains((i, i + 1000000L))).toDouble / longIds.length
    assert(recall >= 0.5, s"simhash near-copy recall $recall on long docs")
  }

  test("minhash hot-bucket guard keeps duplicate clusters connected") {
    import spark.implicits._
    // 6 identical docs -> every band bucket has df 6 > cap 2; without the
    // guard this is a 15-pair clique, with it each member links to the
    // representative (min id) and the cluster stays connected
    val boiler = "identical boilerplate page repeated across many crawled hosts " * 4
    val docs = ((1L to 6L).map(i => (i, boiler)) :+ (99L, "entirely unrelated text " * 8))
      .toDF("doc_id", "text")
    val found = pairs(Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucketDf = Some(2)))
    (2L to 6L).foreach(i => assert(found.contains((1L, i)),
      s"member $i must link to representative 1"))
    assert(!found.exists(p => p._1 == 99L || p._2 == 99L))
    // and the guard must not change results when no bucket is hot
    val unguarded = pairs(Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucketDf = None))
    assert(found.subsetOf(unguarded))
  }

  test("simhash block scheme derives from requested distance (no silent recall loss)") {
    import spark.implicits._
    // two docs at a known small hamming distance: with maxDistance=8 the
    // pigeonhole must use 9 blocks, guaranteeing detection for d<=8
    val d = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 300)
    val planted = d.unionAll(d
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" zq"))))
    val hams = planted.select(col("doc_id"),
      graft.operators.Dedup.simHash64(split(col("text"), " ")).as("h"))
    val hamByPair = hams.as("a").join(hams.as("b"),
        col("a.doc_id") + 1000000L === col("b.doc_id"))
      .select(col("a.doc_id"), bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("ham"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val within8 = hamByPair.filter(_._2 <= 8).keySet
    assert(within8.nonEmpty, "fixture should contain pairs within hamming 8")
    val found = pairs(Dedup.simHashPairs(planted, "doc_id", "text", maxDistance = 8))
    within8.foreach(i => assert(found.contains((i, i + 1000000L)),
      s"pair at hamming ${hamByPair(i)} <= 8 must be found (pigeonhole guarantee)"))
  }

  test("simhash maxBlockDf guard keeps exact-duplicate clusters connected") {
    import spark.implicits._
    val boiler = "the same navigation header and footer on every page of the site " * 3
    val docs = ((1L to 5L).map(i => (i, boiler)) :+ (99L, "totally different content " * 10))
      .toDF("doc_id", "text")
    val found = pairs(Dedup.simHashPairs(docs, "doc_id", "text",
      maxDistance = 3, maxBlockDf = Some(2)))
    (2L to 5L).foreach(i => assert(found.contains((1L, i)),
      s"member $i must link to representative 1 despite the df cap"))
    assert(!found.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("embedding near-dup finds exactly the planted duplicate vectors") {
    val found = pairs(CurationQueries.dedupEmbedding(spark, sfDir))
    val planted = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(i => (i, i + 1000000L)).toSet
    assert(found == planted, "natural corpus max cosine is ~0.51, so only planted pairs pass 0.95")
  }

  test("LSH cosine dedup finds every exact duplicate; subset of all-pairs") {
    val e = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    val lsh = pairs(Dedup.cosinePairsLsh(planted, "vec_id", "embedding",
      dim = 64, threshold = 0.95))
    val exact = pairs(Dedup.cosinePairs(planted, "vec_id", "embedding", threshold = 0.95))
    // exact-cosine verify makes FPs impossible; identical vectors share
    // every bank's bucket, so exact duplicates are structurally found
    assert(lsh.subsetOf(exact))
    val plantedPairs = e.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(i => (i, i + 1000000L)).toSet
    assert(plantedPairs.subsetOf(lsh), "exact duplicates have recall 1 under any bank")
    // the hot-bucket guard keeps a 300-copy vector cluster linear and connected
    import spark.implicits._
    val vec = Array.tabulate(64)(i => (i % 7).toFloat - 3f)
    val hot = (1L to 300L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val found = pairs(Dedup.cosinePairsLsh(hot, "vec_id", "embedding",
      dim = 64, threshold = 0.95, maxBucketDf = Some(50)))
    (2L to 300L).foreach(i => assert(found.contains((1L, i))))
  }

  test("identical vectors always share a sign-LSH bucket") {
    val e = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val b1 = e.withColumn("b", Similarity.signLshBucket("embedding", 64, 8)).select("vec_id", "b")
    val b2 = e.withColumn("b", Similarity.signLshBucket("embedding", 64, 8)).select("vec_id", "b")
    assert(b1.except(b2).count() == 0, "bucket assignment must be deterministic")
  }

  test("sign-LSH top-k scores agree with brute force on shared pairs") {
    val brute = CurationQueries.annBruteForce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = {
      val e = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", k = 500)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val lsh = CurationQueries.annSignLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full.contains(key) && math.abs(full(key) - r.getDouble(2)) < 1e-9,
        s"LSH scored $key differently from exact cosine")
    }
    assert(brute.nonEmpty)
  }

  test("IVF probe returns exact top-k within the query's list") {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val ivf = CurationQueries.annIvf(spark, sfDir).collect()
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivf.foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)),
        "IVF neighbors must come from the query's inverted list")
    }
  }

  test("winnow pairs: planted copied passages are detected") {
    import spark.implicits._
    val base = "completely original text about spark catalyst plans and shuffles " * 3
    val passage = "this exact passage is copied verbatim between two documents only"
    val docs = Seq(
      (1L, base + passage),
      (2L, "different framing words " + passage + " and a different tail here"),
      (3L, "nothing in common with the others at all in any way whatsoever"))
      .toDF("doc_id", "text")
    val found = pairs(Dedup.winnowPairs(docs, "doc_id", "text", k = 8, w = 4, minShared = 5))
    assert(found.contains((1L, 2L)), "shared passage must be detected")
    assert(!found.exists(p => p._1 == 3L || p._2 == 3L), "disjoint doc must not pair")
  }

  test("HLL approx distinct within 5% of exact counts") {
    val approx = CurationQueries.approxDistinct(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"), countDistinct(col("l_suppkey")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, s)) =>
      val (ap, as_) = approx(k)
      assert(math.abs(ap - p).toDouble / p < 0.05, s"$k parts: $ap vs $p")
      assert(math.abs(as_ - s).toDouble / s < 0.05, s"$k supps: $as_ vs $s")
    }
  }

  test("HLL aggregator (register monoid) equals the two-level SQL path") {
    import graft.operators.HyperLogLog
    val li = graft.Tables.lineitem(spark, sfDir)
    val viaAgg = li.groupBy(col("l_returnflag"))
      .agg(HyperLogLog.hllAgg("l_partkey", "p").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaSql = HyperLogLog.approxCountDistinct(
        li, "l_returnflag", "l_partkey", "p", "est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaSql,
      s"aggregator and SQL register paths must agree exactly: $viaAgg vs $viaSql")
  }

  test("CountMin heavy hitters: one-sided estimates with bounded overcount") {
    val rows = CurationQueries.countMinHeavy(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20, "top-20 probe set")
    rows.foreach { case (w, exact, est) =>
      assert(est >= exact, s"CountMin must never undercount: $w $est < $exact")
    }
    // CM guarantee: overcount ≤ e/width · total words at confidence
    // 1 - e^-depth; assert the deterministic instance beats 2× that
    // bound on every probe (md5 buckets behave like the random model)
    val total = graft.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " "))).count()
    val bound = 2.0 * math.E / 1024 * total
    rows.foreach { case (w, exact, est) =>
      assert(est - exact <= bound, s"$w overcount ${est - exact} > $bound")
    }
  }

  test("unigram scores: vocabulary cut, oov ratio, and exact mean frequency") {
    import spark.implicits._
    // corpus counts: the=5, cat=3, sat=2, dog=1, mat=1 -> top-3 vocab
    // is {the, cat, sat}
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat sat the mat"),
      (3L, "the cat dog the")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramScores(docs, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // doc 1: 3 words, all in vocab; mean freq = (5+3+2)/3
    assert(got(1L) === ((3L, 3L, 0.0, round6(10.0 / 3))))
    // doc 2: 5 words, 4 in vocab (mat is OOV); mean = (5+3+2+5)/4
    assert(got(2L) === ((5L, 4L, 0.2, 3.75)))
    // doc 3: 4 words, 3 in vocab (dog OOV); mean = (5+3+5)/3
    assert(got(3L) === ((4L, 3L, 0.25, round6(13.0 / 3))))
  }

  private def round6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("duplicated windows: cross-doc spans counted, within-doc repeats not") {
    import spark.implicits._
    // doc 1 and doc 2 share one exact 4-word span ("a b c d"); doc 3 is
    // disjoint; doc 4 repeats its own window twice (must NOT count:
    // windows are per-doc distinct and df is cross-document)
    val docs = Seq(
      (1L, "a b c d x1 y1 z1"),
      (2L, "p q a b c d r s"),
      (3L, "u v w m n o t k"),
      (4L, "h i j k h i j k h i j k")).toDF("doc_id", "text")
    val got = Dedup.duplicatedWindows(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 4 distinct windows, 1 duplicated ("a b c d")
    assert(got(1L) === ((4L, 1L)))
    // doc 2: 5 windows, 1 duplicated
    assert(got(2L) === ((5L, 1L)))
    assert(got(3L) === ((5L, 0L)))
    // doc 4: 12 words -> 9 window positions but only 4 distinct windows
    // (the text is "h i j k" cycled), none shared with other docs
    assert(got(4L) === ((4L, 0L)))
  }

  test("duplicated windows: hashed and string window keys agree") {
    val docs = graft.Tables.documents(spark, sfDir)
    def rows(hashed: Boolean) =
      Dedup.duplicatedWindows(docs, "doc_id", "text", n = 8, hashWindows = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(hashed = true) === rows(hashed = false),
      "xxhash64 window keys must not change any df count on this corpus")
  }

  test("domain mixture: sqrt temperature flattens shares, budget allocation") {
    import spark.implicits._
    // 400 vs 100 tokens -> raw shares 0.8/0.2 but sqrt weights 2:1
    val docs = Seq(
      (1L, "a", ("w " * 400).trim),  // 400 tokens
      (2L, "b", ("w " * 100).trim))  // 100 tokens
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.domainMixture(docs, "source", "text", budget = 900000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got("a") === ((1L, 400L, 0.8, round6(2.0 / 3), 600000L)))
    assert(got("b") === ((1L, 100L, 0.2, round6(1.0 / 3), 299999L)))
    // flattening: big domain's weight < its raw share, small domain's >
    assert(got("a")._4 < got("a")._3 && got("b")._4 > got("b")._3)
  }

  test("mixture sample: materialized rates track budgets, full-keep above total") {
    import spark.implicits._
    // many small docs per domain so the hash gate's sampling noise
    // stays well inside the asserted band
    val docs = (1 to 400).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", s"w$i x y z q")
    }.toDF("doc_id", "source", "text")
    // equal 1000-token domains -> equal budgets of ~half the corpus
    val kept = TextAnalysis.mixtureSample(docs, "doc_id", "source", "text",
        budget = 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDomain = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // each domain: 200 docs, budget 500/1000 tokens -> ~100 kept; the
    // 32-bit md5 gate is binomial(200, .5): +-4 sigma ~ 28
    Seq("a", "b").foreach { d =>
      assert(byDomain(d) > 70 && byDomain(d) < 130,
        s"domain $d kept ${byDomain(d)} of 200 at rate 0.5")
    }
    // determinism: same input, same sample
    val again = TextAnalysis.mixtureSample(docs, "doc_id", "source", "text",
        budget = 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // budget >= total keeps everything
    val all = TextAnalysis.mixtureSample(docs, "doc_id", "source", "text",
        budget = 10000L).count()
    assert(all === 400L)
  }

  test("incremental dedup: base content dropped, in-batch keep-first, associative") {
    import spark.implicits._
    val base = Seq((1L, "old page"), (2L, "other page")).toDF("doc_id", "text")
    val day1 = Seq(
      (10L, "old page"),   // re-crawl -> dropped
      (11L, "new page"), (12L, "new page"), // in-batch dup -> keep 11 (x2)
      (13L, "unique page")).toDF("doc_id", "text")
    val kept1 = Dedup.incrementalKeepNew(day1, "doc_id", "text", base, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept1 === Map(11L -> 2L, 13L -> 1L))
    // associativity: day2 dedups against base ∪ kept(day1)
    val accumulated = base.unionAll(
      day1.filter(col("doc_id").isin(11L, 13L)).select(col("doc_id"), col("text")))
    val day2 = Seq((20L, "new page"), (21L, "day two page")).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalKeepNew(day2, "doc_id", "text", accumulated, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(21L)) // 'new page' now lives in the accumulated corpus
  }

  test("wordlist filter: word-exact matches, distinct counting, keep bit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean words only"),
      (2L, "bad and bad again"),          // repeated term counts once
      (3L, "badge is not bad-word bad"),  // substring/hyphen no match; 'bad' does
      (4L, "worse and bad together")      // two distinct blocked terms
    ).toDF("doc_id", "text")
    val got = TextAnalysis.wordlistFilter(docs, "doc_id", "text",
        blocked = Seq("bad", "worse"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(1L) === ((0L, 1)))
    assert(got(2L) === ((1L, 0)))
    assert(got(3L) === ((1L, 0)))
    assert(got(4L) === ((2L, 0)))
  }

  test("gopher fractions: top n-gram and duplicated n-gram char coverage") {
    import spark.implicits._
    // "a b a b a b" (11 chars): bigrams = [a b, b a, a b, b a, a b] ->
    // top "a b" cnt 3, len 3 -> 9/11; 5-grams "a b a b a" x1,
    // "b a b a b" x1 -> no dups
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "x y z w v u t s"),                  // all n-grams unique
      (3L, "c c c c c c c c c c")).toDF("doc_id", "text") // total repetition
    val got = TextAnalysis.gopherNgramFractions(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L)._1 === round6(9.0 / 11))
    assert(got(2L)._4 === 0.0, "unique text has no duplicated 5-grams")
    // doc 3: 10 c's (19 chars); top bigram "c c" (3 chars) x9 -> 27/19;
    // dup 5-grams: "c c c c c" (9 chars) x6 -> 54/19 (overlaps counted)
    assert(got(3L)._1 === round6(27.0 / 19))
    assert(got(3L)._4 === round6(54.0 / 19))
  }

  test("gopher fractions count code points, not UTF-16 units (r2 review)") {
    import spark.implicits._
    // an emoji is ONE code point but two UTF-16 units; fractions must
    // match what length()-based engines compute: top bigram
    // "😀 a" (3 cp) x3 over 11 cp total -> 9/11
    val docs = Seq((1L, "😀 a 😀 a 😀 a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherNgramFractions(docs, "doc_id", "text")
      .collect().map(r => r.getDouble(1)).head
    assert(got === round6(9.0 / 11), s"expected 9/11 in code points, got $got")
  }

  test("tf-idf keywords: rational idf ranks rare terms over common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared rare1"),
      (2L, "shared unique2 unique2 unique2"),
      (3L, "shared other other")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfKeywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: rare1 tf=1 df=1 -> 3.0; shared tf=2 df=3 -> 2.0
    assert(got((1L, 1L)) === "rare1" && got((1L, 2L)) === "shared")
    // doc 2: unique2 tf=3 df=1 -> 9.0 beats shared 1.0
    assert(got((2L, 1L)) === "unique2")
    // doc 3: other tf=2 df=1 -> 6.0 beats shared
    assert(got((3L, 1L)) === "other")
  }

  test("quality verdict: each gate rejects its own failure mode") {
    import spark.implicits._
    val good = "the ship sailed north in clear weather and the crew of forty " +
      "spoke of the long summer voyage to the island markets in the east " +
      "where traders sold grain and cloth and salt to the harbour towns"
    val docs = Seq(
      (1L, good),                                     // passes everything
      (2L, "x! y? z# @@ ##"),                         // low quality + short
      (3L, ("the spam " * 40).trim),                  // repetition + top2
      (4L, good.split(" ").take(10).mkString(" ")))   // under the length floor
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityVerdict(docs, "doc_id", "text",
        vocabSize = 50)
      .collect().map(r => r.getLong(0) -> r.getInt(6)).toMap
    assert(got(1L) === 1, "clean prose must be kept")
    assert(got(2L) === 0 && got(3L) === 0 && got(4L) === 0,
      s"each planted failure mode must be dropped: $got")
  }

  test("winnowing fingerprints: shared substrings produce shared fingerprints") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "prefix text then the quick brown fox jumps over the lazy dog here"),
      (3L, "completely different words with no overlap whatsoever in sight"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      TextAnalysis.winnowFingerprints(k = 8, w = 4)(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1).intersect(fps(2)).nonEmpty, "overlapping docs share fingerprints")
    assert(fps(1).intersect(fps(3)).isEmpty, "disjoint docs share nothing")
  }

  test("band-plan sweep: candidates nest across plans, identical docs always hit") {
    import spark.implicits._
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, near), (2L, near),                       // identical pair
      (3L, near + "lambda mu"),                     // near-dup of 1/2
      (4L, "totally different content about spark plans and shuffles " * 3),
      (5L, "yet another unrelated document with its own words entirely " * 3))
      .toDF("doc_id", "text")
    val rows = Dedup.bandPlanSweep(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Int]("bands") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_true"),
          r.getAs[Long]("n_exact"))).toMap
    // an r=4 band is the union of two aligned r=2 bands: matching it
    // implies matching both halves, so candidate sets NEST as r grows
    assert(rows(32)._1 >= rows(16)._1 && rows(16)._1 >= rows(8)._1,
      s"candidate volume must be monotone in sensitivity: $rows")
    // identical docs agree on every lane — candidates under EVERY plan,
    // and a true pair under each
    assert(rows.values.forall(_._2 >= 1L), s"identical pair missed: $rows")
    assert(rows.values.map(_._3).toSet.size === 1, "n_exact is plan-independent")
  }
}
