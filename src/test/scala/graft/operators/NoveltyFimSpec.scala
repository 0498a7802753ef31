package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TextAnalysis.ngramNovelty]] (t39 — first-occurrence
  * attribution) and [[Fim.fimSplit]] (p31 — the reassembly invariant
  * and the md5-determinism of cuts/mode). */
class NoveltyFimSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  test("novelty: first doc 1000, exact copy 0, overlap in between, tiny doc NULL") {
    val a = (1 to 12).map(i => s"w$i").mkString(" ")     // 10 distinct 3-grams
    val half = (7 to 12).map(i => s"w$i").mkString(" ") + " " +
      (1 to 6).map(i => s"x$i").mkString(" ")            // mixes seen + fresh grams
    val df = Seq(
      (1L, a),          // everything first-seen here
      (2L, a),          // exact copy: zero novel
      (3L, half),       // partial reuse
      (4L, "one two")   // < 3 words: no grams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L)._1 === 10L && got(1L)._2 === 10L && got(1L)._3 === Some(1000L))
    assert(got(2L)._1 === 10L && got(2L)._2 === 0L && got(2L)._3 === Some(0L))
    // doc 3: grams within "w7..w12" (4 of them) were first seen in doc 1;
    // the straddling and x-grams are new
    val (n3, nov3, pm3) = got(3L)
    assert(n3 === 10L && nov3 === 6L && pm3 === Some(600L))
    assert(got(4L) === ((0L, 0L, None)))
  }

  test("novelty attribution is by MIN doc id, not arrival order") {
    // same text under ids 10 and 5 — novelty must credit id 5
    val t = (1 to 8).map(i => s"t$i").mkString(" ")
    val df = Seq((10L, t), (5L, t)).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(5L) === 6L && got(10L) === 0L)
  }

  test("fim: parts reassemble to the original; lengths account for every char") {
    val docs = Seq(
      (0L, "ab"),
      (1L, "hello world, this is a document about spans"),
      (2L, "x" * 300),
      (3L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (4L, "a"),      // len < 2: dropped
      (5L, null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "text")
    val rows = Fim.fimSplit(df, "doc_id", "text").collect()
    assert(rows.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))
    val byId = docs.toMap
    rows.foreach { r =>
      val (id, mode, np, nm, ns, fim) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5))
      val orig = byId(id)
      assert(np + nm + ns === orig.length.toLong, s"doc $id length accounting")
      // recover the parts from the sentinel layout and the lengths
      val (p, s, m) = mode match {
        case "psm" =>
          val p0 = fim.drop(5).take(np.toInt)
          val s0 = fim.drop(5 + np.toInt + 5).take(ns.toInt)
          val m0 = fim.drop(5 + np.toInt + 5 + ns.toInt + 5)
          (p0, s0, m0)
        case "spm" =>
          val s0 = fim.drop(5).take(ns.toInt)
          val p0 = fim.drop(5 + ns.toInt + 5).take(np.toInt)
          val m0 = fim.drop(5 + ns.toInt + 5 + np.toInt + 5)
          (p0, s0, m0)
      }
      assert(m.length === nm.toInt, s"doc $id middle length")
      assert(p + m + s === orig, s"doc $id reassembly")
    }
  }

  test("fim cuts and mode replay the md5 derivation exactly") {
    val text = "the quick brown fox jumps over the lazy dog"
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val r = Fim.fimSplit(df, "doc_id", "text").collect().head
    val len = text.length.toLong
    val c1 = Dedup.md5Hash60("fim1|7") % len + 1
    val c2 = Dedup.md5Hash60("fim2|7") % len + 1
    val (lo, hi) = (math.min(c1, c2), math.max(c1, c2))
    val wantMode = if (Dedup.md5Hash60("fimm|7") % 2 == 0) "psm" else "spm"
    assert(r.getString(1) === wantMode)
    assert(r.getLong(2) === lo - 1)            // n_prefix
    assert(r.getLong(3) === hi - lo)           // n_middle
    assert(r.getLong(4) === len - hi + 1)      // n_suffix
  }

  test("sourceOverlap: identical sources contain each other at exactly 10^6 ppm") {
    val a = (1 to 10).map(i => s"w$i").mkString(" ")
    val half = (1 to 6).map(i => s"w$i").mkString(" ") + " " +
      (1 to 6).map(i => s"z$i").mkString(" ")
    val df = Seq(
      (1L, "s1", a), (2L, "s2", a),      // s1 == s2 vocabularies
      (3L, "s3", half)                    // s3 shares 4 of its 10 grams with s1/s2
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceOverlap(df, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("s1", "s2")) === ((8L, 8L, 1000000L)))
    assert(got(("s2", "s1")) === ((8L, 8L, 1000000L)))
    // "w1..w6" has 4 trigrams; the w6-z1 straddler and z-grams are s3-only
    assert(got(("s3", "s1")) === ((10L, 4L, 400000L)))
    assert(got(("s1", "s3")) === ((8L, 4L, 500000L)))
  }

  test("sourceOverlap guard drops hot grams from numerator AND denominator") {
    // gram "a b c" is in all 3 sources (source-freq 3); the rest are private
    val df = Seq(
      (1L, "s1", "a b c p1 p2"), (2L, "s2", "a b c q1 q2"),
      (3L, "s3", "a b c r1 r2")).toDF("doc_id", "source", "text")
    val unguarded = TextAnalysis.sourceOverlap(df, "source", "text", 3)
      .collect()
    assert(unguarded.length === 6 &&
      unguarded.forall(_.getLong(3) === 1L))  // the shared gram only
    val guarded = TextAnalysis.sourceOverlap(df, "source", "text", 3,
      maxGramSourceFreq = Some(2))
    // the only cross-source gram is gone — no overlapping pairs at all,
    // and had any survived, n_grams_a would count the filtered universe
    assert(guarded.count() === 0L)
  }

  test("q47 transitions: per-from ppm is a floor-division probability row") {
    val q = graft.queries.Relational11.q47Transitions(spark, "/root/testdata/sf0.001")
      .collect()
    assert(q.nonEmpty)
    q.groupBy(_.getString(0)).foreach { case (from, rows) =>
      val ppmSum = rows.map(_.getLong(3)).sum
      // floor division loses < 1 ppm per row, never overshoots
      assert(ppmSum <= 1000000L, from)
      assert(ppmSum > 1000000L - rows.length, from)
      rows.foreach(r => assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    }
  }
}
