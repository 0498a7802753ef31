package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[BpeTrain]] — merge sequence on the classic hand-computable corpus,
  * deterministic tie-breaks, the minFreq stop, non-overlapping merge
  * application, and the round-trip into the real BPE encoder. */
class BpeTrainSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  /** The Sennrich/HF tutorial corpus: hug×10 pug×5 pun×12 bun×4 hugs×5. */
  private def corpus = Seq(
    (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(12)("pun") ++
      Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")).mkString(" "))
    .toDF("text")

  test("learns the textbook merge sequence with exact weights") {
    val m = BpeTrain.train(corpus, "text", numMerges = 3)
    // round 1: (u,g)=20 beats (p,u)=17; merging ug drops (p,u) to 12
    // (only 'pun' keeps it), so round 2 is (u,n)=16, then (h,ug)=15
    assert(m.map(x => (x.left, x.right, x.weight)) === Seq(
      ("u", "g", 20L), ("u", "n", 16L), ("h", "ug", 15L)))
    assert(m.map(_.merged) === Seq("ug", "un", "hug"))
  }

  test("equal-weight pairs break ties lexicographically") {
    val m = BpeTrain.train(Seq("xy xy ab ab").toDF("text"), "text", 1)
    // (x,y) and (a,b) both weigh 2 -> (a,b) wins on pair order
    assert((m.head.left, m.head.right) === (("a", "b")))
  }

  test("training stops when no pair reaches minFreq") {
    val m = BpeTrain.train(Seq("abc def ghi").toDF("text"), "text",
      numMerges = 10, minFreq = 2)
    assert(m.isEmpty)
  }

  test("merge application is greedy non-overlapping (aaa -> [aa, a])") {
    val m = BpeTrain.train(Seq("aaa aaa").toDF("text"), "text", 1)
    assert((m.head.left, m.head.right) === (("a", "a")))
    // after merging (a,a) in 'aaa' the remaining pair is (aa, a): one
    // occurrence per word = weight 2 for the second merge
    val m2 = BpeTrain.train(Seq("aaa aaa").toDF("text"), "text", 2)
    assert((m2(1).left, m2(1).right, m2(1).weight) === (("aa", "a", 2L)))
  }

  test("local and distributed training paths learn identical merges") {
    val local = BpeTrain.train(corpus, "text", numMerges = 5)
    val dist = BpeTrain.train(corpus, "text", numMerges = 5, maxLocalVocab = 0L)
    assert(local === dist)
  }

  test("trainEncode compresses: more merges, fewer tokens, ratio >= 1") {
    val docs = Seq((1L, corpusText), (2L, "zq zq zq")).toDF("doc_id", "text")
    def totals(k: Int) = BpeTrain.trainEncode(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val t1 = totals(1); val t5 = totals(5)
    // merges only ever shrink the token stream
    assert(t5(1L)._2 <= t1(1L)._2)
    // chars_per_token >= 1 whenever tokens exist (a token is >= 1 char)
    Seq(t1, t5).foreach(_.values.foreach { case (_, n, r) =>
      assert(n == 0 || r >= 1.0)
    })
    // 'zq zq zq': (z,q) weighs 3 and ranks 8th after ug/un/hug/pun/
    // hugs/pug/bun — once merged, 3 words x 1 token
    assert(totals(8)(2L)._2 === 3L)
  }

  private def corpusText: String =
    (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(12)("pun") ++
      Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")).mkString(" ")

  test("multi-byte characters encode at char level, not byte level (r3 review)") {
    // 你/好 are 3-byte UTF-8: a byte-level encoder could never apply a
    // char-trained merge (its partial byte sequences aren't ranked) and
    // would emit 6 byte-tokens per word; char-level encode applies the
    // learned (你,好) merge -> one token per word
    val docs = Seq((1L, "你好 你好 你好")).toDF("doc_id", "text")
    val out = BpeTrain.trainEncode(docs, "doc_id", "text", numMerges = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).head
    assert(out === ((8L, 3L, 2.666667)))
  }

  test("learned ranks drive the real BPE encoder") {
    val merges = BpeTrain.train(corpus, "text", numMerges = 3)
    val tok = graft.core.BpeTokenizer.fromRanks(
      BpeTrain.ranks(merges, baseChars = Seq("b", "s", "p")))
    // merges: ug, un, hug — encode applies lowest rank first
    assert(tok.encode("hug") === Seq("hug"))
    assert(tok.encode("pun") === Seq("p", "un"))
    assert(tok.encode("bugs") === Seq("b", "ug", "s"))
  }
}
