package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ChunkRow, EmbedPipeline, Embedder}

/** Golden tests ported from the reference's chunker suite
  * (reference: src/worker/tests/test_worker.py:221-344). The token-window
  * chunkers run the real BPE engine ([[BpeTokenizer]], exact cl100k
  * algorithm + pre-tokenizer) when a cl100k ranks file is supplied;
  * offline the default is the [[GraftTokenizer]] stand-in. Counts that
  * depend on cl100k sub-word splits are verified BOTH ways: with the
  * stand-in (recomputed expected value, divergence noted) and with a
  * BPE rank table reproducing the reference's exact count.
  */
class ChunkersSpec extends AnyFunSuite with graft.SharedSpark {

  // test_worker.py:221-233 — "testtext"*192: 384 tokens; 3 chunks of
  // 1024/1024/512 chars at size=256 overlap=128.
  test("EXACT token windows: 384 tokens -> 3 chunks of 1024/1024/512 chars") {
    val data = Seq.fill(192)("testtext")
    val chunks = Chunkers.exact(data, 256, 128)
    assert(chunks.length == 3)
    assert(chunks(0).text.length == 1024)
    assert(chunks(1).text.length == 1024)
    assert(chunks(2).text.length == 512)
  }

  // test_worker.py:235-243
  test("PARAGRAPH: four paragraphs at size=16 -> 4 chunks") {
    val data = Seq.fill(3)("This is an example paragraph. With a second example sentence.\n\n") :+
      "This is an example paragraph. With a second example sentence."
    val chunks = Chunkers.paragraph(data, size = 16, overlap = 0)
    assert(chunks.length == 4)
  }

  // test_worker.py:245-253 — overlap window starts at token 8 = " second"
  test("PARAGRAPH overlap: second chunk starts at ' second example'") {
    val data = Seq(
      "This is an example paragraph. With a second example sentence.\n\n",
      "This is an example paragraph. With a second example sentence")
    val chunks = Chunkers.paragraph(data, size = 10, overlap = 2)
    assert(chunks(1).text.take(15) == " second example")
  }

  // test_worker.py:255-261
  test("PARAGRAPH bound: early paragraph break folds into one chunk") {
    val chunks = Chunkers.paragraph(Seq("This is \n\n a very early paragraph."),
      size = 10, overlap = 0, bound = 0.5)
    assert(chunks.length == 1)
  }

  // test_worker.py:263-269
  test("SENTENCE: four sentences under the size -> 4 chunks") {
    val data = Seq("I am a sentence. I am a sentence but with a question? " +
      "I am still a sentence! Can I consider myself a sentence...")
    val chunks = Chunkers.sentence(data, size = 50, overlap = 0)
    assert(chunks.length == 4)
  }

  // test_worker.py:271-277 — reference expects 6 because cl100k splits
  // "Blahblah" into 2 sub-word tokens (13 tokens > 10 -> EXACT fallback of
  // 2). GraftTokenizer keeps 8-char words whole (7 tokens <= 10 -> no
  // fallback), so the final sentence stays one chunk: 5 total.
  test("SENTENCE oversize fallback (graft tokenizer: 5 chunks)") {
    val data = Seq("I am a sentence. I am a sentence but with a question? " +
      "I am still a sentence! Can I consider myself a sentence... " +
      "Blahblah Blahblah Blahblah Blahblah Blahblah Blahblah .")
    val chunks = Chunkers.sentence(data, size = 10, overlap = 0)
    assert(chunks.length == 5)
    // same shape with words long enough to sub-word-split (like cl100k
    // does to "Blahblah") -> the EXACT fallback fires: 3 long words = 18
    // tokens -> 2 fallback chunks, 6 total, the reference's count
    val data2 = Seq("I am a sentence. I am a sentence but with a question? " +
      "I am still a sentence! Can I consider myself a sentence... " +
      "Blahblahblahblahblah Blahblahblahblahblah Blahblahblahblahblah .")
    assert(Chunkers.sentence(data2, size = 10, overlap = 0).length == 6)
  }

  // test_worker.py:271-277 under the REAL BPE engine: a rank table in
  // which common words are whole tokens and " Blahblah" splits in two
  // (cl100k's behavior) reproduces the reference's count of 6 exactly —
  // 13 tokens > 10 triggers the EXACT fallback (2 chunks) after the 4
  // one-chunk sentences.
  test("SENTENCE oversize fallback matches the reference (6) via BPE ranks") {
    val mergeChain = Seq(" B" -> 0, " Bl" -> 1, " Bla" -> 2, " Blah" -> 3,
      "bl" -> 4, "bla" -> 5, "blah" -> 6)
    val wholeWords = Seq(" I", " am", " a", " sentence", " but", " with",
      " question", " still", " Can", " consider", " myself", "...", " .")
    val bpe = BpeTokenizer.fromRanks(
      (mergeChain ++ wholeWords.zipWithIndex.map { case (w, i) => (w, 100 + i) }).toMap)
    val data = Seq("I am a sentence. I am a sentence but with a question? " +
      "I am still a sentence! Can I consider myself a sentence... " +
      "Blahblah Blahblah Blahblah Blahblah Blahblah Blahblah .")
    assert(bpe.encode(" Blahblah") == IndexedSeq(" Blah", "blah"))
    assert(Chunkers.sentence(data, size = 10, overlap = 0, tok = bpe).length == 6)
  }

  // test_worker.py:279-287 — overlap slice starts at token 8 = " longer"
  test("SENTENCE overlap: second chunk starts with ' longer so'") {
    val data = Seq("This is a sentence that needs to be longer so that we have enough words for the test")
    val chunks = Chunkers.sentence(data, size = 10, overlap = 2)
    assert(chunks(1).text.take(10) == " longer so")
  }

  // test_worker.py:289-297 — the embed stage cuts one partition's
  // chunks into calls of at most 2048 texts
  test("embedding re-batch: 4*2048 chunks -> 4 batches") {
    import spark.implicits._
    // closures are serialized per task even in local mode: collect the
    // call sizes through an accumulator
    val sizes = spark.sparkContext.collectionAccumulator[Int]("call_sizes")
    val counting = new Embedder {
      override val dim = 1
      override def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Float]] = {
        sizes.add(texts.length)
        texts.map(_ => Array(0f))
      }
    }
    val chunks = (0 until 2048 * 4).map(i => ChunkRow(i.toLong, "s", 0, s"c$i", "test"))
      .toDS().coalesce(1)
    assert(EmbedPipeline.embedStage(chunks, counting).count() == 2048 * 4)
    assert(sizes.value.asScala.toSeq == Seq.fill(4)(2048))
  }

  // test_worker.py:299-311
  test("EXACT_BY_CHARACTERS: 384 chars -> 3 chunks, last 128 chars") {
    val data = Seq.fill(38)("thisistest") :+ "test"
    val chunks = Chunkers.exactByCharacters(data, 256, 128)
    assert(chunks.length == 3)
    assert(chunks(2).text.length == 128)
  }

  // test_worker.py:313-319
  test("PARAGRAPH_BY_CHARACTERS: 4 paragraphs -> 4 chunks") {
    val data = Seq.fill(4)("This is an example paragraph.\n\n")
    val chunks = Chunkers.paragraphByCharacters(data, size = 35, overlap = 0)
    assert(chunks.length == 4)
  }

  // test_worker.py:321-328 — forward overlap: chunk 0 carries the first 15
  // chars of chunk 1's text
  test("PARAGRAPH_BY_CHARACTERS overlap extends forward") {
    val data = Seq.fill(2)("This is an example paragraph.\n\n")
    val chunks = Chunkers.paragraphByCharacters(data, size = 35, overlap = 15)
    assert(chunks(1).text.take(15) == "This is an exam")
  }

  // test_worker.py:330-336
  test("PARAGRAPH_BY_CHARACTERS bound: one chunk") {
    val chunks = Chunkers.paragraphByCharacters(Seq("This is \n\n a very early paragraph."),
      size = 35, overlap = 0, bound = 0.75)
    assert(chunks.length == 1)
  }

  // test_worker.py:338-344
  test("SENTENCE_BY_CHARACTERS oversize -> 6 chunks") {
    val data = Seq("I am a sentence. I am a sentence but with a question? " +
      "I am still a sentence! Can I consider myself a sentence... " +
      "Blahblah Blahblah Blahblah Blahblah Blahblah Blahblah .")
    val chunks = Chunkers.sentenceByCharacters(data, size = 50, overlap = 0)
    assert(chunks.length == 6)
  }

  // src/api/tests/test_app.py:135-143
  test("split_file: 2048 lines -> 3 blocks of 1000/1000/48") {
    val blocks = Chunkers.splitFile("test\n" * 2048, 1000)
    assert(blocks.map(_.length) == Vector(1000, 1000, 48))
  }

  test("overlap >= size is rejected (reference would loop forever)") {
    intercept[IllegalArgumentException](Chunkers.exact(Seq("abc"), 10, 10))
    intercept[IllegalArgumentException](Chunkers.exactByCharacters(Seq("abc"), 10, 12))
  }

  // ---- property tests ----

  /** 200 seeded pseudo-random texts mixing words, spaces, paragraph
    * breaks, sentence enders, digits and long runs. */
  private def randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val pieces = Array(" ", "\n\n", ". ", "! ", "?", "…", "word", "testtext",
      "a", "1234", "Supercalifragilistic", "\n", "\t", "x")
    (0 until 200).map { _ =>
      (0 until rnd.nextInt(60)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    }
  }

  test("property: tokenizer is lossless (decode . encode == id)") {
    randomTexts.foreach { s =>
      assert(GraftTokenizer.decode(GraftTokenizer.encode(s)) == s)
    }
  }

  test("property: EXACT(_BY_CHARACTERS) with overlap=0 reassembles the input") {
    val rnd = new scala.util.Random(7)
    randomTexts.foreach { s =>
      val size = 1 + rnd.nextInt(64)
      assert(Chunkers.exactByCharacters(Seq(s), size, 0).map(_.text).mkString == s)
      assert(Chunkers.exact(Seq(s), size, 0).map(_.text).mkString == s)
    }
  }

  test("property: chunk ids are deterministic across invocations") {
    randomTexts.foreach { s =>
      val a = Chunkers.exactByCharacters(Seq(s), 16, 8)
      val b = Chunkers.exactByCharacters(Seq(s), 16, 8)
      assert(a.map(_.chunkId) == b.map(_.chunkId))
    }
  }

  test("uuid5 matches Python uuid.uuid5 on known vectors") {
    // python: uuid.uuid5(uuid.NAMESPACE_DNS, "hello") etc.
    assert(Uuid5.of("hello") == "9342d47a-1bab-5709-9869-c840b2eac501")
    assert(Uuid5.of("python.org") == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
    assert(Uuid5.ofParts("text", 0, "exact") == Uuid5.of("text-0-exact"))
  }
}
