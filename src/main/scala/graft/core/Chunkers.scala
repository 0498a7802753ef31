package graft.core

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** One chunk of a document: the text plus its deterministic UUIDv5 id
  * (reference chunk dict: src/worker/worker.py:201). */
final case class Chunk(text: String, chunkId: String)

/** The reference's seven chunking strategies
  * (reference: src/shared/chunk_strategy.py:3-10). */
sealed trait ChunkStrategy
object ChunkStrategy {
  case object Exact                 extends ChunkStrategy
  case object ExactByCharacters     extends ChunkStrategy
  case object Paragraph             extends ChunkStrategy
  case object ParagraphByCharacters extends ChunkStrategy
  case object Sentence              extends ChunkStrategy
  case object SentenceByCharacters  extends ChunkStrategy
  /** User-supplied chunker function (reference: README.md:214-223). */
  final case class Custom(fn: String => Seq[Chunk]) extends ChunkStrategy

  def fromString(s: String): ChunkStrategy = s.toUpperCase match {
    case "EXACT_BY_CHARACTERS"     => ExactByCharacters
    case "PARAGRAPH"               => Paragraph
    case "PARAGRAPH_BY_CHARACTERS" => ParagraphByCharacters
    case "SENTENCE"                => Sentence
    case "SENTENCE_BY_CHARACTERS"  => SentenceByCharacters
    // unknown strategies fall back to EXACT, like the reference dispatcher
    // (src/worker/worker.py:115-154)
    case _                         => Exact
  }
}

/** Pure-Scala ports of the reference chunkers (src/worker/worker.py:188-320).
  *
  * Semantic quirks replicated deliberately for parity (SURVEY.md §7):
  *  - paragraph/sentence-fallback chunks are labeled "exact" in the uuid5
  *    input even when produced by the paragraph path (worker.py:246);
  *  - `re.split('\n\n')`/sentence split keep trailing empty fields
  *    (Python `re.split` semantics), so `Pattern.split(s, -1)`;
  *  - paragraph-by-characters overlap extends FORWARD
  *    (`data[start:end+overlap]`, worker.py:271), unlike EXACT which
  *    steps back;
  *  - the paragraph token chunker decodes concatenated per-paragraph
  *    token lists, so the '\n\n' separators vanish from the output text.
  *    Here the chunk text is its paragraphs concatenated as cut from the
  *    input: the same text under a lossless tokenizer, and a lone
  *    surrogate that a BPE byte fallback would turn into '?' survives.
  *
  * Divergence from the reference (guarded, not replicated): overlap >=
  * chunk_size would make the EXACT step non-positive and loop forever
  * (quirk 8) — we `require` a positive step.
  */
object Chunkers {

  private val SentenceSplit = Pattern.compile("(?<=[.!?…]) +")
  private val ParagraphSplit = Pattern.compile("\n\n")

  private def requireStep(size: Int, overlap: Int): Int = {
    val step = size - overlap
    require(step > 0, s"chunk_overlap ($overlap) must be < chunk_size ($size)")
    step
  }

  /** EXACT: sliding token windows of `size`, step `size-overlap`
    * (worker.py:188-204). */
  def exact(data: Seq[String], size: Int, overlap: Int,
            tok: Tokenizer = Tokenizers.default): Vector[Chunk] = {
    val step = requireStep(size, overlap)
    val joined = data.mkString
    // tokens are lossless, so decode(tokens[i, i+size)) is the substring
    // between their offsets: one cut per chunk, no String per token
    val ends = tok.ends(joined)
    val out = Vector.newBuilder[Chunk]
    var i = 0
    while (i < ends.length) {
      val text = joined.substring(if (i == 0) 0 else ends(i - 1),
        ends(math.min(i + size, ends.length) - 1))
      out += Chunk(text, Uuid5.ofParts(text, i, "exact"))
      i += step
    }
    out.result()
  }

  /** EXACT_BY_CHARACTERS: same sliding window over chars (worker.py:206-215). */
  def exactByCharacters(data: Seq[String], size: Int, overlap: Int): Vector[Chunk] = {
    val step = requireStep(size, overlap)
    val joined = data.mkString
    val out = Vector.newBuilder[Chunk]
    var i = 0
    while (i < joined.length) {
      val text = joined.substring(i, math.min(i + size, joined.length))
      out += Chunk(text, Uuid5.ofParts(text, i, "exact"))
      i += step
    }
    out.result()
  }

  /** PARAGRAPH: accumulate '\n\n'-separated paragraphs until ≥
    * `bound*size` tokens; chunks over `size` tokens fall back to EXACT
    * (worker.py:218-250). */
  def paragraph(data: Seq[String], size: Int, overlap: Int, bound: Double = 0.75,
                tok: Tokenizer = Tokenizers.default): Vector[Chunk] = {
    val joined = data.mkString
    // floor(bound*size) of 0 would make the accumulation loop a no-op and
    // the outer loop spin forever (the reference has the same hazard for
    // size=1); one-token minimum guarantees progress
    val checkBound = math.max(1, (bound * size).toInt)
    val paragraphs = ParagraphSplit.split(joined, -1)
    val counts = paragraphs.map(p => tok.count(p))
    val out = new ArrayBuffer[Chunk]()
    var startIdx = 0
    while (startIdx < paragraphs.length) {
      val from = startIdx
      var nTokens = 0
      while (nTokens < checkBound && startIdx < paragraphs.length) {
        nTokens += counts(startIdx)
        startIdx += 1
      }
      val currentText = paragraphs.slice(from, startIdx).mkString
      if (nTokens > size) {
        out ++= exact(Seq(currentText), size, overlap, tok)
      } else {
        // quirk: label is "exact" and the position is the *paragraph*
        // index after consumption, exactly like the reference
        out += Chunk(currentText, Uuid5.ofParts(currentText, startIdx, "exact"))
      }
    }
    out.toVector
  }

  /** PARAGRAPH_BY_CHARACTERS: char windows that stretch to the next '\n\n'
    * found after `bound*size` chars; overlap appended forward
    * (worker.py:252-279). */
  def paragraphByCharacters(data: Seq[String], size: Int, overlap: Int,
                            bound: Double = 0.75): Vector[Chunk] = {
    val joined = data.mkString
    val total = joined.length
    val checkBound = (bound * size).toInt
    val out = Vector.newBuilder[Chunk]
    var startIdx = 0
    while (startIdx < total) {
      var endIdx = math.min(startIdx + size, total)
      // Python data.find('\n\n', start+bound, end): match must end ≤ end
      val found = joined.indexOf("\n\n", startIdx + checkBound)
      val nextPara = if (found != -1 && found + 2 <= endIdx) found else -1
      if (nextPara != -1) endIdx = nextPara + 2
      val text = joined.substring(startIdx, math.min(endIdx + overlap, total))
      out += Chunk(text, Uuid5.ofParts(text, startIdx, "exact"))
      startIdx = endIdx
    }
    out.result()
  }

  /** SENTENCE: regex-split sentences; oversize (tokens) falls back to
    * EXACT (worker.py:281-301). */
  def sentence(data: Seq[String], size: Int, overlap: Int,
               tok: Tokenizer = Tokenizers.default): Vector[Chunk] = {
    val sentences = SentenceSplit.split(data.mkString, -1)
    val out = new ArrayBuffer[Chunk]()
    var i = 0
    while (i < sentences.length) {
      val s = sentences(i)
      if (tok.count(s) > size) out ++= exact(Seq(s), size, overlap, tok)
      else out += Chunk(s, Uuid5.ofParts(s, i, "sentence"))
      i += 1
    }
    out.toVector
  }

  /** SENTENCE_BY_CHARACTERS: same with char length (worker.py:303-320). */
  def sentenceByCharacters(data: Seq[String], size: Int, overlap: Int): Vector[Chunk] = {
    val sentences = SentenceSplit.split(data.mkString, -1)
    val out = new ArrayBuffer[Chunk]()
    var i = 0
    while (i < sentences.length) {
      val s = sentences(i)
      if (s.length > size) out ++= exactByCharacters(Seq(s), size, overlap)
      else out += Chunk(s, Uuid5.ofParts(s, i, "sentence"))
      i += 1
    }
    out.toVector
  }

  /** Strategy dispatcher (worker.py:115-154). */
  def chunk(strategy: ChunkStrategy, data: Seq[String], size: Int, overlap: Int,
            tok: Tokenizer = Tokenizers.default): Vector[Chunk] = strategy match {
    case ChunkStrategy.Exact                 => exact(data, size, overlap, tok)
    case ChunkStrategy.ExactByCharacters     => exactByCharacters(data, size, overlap)
    case ChunkStrategy.Paragraph             => paragraph(data, size, overlap, tok = tok)
    case ChunkStrategy.ParagraphByCharacters => paragraphByCharacters(data, size, overlap)
    case ChunkStrategy.Sentence              => sentence(data, size, overlap, tok)
    case ChunkStrategy.SentenceByCharacters  => sentenceByCharacters(data, size, overlap)
    case ChunkStrategy.Custom(fn)            => validateCustom(fn(data.mkString))
  }

  /** Custom-chunker shape validation (worker.py:178-186): every chunk must
    * carry text. */
  private def validateCustom(chunks: Seq[Chunk]): Vector[Chunk] = {
    require(chunks != null, "custom chunker must return a list of chunks")
    chunks.foreach(c => require(c.text != null, "each chunk must have a 'text'"))
    chunks.toVector
  }

  /** `split_file`: lines sliced into blocks of `linesPerBatch`
    * (reference: src/api/app.py:278-281). Newlines are consumed by
    * `splitlines`, so downstream joins lose them (SURVEY §7 quirk 1). */
  def splitFile(content: String, linesPerBatch: Int = 1000): Vector[Vector[String]] =
    content.linesIterator.toVector.grouped(linesPerBatch).map(_.toVector).toVector
}
