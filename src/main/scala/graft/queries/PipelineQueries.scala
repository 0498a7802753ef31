package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.core.ChunkStrategy
import graft.operators.Chunking

/** Reference-pipeline operators as oracle-checkable queries over the
  * `documents` table: split_file blocks (P1/P2), char chunking (T3),
  * token chunking (T2, rows-only: BPE is not SQL-expressible), intake
  * filters (F1-F3), and the job/batch status ledger (A1/A4).
  */
object PipelineQueries {

  /** P1 `split_file`: fixed blocks of 10 "lines" (words — the testdata
    * documents are single-line). Block text loses separators, replicating
    * the reference's newline-loss quirk. */
  def splitBlocks(spark: SparkSession, dir: String): DataFrame =
    Chunking.splitBlocks(documentsParallel(spark, dir), perBlock = 10)
      .orderBy(col("doc_id"), col("block_id"))

  /** T3 EXACT_BY_CHARACTERS on the pure-Catalyst path: 256-char windows,
    * 128 overlap. */
  def chunkExactChars(spark: SparkSession, dir: String): DataFrame =
    Chunking.chunkExactByChars(documentsParallel(spark, dir), size = 256, overlap = 128)
      .withColumn("chunk_start", col("chunk_start").cast("long"))
      .orderBy(col("doc_id"), col("chunk_start"))

  /** T2 EXACT token windows via the chunk generator. Hash-checked: on this
    * corpus (single-space lowercase words, all under the 16-char
    * sub-piece bound) the stand-in tokenizer reduces to
    * `regexp_extract_all(text, ' ?[a-z]+')`, so DuckDB retokenizes and
    * rebuilds every 32-token / step-24 window exactly. The UUIDv5
    * chunk id is not SQL-recomputable (DuckDB has no sha1) and is
    * pinned by ChunkingSpec/golden tests instead. */
  def chunkExactTokens(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"),
        Chunking.chunks(col("text"), ChunkStrategy.Exact, size = 32, overlap = 8))
      .select(col("doc_id"), col("chunk_seq").cast("long").as("chunk_seq"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_seq"))

  /** T6 SENTENCE strategy. Hash-checked via the same tokenizer
    * reduction as p03: the corpus has no sentence terminators, so the
    * one "sentence" is the whole document — documents over 24 tokens
    * exercise the EXACT fallback (24-token windows, step 20), short
    * ones the single-sentence branch. */
  def chunkSentences(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .select(col("doc_id"),
        Chunking.chunks(col("text"), ChunkStrategy.Sentence, size = 24, overlap = 4))
      .select(col("doc_id"), col("chunk_seq").cast("long").as("chunk_seq"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_seq"))

  /** F1-F3 intake filters: size window + language predicate, projected
    * and deterministically ordered (the valid-file scan). */
  def docFilter(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .filter(col("n_chars").between(100, 500) && col("lang") =!= "zh")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** A1 `update_job_with_batch` ledger semantics: jobs = sources, batches
    * = documents; a batch deterministically "fails" when doc_id % 37 == 0.
    * Status by [[graft.pipeline.EmbedPipeline.jobStatus]]. */
  def jobLedger(spark: SparkSession, dir: String): DataFrame =
    documentsParallel(spark, dir)
      .withColumn("ok", when(col("doc_id") % 37 =!= 0, 1L).otherwise(0L))
      .groupBy(col("source").as("job_id"))
      .agg(
        count(lit(1)).as("total_batches"),
        sum(col("ok")).as("batches_succeeded"))
      .withColumn("job_status",
        graft.pipeline.EmbedPipeline.jobStatus(col("batches_succeeded"), col("total_batches")))
      .orderBy(col("job_id"))

  /** A4 status lookup: the multi-job `POST /jobs/status` projection
    * (filter + 2-column project on the ledger). */
  def jobStatusLookup(spark: SparkSession, dir: String): DataFrame =
    jobLedger(spark, dir)
      .filter(col("job_id").isin("src1", "src3", "src5"))
      .select(col("job_id"), col("job_status"))
      .orderBy(col("job_id"))

  /** The full ingestion pipeline (§3.1), FLAGSHIP, hash-checked end to
    * end: chunk (EXACT_BY_CHARACTERS 256/128) → deterministic local
    * embed → vector records. The [[graft.pipeline.Md5Embedder]] makes
    * every vector component an exact md5-arithmetic integer (the t17
    * [[graft.functions.GraftFunctions.classifierScore]] principle), and each component explodes to its
    * own row, so the oracle retokenizes the chunks AND recomputes the
    * complete vector contents in SQL — nothing is fingerprinted away.
    * The uuid5 record id alone is not SQL-recomputable (no sha1 in
    * DuckDB); EmbedPipelineSpec pins it. */
  def embedPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.EmbedPipeline.run(documentsParallel(spark, dir),
        embedder = new graft.pipeline.Md5Embedder(64))
      .toDF()
      .select(col("source_document"), md5(col("source_text")).as("chunk_md5"),
        posexplode(col("vector")))
      .select(col("source_document"), col("chunk_md5"),
        col("pos").cast("long").as("dim_k"),
        col("col").cast("long").as("component"))
      .orderBy(col("source_document"), col("chunk_md5"), col("dim_k"))

  /** p09: multimodal pipeline over synthetic payloads derived from the
    * documents table — binary header encode → mapPartitions decode
    * (header-stub path) → resize plan. Hash-checked: dimensions are
    * closed-form in doc_id and the resize scale arithmetic is mirrored
    * token-for-token in the oracle (ceil of the same IEEE double
    * product), so the full decode→plan round-trip verifies; the
    * feature-vector path is pinned by MultimodalSpec. */
  def mediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .select(col("doc_id"), col("text"))
      .map { r =>
        val text = r.getString(1)
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = java.nio.ByteBuffer.allocate(10 + body.length)
        val w = 64 + (r.getLong(0) % 1024).toInt
        b.putShort(w.toShort).putShort((w / 2).toShort).putShort(3.toShort)
          .putInt(body.length)
        b.put(body)
        Multimodal.MediaRow(r.getLong(0), "image", b.array())
      }
    Multimodal.resizePlan(Multimodal.decodeImages(media), maxSide = 256)
      .select(col("media_id"), col("width"), col("height"),
        col("out_width"), col("out_height"))
      .orderBy(col("media_id"))
  }

  /** p10: S2 PDF extraction end-to-end over the reference fixture —
    * binaryFile scan → [[graft.sources.PdfText]] per-page text. The
    * oracle is the pre-extracted per-page profile (page count, char and
    * word counts, md5), verified word-for-word against the fixture's
    * source text (test_text.txt) in PdfDocxSpec. */
  def pdfPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load("/root/reference/src/api/tests/fixtures/test_pdf.pdf")
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.PdfText.extractPages(bytes).zipWithIndex.map { case (p0, i) =>
          val p = graft.sources.PdfText.pageWithTrailingNewline(p0)
          val md = java.security.MessageDigest.getInstance("MD5")
          val h = md.digest(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          (i + 1, p.length, p.split("\\s+").count(_.nonEmpty), h)
        }
      }
      .toDF("page", "n_chars", "n_words", "page_md5")
      .orderBy(col("page"))
  }

  /** p11: S3 DOCX extraction end-to-end — the first 5 documents become
    * paragraphs of a generated .docx (zip + WordprocessingML), which is
    * then scanned with binaryFile and extracted with
    * [[graft.sources.DocxText]]; round-trip must reproduce the document
    * texts exactly (oracle: the documents table itself). */
  def docxParagraphs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val texts = documentsParallel(spark, dir)
      .orderBy(col("doc_id")).limit(5)
      .select(col("text")).collect().map(_.getString(0))
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
        texts.map(t => s"""<w:p><w:r><w:t xml:space="preserve">${esc(t)}</w:t></w:r></w:p>""").mkString +
        """</w:body></w:document>"""
    val tmp = java.nio.file.Files.createTempDirectory("graft_docx")
    val f = tmp.resolve("docs.docx")
    // JVM-exit cleanup (file first — deleteOnExit runs in reverse order)
    tmp.toFile.deleteOnExit(); f.toFile.deleteOnExit()
    val z = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    z.closeEntry(); z.close()
    spark.read.format("binaryFile").load(f.toString)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => graft.sources.DocxText.extractParagraphs(bytes).zipWithIndex
        .map { case (t, i) => (i + 1, t) })
      .toDF("paragraph", "text")
      .orderBy(col("paragraph"))
  }

  /** p12: REAL image decode through the JDK PNG codec — every 5th
    * document becomes a uniform-size PNG generated from its doc_id,
    * decoded by [[graft.operators.Multimodal.decodeImage]]; dimensions
    * and channel count round-trip exactly (oracle: closed-form over
    * doc_id). Luminance features are pinned separately in
    * MultimodalSpec. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val w = 32 + (id % 32).toInt
        val h = 16 + (id % 16).toInt
        val rgb = (((id % 256) << 16) | (((id * 2) % 256) << 8) | ((id * 3) % 256)).toInt
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRow(id, "image", bos.toByteArray)
      }
    Multimodal.decodeImages(media).toDF()
      .select(col("media_id"), col("width"), col("height"), col("channels"))
      .orderBy(col("media_id"))
  }

  /** p13: REAL WAV/PCM audio decode round-trip — synthetic integer
    * sawtooth clips (pure integer waveform, so the oracle can recompute
    * RMS/peak exactly in SQL) written as RIFF bytes, decoded by the
    * hand-rolled chunk parser. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val sr = (8000 + (id % 4) * 4000).toInt
        val n = (500 + (id % 50) * 16).toInt
        val samples = Array.tabulate(n)(i =>
          ((((i.toLong * 37 + id) % 256) - 128) * 256).toShort)
        Multimodal.MediaRow(id, "audio", Multimodal.wavPcm16(sr, 1, samples))
      }
    Multimodal.decodeAudios(media).toDF()
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels"), col("bits"), col("n_frames"), col("duration_ms"),
        round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"))
      .orderBy(col("media_id"))
  }

  /** p32: silence segmentation (VAD-style) over REAL WAV decode — the
    * audio-curation primitive that turns raw recordings into
    * speech/silence spans for sample selection: synthetic clips carry
    * 200-frame silence blocks (every third block, phase-shifted by
    * id), [[graft.operators.Multimodal.audioWindowEnergies]] decodes
    * the RIFF bytes and reports EXACT Σ s² per 160-frame window
    * (windows deliberately straddle block boundaries, so edge windows
    * carry partial energy and the threshold decision is non-trivial),
    * and gaps-and-islands over the per-media window flags emits one
    * row per segment. Integers end to end — the oracle re-derives
    * every sample arithmetically (the p13 pattern) and replays
    * windowing, threshold, and islands bit for bit. Per-media windows
    * sort inside their own partition (duration-bounded, the natural
    * key); nothing global. */
  def silenceSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val sr = (8000 + (id % 4) * 4000).toInt
        val n = (500 + (id % 50) * 16).toInt
        val samples = Array.tabulate(n) { i =>
          if (((i / 200) + id) % 3 == 0) 0.toShort
          else ((((i.toLong * 37 + id) % 256) - 128) * 256).toShort
        }
        Multimodal.MediaRow(id, "audio", Multimodal.wavPcm16(sr, 1, samples))
      }
    val win = Multimodal.audioWindowEnergies(media, 160).toDF()
      .withColumn("silent", (col("energy") < lit(655360L)).cast("int"))
    val byMedia = Window.partitionBy(col("media_id")).orderBy(col("win_id"))
    win
      .withColumn("prev", lag(col("silent"), 1).over(byMedia))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("silent"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("chg")).over(
        byMedia.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .groupBy(col("media_id"), col("seg_id"), col("silent").as("is_silent"),
        col("sample_rate"))
      .agg(min(col("win_id")).as("w0"),
        max(col("win_id") * 160L + col("n_frames")).as("end_frame"),
        count(lit(1)).as("n_windows"),
        sum(col("energy")).as("energy_total"))
      .select(col("media_id"), col("seg_id"), col("is_silent"),
        expr("(w0 * 160 * 1000) div sample_rate").as("start_ms"),
        expr("(end_frame * 1000) div sample_rate").as("end_ms"),
        col("n_windows"), col("energy_total"))
      .orderBy(col("media_id"), col("seg_id"))
  }

  /** d13: perceptual-hash image dedup — REAL decode (ImageIO PNG) →
    * 4×4 luminance-grid features → 12-bit row-difference dHash →
    * exact-hash grouping, keep-first. The synthetic images are
    * vertical-stripe gradients (pixel v = ((x+g) mod 16)², gray, pattern
    * g = (doc_id div 5) mod 25), so the ORACLE recomputes every cell sum
    * in exact integer arithmetic; adjacent-cell margins are ≥ 28 v-units
    * by construction, far above float feature rounding, so the
    * comparison bits are engine-exact. Perceptual (not byte) identity:
    * distinct g with equal stripe ORDER relations collide on purpose —
    * that is what makes it a perceptual hash. */
  def imageDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val g = ((id / 5) % 25).toInt
        val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val t = (x + g) % 16
            val v = t * t // <= 225, fits a byte
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRow(id, "image", bos.toByteArray)
      }
    val decoded = Multimodal.decodeImages(media).toDF()
    Multimodal.dHashGroups(decoded)
      .orderBy(col("kept_id"))
  }

  /** p14: sequence packing for LM training — every document's global
    * token offset, training-sequence id and in-sequence offset at
    * seqLen = 2048, via the hierarchical distributed prefix sum. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.sequencePack(
        documentsParallel(spark, dir), "doc_id", "text", seqLen = 2048)
      .orderBy(col("doc_id"))

  /** p15: REAL MP4 container-metadata parse round-trip — synthetic
    * box trees (duration/timescale/tracks derived from doc_id by pure
    * integer arithmetic, so the oracle recomputes them in SQL),
    * written by the minimal writer, parsed by the box walker. */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val ts = (1000 + (id % 10) * 100).toInt
        val dur = 30000L + id % 5000
        val tracks = Seq(("vide", (640 + (id % 64) * 2).toInt, (360 + (id % 36)).toInt)) ++
          (if (id % 2 == 0) Seq(("soun", 0, 0)) else Nil)
        Multimodal.MediaRow(id, "video", Multimodal.mp4Meta(ts, dur, tracks))
      }
    Multimodal.decodeVideoMetas(media).toDF()
      .select(col("media_id"), col("duration_ms"), col("timescale"),
        col("n_tracks"),
        col("has_video").cast("int").as("has_video"),
        col("has_audio").cast("int").as("has_audio"),
        col("width"), col("height"))
      .orderBy(col("media_id"))
  }

  /** p21: S7 presigned-URL ingestion end-to-end over the reference's
    * own fixtures as `file:` URIs (zero egress; the HTTP path is
    * exercised by UrlFetchSpec's stub server) — executor-side fetch,
    * content-not-extension MIME sniff, extractor dispatch, 1000-line
    * batching, the dead text/plain branch replicated (SURVEY §7 quirk
    * 5) and a 404 row. Oracle: pinned literal profile — the fixture
    * bytes are immutable and the generated DOCX paragraphs are fixed
    * strings. */
  /** The fixture DOCX is fully deterministic — built ONCE per JVM
    * (repeated query construction must not leak temp dirs or grow the
    * deleteOnExit registry). */
  private lazy val presignedDocxUri: String = {
    val texts = Seq("alpha beta", "gamma", "delta epsilon zeta")
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
        texts.map(t => s"""<w:p><w:r><w:t xml:space="preserve">${esc(t)}</w:t></w:r></w:p>""").mkString +
        """</w:body></w:document>"""
    val tmp = java.nio.file.Files.createTempDirectory("graft_s7")
    val f = tmp.resolve("presigned.docx")
    tmp.toFile.deleteOnExit(); f.toFile.deleteOnExit()
    val z = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    z.closeEntry(); z.close()
    f.toUri.toString
  }

  def urlFetch(spark: SparkSession, dir: String): DataFrame = {
    val fx = "file:///root/reference/src/api/tests/fixtures"
    val urls = Seq(
      s"$fx/test_text.txt", s"$fx/test_medium_text.txt",
      s"$fx/test_long_text.txt", s"$fx/test_html.html", s"$fx/test_file",
      s"$fx/test_pdf.pdf", presignedDocxUri, s"$fx/missing.txt?X-Amz-Expires=60")
    graft.sources.UrlFetch.fetchUrls(spark, urls)
      .select(col("file_name"), col("status"), col("mime_type"),
        col("n_chars"), col("n_batches"), col("error"))
      .orderBy(col("file_name"))
  }

  /** p17: vocabulary encoding + fixed-window packing — frequency-ranked
    * vocab, documents encoded to token ids, the id stream cut into
    * 128-token training sequences crossing doc boundaries (see
    * [[graft.operators.Packing.vocabEncode]]). */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.vocabEncode(
        documentsParallel(spark, dir), "doc_id", "text", seqLen = 128)
      .orderBy(col("seq_id"))

  /** p19: distributed BPE training over the corpus — 24 merges learned
    * from the word-frequency dict, emitted as the merge table (rows-only:
    * iterative training has no DuckDB twin; BpeTrainSpec pins the merge
    * sequence on the classic hand-computable corpus and the round-trip
    * through the real BPE encoder). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.trainTable(
        documentsParallel(spark, dir), "text", numMerges = 24)
      .orderBy(col("rank"))

  /** p20: the trained BPE applied back to its corpus — per-doc token
    * counts and chars-per-token compression (rows-only; BpeTrainSpec +
    * the p19 pins cover the training; the encode UDF is the real
    * engine). */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.trainEncode(
        documents(spark, dir), "doc_id", "text", numMerges = 24)
      .orderBy(col("doc_id"))

  /** p22: REAL compressed-codec header parsing round-trip — MP3 frame
    * walks, AAC/ADTS header walks, H.264 SPS geometry — over synthetic
    * streams whose parameters derive from doc_id by pure integer
    * arithmetic (the p15 pattern), so the oracle recomputes every
    * field in SQL while the Spark side actually walks the bytes.
    * Sample DATA decode for these codecs remains the documented stub;
    * headers are what a 100 TB curation pass reads. */
  def codecMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{CodecMeta, Multimodal}
    val media = documentsParallel(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .map { r =>
        val id = r.getLong(0)
        val payload = (id % 3) match {
          case 0 =>
            CodecMeta.mp3Frames(mpeg1 = true,
              bitrateIdx = (1 + (id / 3) % 14).toInt, srIdx = ((id / 3) % 3).toInt,
              mono = id % 2 == 0, nFrames = (40 + id % 20).toInt)
          case 1 =>
            CodecMeta.adtsFrames(profile = (1 + (id / 3) % 2).toInt,
              srIdx = (3 + (id / 3) % 5).toInt, chanCfg = (1 + id % 2).toInt,
              frameLen = (100 + id % 50).toInt, nFrames = (30 + id % 20).toInt)
          case _ =>
            CodecMeta.h264Sps(widthMb = (20 + id % 21).toInt,
              heightMb = (15 + id % 16).toInt, levelIdc = (10 + (id / 3) % 42).toInt)
        }
        Multimodal.MediaRow(id, "codec", payload)
      }
    CodecMeta.parseAll(media).toDF()
      .select(col("media_id"), col("codec"), col("sample_rate"), col("channels"),
        col("bitrate_kbps"), col("n_frames"), col("duration_ms"),
        col("width"), col("height"), col("profile"), col("level").as("level_idc"))
      .orderBy(col("media_id"))
  }

  /** p36: REAL compressed-sample decode round-trip — IMA/DVI ADPCM
    * (the one compressed audio codec whose full decode is public
    * formula + two small fixed tables): per selected document a mono
    * ADPCM block is built from doc_id-derived nibbles (predictor
    * `doc_id % 1000 − 500`, step index `doc_id % 89`, 16 nibbles
    * `(doc_id·7 + i·13) % 16`, packed low-nibble-first), decoded by
    * the REAL byte-path decoder ([[graft.operators.Multimodal
    * .decodeImaAdpcm]] — the same code `decodeAudio` runs on format-
    * tag-0x11 WAVs), and summarized in exact integers. The oracle
    * replays the nibble recurrence as a DuckDB recursive CTE over the
    * spliced step/index tables — sample-exact, so every decoded value
    * participates in the hash via peak/energy. MP3/AAC/H.264 sample
    * decode remains the documented stub; this closes the
    * compressed-decode gap for one real codec end to end. */
  def adpcmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documentsParallel(spark, dir).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).as[Long]
      .map(adpcmClipStats)
      .toDF("doc_id", "n_samples", "peak_abs", "energy")
      .orderBy(col("doc_id"))
  }

  /** p36/s29's shared clip step: build the doc_id-derived mono ADPCM
    * block, decode through the REAL byte-path decoder, summarize in
    * exact integers — (doc_id, n_samples, peak_abs, energy). */
  private[graft] def adpcmClipStats(id: Long): (Long, Long, Long, Long) = {
    val pred0 = (id % 1000 - 500).toInt
    val idx0 = (id % 89).toInt
    val nib = Array.tabulate(16)(i => ((id * 7 + i * 13) % 16).toInt)
    val block = new Array[Byte](12)
    block(0) = (pred0 & 0xff).toByte
    block(1) = ((pred0 >> 8) & 0xff).toByte
    block(2) = idx0.toByte
    var j = 0
    while (j < 8) {
      block(4 + j) =
        ((nib(2 * j) & 0xf) | ((nib(2 * j + 1) & 0xf) << 4)).toByte
      j += 1
    }
    val dec = graft.operators.Multimodal.decodeImaAdpcm(block, 0, 12, 1, 12)
    var peak = 0L; var energy = 0L
    dec.foreach { s =>
      if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
      energy += s.toLong * s
    }
    (id, dec.length.toLong, peak, energy)
  }

  /** p37: REAL FLAC decode round-trip — the second fully-real
    * compressed audio codec (after p36's ADPCM), and the one that
    * retires the "compressed sample decode is stubbed" class for
    * lossless audio: unlike MP3/OGG, FLAC needs no external tables
    * (LPC + Rice coding are fully parameterized in the stream). Per
    * selected document a mono clip derives from doc_id by pure integer
    * arithmetic (triangle wave + small deterministic noise — shapes
    * that exercise both the fixed-predictor and rice/escape paths),
    * is encoded to a spec-valid FLAC stream and decoded back by the
    * REAL bitstream decoder ([[graft.operators.FlacCodec]] — CRC-8/16
    * verified, STREAMINFO MD5 checked), and the DECODED samples are
    * summarized in exact integers. The oracle replays the sample
    * formula in SQL: FLAC is lossless, so decoded ≡ formula is the
    * whole-codec correctness check — any encoder or decoder defect
    * breaks the hash. FlacCodecSpec additionally pins hand-assembled
    * spec vectors (LPC, 5-bit rice, partitions, wasted bits) the
    * encoder never emits. */
  def flacDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documentsParallel(spark, dir).filter(col("doc_id") % 25 === 7)
      .select(col("doc_id")).as[Long]
      .map(flacClipStats)
      .toDF("doc_id", "sample_rate", "n_samples", "n_frames",
        "peak_abs", "energy")
      .orderBy(col("doc_id"))
  }

  /** p37's per-clip step: doc_id-derived samples → FLAC encode →
    * REAL decode → exact-integer stats over the DECODED samples. */
  private[graft] def flacClipStats(id: Long)
      : (Long, Long, Long, Long, Long, Long) = {
    val n = (64 + id % 64).toInt
    val w = (20 + id % 30).toInt
    val samples = Array.tabulate(n)(i =>
      ((i % w) * 40 - 800) + (((id * 7 + i * 13) % 16).toInt - 8))
    val rate = (8000 + (id % 8) * 1000).toInt
    val bytes = graft.operators.FlacCodec.encode(
      samples, rate, bps = 16, blockSize = 64)
    val dec = graft.operators.FlacCodec.decode(bytes)
    val out = dec.samples(0)
    var peak = 0L; var energy = 0L
    out.foreach { s =>
      if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
      energy += s.toLong * s
    }
    (id, dec.sampleRate.toLong, out.length.toLong, dec.nFrames.toLong,
      peak, energy)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p37_flac_decode"       -> flacDecode _,
    "p36_adpcm_decode"      -> adpcmDecode _,
    "p22_codec_meta"        -> codecMeta _,
    "p32_silence_segments"  -> silenceSegments _,
    "p21_url_fetch"         -> urlFetch _,
    "p20_bpe_encode"        -> bpeEncode _,
    "p19_bpe_train"         -> bpeTrain _,
    "p17_vocab_encode"      -> vocabEncode _,
    "d13_image_dedup"       -> imageDedup _,
    "p15_video_meta"        -> videoMeta _,
    "p14_sequence_pack"     -> sequencePack _,
    "p10_pdf_pages"         -> pdfPages _,
    "p11_docx_paragraphs"   -> docxParagraphs _,
    "p12_image_decode"      -> imageDecode _,
    "p13_audio_decode"      -> audioDecode _,
    "p08_embed_pipeline"    -> embedPipeline _,
    "p09_media_pipeline"    -> mediaPipeline _,
    "p01_split_blocks"      -> splitBlocks _,
    "p02_chunk_exact_chars" -> chunkExactChars _,
    "p03_chunk_exact_tokens"-> chunkExactTokens _,
    "p04_chunk_sentences"   -> chunkSentences _,
    "p05_doc_filter"        -> docFilter _,
    "p06_job_ledger"        -> jobLedger _,
    "p07_job_status_lookup" -> jobStatusLookup _)

  /** The IMA step table spliced as oracle VALUES — one definition (the
    * decoder's own array), so the replay can never drift from the code.
    * Shared with s29's streaming-monitor oracle. */
  private[graft] val imaStepVals: String =
    graft.operators.Multimodal.imaStep.zipWithIndex
      .map { case (v, i) => s"($i,$v)" }.mkString(",")

  val oracles: Map[String, String] = Map(
    // p37: the sample FORMULA is the oracle — FLAC is lossless, so the
    // Spark side's decoded-sample stats must equal the formula's
    // exactly; any defect in the encoder OR decoder (prediction, rice,
    // bit packing, CRC, framing) surfaces as a hash mismatch
    "p37_flac_decode" ->
      """WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 7),
        |s AS (SELECT doc_id, r.i AS i,
        |    CAST(((r.i % (20 + doc_id % 30)) * 40 - 800)
        |      + ((doc_id * 7 + r.i * 13) % 16 - 8) AS BIGINT) AS v
        |  FROM docs, range(127) r(i)
        |  WHERE r.i < 64 + doc_id % 64)
        |SELECT doc_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |  count(*) AS n_samples,
        |  CAST((64 + doc_id % 64 + 63) // 64 AS BIGINT) AS n_frames,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(v * v) AS BIGINT) AS energy
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p36_adpcm_decode" ->
      s"""WITH RECURSIVE docs AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
        |stepT(si, step) AS (VALUES $imaStepVals),
        |adjT(nb, adj) AS (VALUES (0,-1),(1,-1),(2,-1),(3,-1),(4,2),(5,4),(6,6),(7,8)),
        |nibs AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |    CAST((doc_id*7 + i*13) % 16 AS INT) AS nib
        |  FROM docs, range(16) r(i)),
        |dec AS (
        |  SELECT doc_id, 0 AS i,
        |    CAST(doc_id % 1000 - 500 AS INT) AS pred,
        |    CAST(doc_id % 89 AS INT) AS idx
        |  FROM docs
        |  UNION ALL
        |  SELECT d.doc_id, d.i + 1,
        |    CAST(greatest(-32768, least(32767, d.pred +
        |      CASE WHEN n.nib >= 8 THEN -1 ELSE 1 END *
        |      ((s.step // 8)
        |       + CASE WHEN (n.nib % 8) >= 4 THEN s.step ELSE 0 END
        |       + CASE WHEN (n.nib % 4) >= 2 THEN s.step // 2 ELSE 0 END
        |       + CASE WHEN (n.nib % 2) = 1 THEN s.step // 4 ELSE 0 END))) AS INT),
        |    CAST(greatest(0, least(88, d.idx + a.adj)) AS INT)
        |  FROM dec d
        |  JOIN nibs n ON n.doc_id = d.doc_id AND n.i = d.i
        |  JOIN stepT s ON s.si = d.idx
        |  JOIN adjT a ON a.nb = n.nib % 8
        |  WHERE d.i < 16)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(max(abs(pred)) AS BIGINT) AS peak_abs,
        |  CAST(sum(CAST(pred AS BIGINT) * pred) AS BIGINT) AS energy
        |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p32_silence_segments" ->
      """WITH params AS (
        |  SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sr,
        |         500 + (doc_id % 50) * 16 AS n
        |  FROM documents WHERE doc_id % 5 = 0),
        |vals AS (
        |  SELECT doc_id, sr, i // 160 AS win_id,
        |    CASE WHEN ((i // 200) + doc_id) % 3 = 0 THEN 0
        |         ELSE (((i * 37 + doc_id) % 256) - 128) * 256 END AS s
        |  FROM params, unnest(generate_series(0, n - 1)) AS t(i)),
        |w AS (
        |  SELECT doc_id, sr, win_id, count(*) AS n_frames,
        |    CAST(sum(s * s) AS BIGINT) AS energy
        |  FROM vals GROUP BY 1, 2, 3),
        |f AS (SELECT *, CASE WHEN energy < 655360 THEN 1 ELSE 0 END AS silent
        |  FROM w),
        |c AS (SELECT *,
        |  CASE WHEN lag(silent) OVER mw IS NULL
        |       OR lag(silent) OVER mw <> silent THEN 1 ELSE 0 END AS chg
        |  FROM f WINDOW mw AS (PARTITION BY doc_id ORDER BY win_id)),
        |g AS (SELECT *,
        |  CAST(sum(chg) OVER (PARTITION BY doc_id ORDER BY win_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
        |    AS seg_id
        |  FROM c)
        |SELECT doc_id AS media_id, seg_id, silent AS is_silent,
        |  (min(win_id) * 160 * 1000) // sr AS start_ms,
        |  (max(win_id * 160 + n_frames) * 1000) // sr AS end_ms,
        |  count(*) AS n_windows, CAST(sum(energy) AS BIGINT) AS energy_total
        |FROM g GROUP BY doc_id, seg_id, silent, sr
        |ORDER BY media_id, seg_id""".stripMargin,
    "p22_codec_meta" ->
      """WITH p AS (SELECT doc_id AS id, doc_id % 3 AS kind,
        |  1 + (doc_id // 3) % 14 AS br_idx, (doc_id // 3) % 3 AS mp3_sr_idx,
        |  40 + doc_id % 20 AS mp3_frames,
        |  1 + (doc_id // 3) % 2 AS aac_profile, 3 + (doc_id // 3) % 5 AS aac_sr_idx,
        |  1 + doc_id % 2 AS aac_ch, 100 + doc_id % 50 AS aac_flen,
        |  30 + doc_id % 20 AS aac_frames,
        |  (20 + doc_id % 21) * 16 AS h_w, (15 + doc_id % 16) * 16 AS h_h,
        |  10 + (doc_id // 3) % 42 AS h_level
        |  FROM documents WHERE doc_id % 5 = 0),
        |e AS (SELECT *,
        |  CASE br_idx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
        |    WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
        |    WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
        |    WHEN 13 THEN 256 ELSE 320 END AS mp3_kbps,
        |  CASE mp3_sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS mp3_sr,
        |  CASE aac_sr_idx WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
        |    WHEN 6 THEN 24000 ELSE 22050 END AS aac_sr
        |  FROM p)
        |SELECT id AS media_id,
        |  CASE kind WHEN 0 THEN 'mp3' WHEN 1 THEN 'aac' ELSE 'h264' END AS codec,
        |  CAST(CASE kind WHEN 0 THEN mp3_sr WHEN 1 THEN aac_sr ELSE 0 END AS INT) AS sample_rate,
        |  CAST(CASE kind WHEN 0 THEN (CASE WHEN id % 2 = 0 THEN 1 ELSE 2 END)
        |       WHEN 1 THEN aac_ch ELSE 0 END AS INT) AS channels,
        |  CAST(CASE kind WHEN 0 THEN mp3_kbps
        |       WHEN 1 THEN (aac_flen * aac_frames * 8 * aac_sr) // (aac_frames * 1024 * 1000)
        |       ELSE 0 END AS INT) AS bitrate_kbps,
        |  CAST(CASE kind WHEN 0 THEN mp3_frames WHEN 1 THEN aac_frames ELSE 0 END AS BIGINT) AS n_frames,
        |  CAST(CASE kind WHEN 0 THEN (mp3_frames * 1152 * 1000) // mp3_sr
        |       WHEN 1 THEN (aac_frames * 1024 * 1000) // aac_sr
        |       ELSE 0 END AS BIGINT) AS duration_ms,
        |  CAST(CASE kind WHEN 2 THEN h_w ELSE 0 END AS INT) AS width,
        |  CAST(CASE kind WHEN 2 THEN h_h ELSE 0 END AS INT) AS height,
        |  CAST(CASE kind WHEN 0 THEN 0 WHEN 1 THEN aac_profile ELSE 66 END AS INT) AS profile,
        |  CAST(CASE kind WHEN 2 THEN h_level ELSE 0 END AS INT) AS level_idc
        |FROM e ORDER BY media_id""".stripMargin,
    "d13_image_dedup" ->
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id // 5) % 25 AS g
        |  FROM documents WHERE doc_id % 5 = 0),
        |cells AS (
        |  SELECT i.doc_id, (x // 4) AS cx,
        |         sum(((x + g) % 16) * ((x + g) % 16)) AS s
        |  FROM imgs i, generate_series(0, 15) t(x)
        |  GROUP BY i.doc_id, (x // 4)),
        |bits AS (
        |  SELECT a.doc_id,
        |    CAST(sum(CASE WHEN a.s > b.s
        |      THEN (CAST(1 AS BIGINT) << (cy * 3 + CAST(a.cx AS INT))) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM cells a
        |  JOIN cells b ON a.doc_id = b.doc_id AND b.cx = a.cx + 1,
        |       generate_series(0, 3) r(cy)
        |  GROUP BY a.doc_id)
        |SELECT dhash, min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM bits GROUP BY dhash ORDER BY kept_id""".stripMargin,
    "p10_pdf_pages" ->
      """SELECT * FROM (VALUES
        |(1, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(2, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(3, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(4, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(5, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(6, 2104, 323, '2dff835c0e138d4fe46a95d7df34735d'),
        |(7, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(8, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(9, 2104, 323, '2cba39c48b87024853339fa01cc23063'),
        |(10, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(11, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(12, 2104, 323, '7c32004396787c482072cff61befcc1f'),
        |(13, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(14, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(15, 2104, 323, '80af39404b0398e72d8e9a5f1af2fec3'),
        |(16, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(17, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(18, 2104, 323, 'dbf516bc90e86bd177cecf629a5847c8'),
        |(19, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(20, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(21, 2104, 323, '721f6177a6014e61a7da7b5276aa5394'),
        |(22, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(23, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(24, 2104, 323, '738e4df0d24ed76ea4ef43a5a3f5f87f'),
        |(25, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(26, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(27, 2104, 323, 'e99313785222921dc55717e0a0caf254'),
        |(28, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(29, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(30, 2104, 323, 'b04a5a1e34178b2eb4310d50d1b98ee6'),
        |(31, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(32, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(33, 2104, 323, 'df501c9575334c54b757b519df22b545'),
        |(34, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(35, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(36, 2104, 323, 'a6cee80309de6c2254594f1295b92ea4'),
        |(37, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(38, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(39, 2104, 323, 'b7d6e4440c8022b32cf0a858f45552a7'),
        |(40, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(41, 2106, 324, '6697a22bf56a066f2e4b476323c7a7b5'),
        |(42, 1014, 156, '63566c29fb249d95dcfc7a9a7b2a62fa')
        |) AS t(page, n_chars, n_words, page_md5) ORDER BY page""".stripMargin,
    "p11_docx_paragraphs" ->
      """SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS paragraph, text
        |FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 5)
        |ORDER BY paragraph""".stripMargin,
    "p09_media_pipeline" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CAST(64 + doc_id % 1024 AS INT) AS width,
        |         CAST((64 + doc_id % 1024) // 2 AS INT) AS height
        |  FROM documents),
        |s AS (SELECT *, least(CAST(1 AS DOUBLE),
        |        256 / CAST(greatest(width, height) AS DOUBLE)) AS scale
        |      FROM m)
        |SELECT media_id, width, height,
        |  CAST(ceil(width * scale) AS INT) AS out_width,
        |  CAST(ceil(height * scale) AS INT) AS out_height
        |FROM s ORDER BY media_id""".stripMargin,
    "p21_url_fetch" ->
      """SELECT file_name, CAST(status AS INT) AS status, mime_type,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_batches AS BIGINT) AS n_batches, error
        |FROM (VALUES
        |('missing.txt', 404, '', 0, NULL, 'Failed to download file'),
        |('presigned.docx', 200, 'application/vnd.openxmlformats-officedocument.wordprocessingml.document', 35, 1, ''),
        |('test_file', 200, 'text/plain', 3956, NULL, 'DEAD_BRANCH'),
        |('test_html.html', 400, 'text/html', 0, NULL, 'Uploaded file is not a TXT, PDF, HTML or DOCX file'),
        |('test_long_text.txt', 200, 'text/plain', 900000, NULL, 'DEAD_BRANCH'),
        |('test_medium_text.txt', 200, 'text/plain', 10552, NULL, 'DEAD_BRANCH'),
        |('test_pdf.pdf', 200, 'application/pdf', 87336, 3, ''),
        |('test_text.txt', 200, 'text/plain', 85107, NULL, 'DEAD_BRANCH')
        |) AS t(file_name, status, mime_type, n_chars, n_batches, error)
        |ORDER BY file_name""".stripMargin,
    "p19_bpe_train" ->
      s"""WITH raw(sf_n, rank, l, r, merged, weight) AS (
        |  SELECT 500, * FROM (VALUES ${OraclePins.merges500})
        |  UNION ALL SELECT 5000, * FROM (VALUES ${OraclePins.merges5000}))
        |SELECT CAST(rank AS BIGINT) AS rank, l AS "left", r AS "right",
        |       merged, CAST(weight AS BIGINT) AS weight
        |FROM raw WHERE sf_n = (SELECT count(*) FROM documents)
        |ORDER BY rank""".stripMargin,
    "p20_bpe_encode" ->
      s"""WITH pins(sf_n, csv) AS (VALUES
        |  (500, '${OraclePins.bpe500}'),
        |  (5000, '${OraclePins.bpe5000}')),
        |sel AS (SELECT string_split(csv, ',') AS s FROM pins
        |  WHERE sf_n = (SELECT count(*) FROM documents)),
        |nb AS (SELECT i - 1 AS doc_id, CAST(s[i] AS INT) AS n_bpe
        |  FROM sel, unnest(generate_series(1, len(s))) AS t(i))
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  CAST(n.n_bpe AS BIGINT) AS n_bpe_tokens,
        |  CASE WHEN n.n_bpe = 0 THEN 0.0
        |  ELSE CAST((2 * length(d.text) * 1000000 + n.n_bpe) // (2 * n.n_bpe) AS DOUBLE) / 1e6
        |  END AS chars_per_token
        |FROM documents d JOIN nb n USING (doc_id) ORDER BY doc_id""".stripMargin,
    "p12_image_decode" ->
      """SELECT doc_id AS media_id,
        |CAST(32 + doc_id % 32 AS INT) AS width,
        |CAST(16 + doc_id % 16 AS INT) AS height,
        |CAST(3 AS INT) AS channels
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY media_id""".stripMargin,
    "p15_video_meta" ->
      """SELECT doc_id AS media_id,
        |((30000 + doc_id % 5000) * 1000) // (1000 + (doc_id % 10) * 100) AS duration_ms,
        |1000 + (doc_id % 10) * 100 AS timescale,
        |CAST(1 + CAST(doc_id % 2 = 0 AS INT) AS INT) AS n_tracks,
        |CAST(1 AS INT) AS has_video,
        |CAST(doc_id % 2 = 0 AS INT) AS has_audio,
        |CAST(640 + (doc_id % 64) * 2 AS INT) AS width,
        |CAST(360 + doc_id % 36 AS INT) AS height
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY media_id""".stripMargin,
    "p17_vocab_encode" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM w),
        |off AS (SELECT doc_id, CAST(coalesce(sum(n) OVER (ORDER BY doc_id, n
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
        |  FROM t),
        |vocab AS (SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS id
        |  FROM (SELECT word, count(*) AS cnt
        |    FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1)),
        |pos AS (SELECT doc_id, i, ws[i] AS word
        |  FROM w, unnest(generate_series(1, len(ws))) AS tt(i)),
        |enc AS (SELECT o.start_token + p.i - 1 AS idx, v.id
        |  FROM pos p JOIN off o USING (doc_id) JOIN vocab v USING (word))
        |SELECT idx // 128 AS seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(id) AS BIGINT) AS sum_id,
        |  arg_min(id, idx) AS first_id, arg_max(id, idx) AS last_id
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,
    "p14_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token,
        |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS seq_id,
        |CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 2048 AS BIGINT) AS seq_offset
        |FROM t ORDER BY doc_id""".stripMargin,
    "p13_audio_decode" ->
      """WITH params AS (
        |  SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sample_rate,
        |         500 + (doc_id % 50) * 16 AS n_frames
        |  FROM documents WHERE doc_id % 5 = 0),
        |vals AS (
        |  SELECT doc_id, sample_rate, n_frames,
        |         (((i * 37 + doc_id) % 256) - 128) * 256 AS s
        |  FROM params, unnest(generate_series(0, n_frames - 1)) AS t(i))
        |SELECT doc_id AS media_id, sample_rate,
        |CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
        |n_frames, (n_frames * 1000) // sample_rate AS duration_ms,
        |round(sqrt(sum(CAST(s AS DOUBLE) * s) / n_frames) / 32768.0, 6) AS rms,
        |round(max(abs(s)) / 32768.0, 6) AS peak
        |FROM vals GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY media_id""".stripMargin,
    "p01_split_blocks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words,
        |      unnest(generate_series(0, CAST(ceil(len(words)/10.0) AS BIGINT) - 1)) AS i
        |      FROM w)
        |SELECT doc_id, i AS block_id,
        |array_to_string(words[i*10+1 : i*10+10], '') AS block_text,
        |CAST(len(words[i*10+1 : i*10+10]) AS BIGINT) AS n_words
        |FROM b ORDER BY doc_id, block_id""".stripMargin,
    "p02_chunk_exact_chars" ->
      """WITH starts AS (SELECT doc_id, text,
        |      unnest(generate_series(0, length(text) - 1, 128)) AS s
        |      FROM documents)
        |SELECT doc_id, s AS chunk_start,
        |substring(text, CAST(s + 1 AS INT), 256) AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_start""".stripMargin,
    "p03_chunk_exact_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, ' ?[a-z]+') AS tk
        |  FROM documents)
        |SELECT doc_id, s // 24 AS chunk_seq,
        |       array_to_string(tk[s + 1 : s + 32], '') AS chunk_text
        |FROM toks, unnest(generate_series(0, len(tk) - 1, 24)) AS t(s)
        |ORDER BY doc_id, chunk_seq""".stripMargin,
    "p04_chunk_sentences" ->
      """WITH toks AS (
        |  SELECT doc_id, text, regexp_extract_all(text, ' ?[a-z]+') AS tk
        |  FROM documents)
        |SELECT doc_id, s // 20 AS chunk_seq,
        |       array_to_string(tk[s + 1 : s + 24], '') AS chunk_text
        |FROM toks, unnest(generate_series(0, len(tk) - 1, 20)) AS t(s)
        |WHERE len(tk) > 24
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT) AS chunk_seq, text AS chunk_text
        |FROM toks WHERE len(tk) <= 24
        |ORDER BY doc_id, chunk_seq""".stripMargin,
    "p08_embed_pipeline" ->
      """WITH chunks AS (
        |  SELECT source AS source_document,
        |         substring(text, CAST(s + 1 AS INT), 256) AS ct
        |  FROM documents,
        |       unnest(generate_series(0, length(text) - 1, 128)) AS t(s)),
        |comp AS (
        |  SELECT source_document, md5(ct) AS chunk_md5, k AS dim_k,
        |    ('0x' || substr(md5(ct || ':' || k), 1, 8))::BIGINT % 2001 - 1000
        |      AS component
        |  FROM chunks, unnest(generate_series(0, 63)) AS t2(k))
        |SELECT source_document, chunk_md5, CAST(dim_k AS BIGINT) AS dim_k,
        |       CAST(component AS BIGINT) AS component
        |FROM comp ORDER BY source_document, chunk_md5, dim_k""".stripMargin,
    "p05_doc_filter" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars BETWEEN 100 AND 500 AND lang <> 'zh'
        |ORDER BY doc_id""".stripMargin,
    "p06_job_ledger" ->
      """SELECT source AS job_id, count(*) AS total_batches,
        |CAST(sum(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS batches_succeeded,
        |CASE WHEN sum(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) = count(*) THEN 'COMPLETED'
        |     WHEN sum(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) > 0 THEN 'PARTIALLY_COMPLETED'
        |     ELSE 'FAILED' END AS job_status
        |FROM documents GROUP BY source ORDER BY job_id""".stripMargin,
    "p07_job_status_lookup" ->
      """SELECT source AS job_id,
        |CASE WHEN sum(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) = count(*) THEN 'COMPLETED'
        |     WHEN sum(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) > 0 THEN 'PARTIALLY_COMPLETED'
        |     ELSE 'FAILED' END AS job_status
        |FROM documents WHERE source IN ('src1','src3','src5')
        |GROUP BY source ORDER BY job_id""".stripMargin)
}
