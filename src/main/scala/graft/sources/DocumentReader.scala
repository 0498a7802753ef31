package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File intake: the reference's upload/extract surface (SURVEY §2.1)
  * restated as one `binaryFile` scan + format dispatch.
  *
  * Reference semantics replicated:
  *  - extension whitelist .txt .docx .pdf .md .html (F1, app.py:291-296);
  *  - unknown extension → sniff: UTF-8-decode the first 1 KB, treat as
  *    text if it decodes (S6, app.py:297-310);
  *  - 25 MB size cap (F2, app.py:53-59);
  *  - empty files skipped but counted (F3, app.py:94-97);
  *  - duplicate filenames within one intake counted, first kept (F7,
  *    app.py:103-105);
  *  - HTML "parsing" is Python `repr()` of the decoded string — no tag
  *    stripping (S5 quirk, app.py:245-247) — replicated behind
  *    `faithfulHtml=true`, with a sensible text-extraction fallback
  *    otherwise;
  *  - intake accounting via `observe()` (A3) instead of driver loops.
  *
  * PDF (S2) extraction runs [[PdfText]] (JDK-only Flate + text-operator
  * interpreter, pages concatenated like extract.py:93-97); DOCX (S3)
  * runs [[DocxText]] (zip + StAX over word/document.xml, paragraphs
  * joined with \n like extract.py:74-76). Both degrade to a marked
  * placeholder string on undecodable input instead of failing the scan
  * (the reference fails the whole job on a parse error; at 100 TB a
  * poison file must not kill the batch — failures stay countable via
  * the placeholder prefix).
  */
object DocumentReader {

  final val MaxFileBytes: Long = 25L * 1024 * 1024
  final val ValidExtensions = Seq(".txt", ".docx", ".pdf", ".md", ".html")

  /** Scan a directory of files into (path, name, ext, size, content). */
  def scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        col("path"),
        element_at(split(col("path"), "/"), -1).as("source_filename"),
        extension(col("path")).as("ext"),
        col("length").as("size_bytes"),
        col("content"))

  /** The extension of `path` with its dot, lowercased in ASCII only:
    * every extension the whitelist and the format dispatch name is
    * ASCII, and Spark's `lower` loads ICU case mapping on its first use
    * in a JVM, a cold start the intake does not need. */
  private[sources] def extension(path: Column): Column =
    translate(regexp_extract(path, "(\\.[^./]+)$", 1),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** S6: a file with an unknown extension is text iff its first 1 KB
    * decodes as UTF-8. */
  private val sniffUtf8 = udf { (content: Array[Byte]) =>
    if (content == null) false
    else {
      val head = java.util.Arrays.copyOf(content, math.min(content.length, 1024))
      val dec = StandardCharsets.UTF_8.newDecoder()
      try { dec.decode(java.nio.ByteBuffer.wrap(head)); true }
      catch { case _: java.nio.charset.CharacterCodingException => false }
    }
  }

  /** F1+S6 predicate. */
  def isValidType(ext: Column, content: Column): Column =
    ext.isin(ValidExtensions: _*) || sniffUtf8(content)

  /** Python `repr()` of a string (the reference's HTML "extraction"):
    * quotes plus escaped backslashes/newlines/CR/tab; chooses double
    * quotes when the text contains a single quote but no double quote. */
  def pythonRepr(s: String): String = {
    val useDouble = s.contains('\'') && !s.contains('"')
    val q = if (useDouble) '"' else '\''
    val b = new StringBuilder(s.length + 8)
    b.append(q)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c == q => b.append('\\').append(c)
      case c if c < ' ' => b.append(f"\\x${c.toInt}%02x")
      case c => b.append(c)
    }
    b.append(q).result()
  }

  /** Per-page PDF extraction via [[PdfText]]; a PDF that yields no text
    * at all (encrypted, image-only, unsupported filters) degrades to a
    * marked placeholder so poison files stay countable, not fatal. */
  private[sources] def extractPdf(bytes: Array[Byte]): String =
    try {
      val t = PdfText.extractText(bytes)
      if (t.nonEmpty) t else s"[pdf:unextractable:${bytes.length} bytes]"
    } catch { case scala.util.control.NonFatal(_) =>
      s"[pdf:unextractable:${bytes.length} bytes]"
    }

  /** DOCX paragraphs joined with \n via [[DocxText]]. */
  private[sources] def extractDocx(bytes: Array[Byte]): String =
    try {
      val t = DocxText.extractText(bytes)
      if (t.nonEmpty) t else s"[docx:unextractable:${bytes.length} bytes]"
    } catch { case scala.util.control.NonFatal(_) =>
      s"[docx:unextractable:${bytes.length} bytes]"
    }

  /** Format dispatch (the extractor's parse-by-format switch,
    * extract.py:65-100). `markdownSections=false` is the API `/embed`
    * raw-read branch (app.py:236-243); `true` is the extractor branch's
    * MarkdownReader section split (extract.py:78-88). */
  def extractText(faithfulHtml: Boolean = true,
                  markdownSections: Boolean = false): (Array[Byte], String) => String = {
    (bytes, ext) =>
      if (bytes == null) null
      else ext match {
        case ".pdf" => extractPdf(bytes)
        case ".docx" => extractDocx(bytes)
        case ".md" if markdownSections =>
          MarkdownText.extractText(new String(bytes, StandardCharsets.UTF_8))
        case ".html" =>
          val s = new String(bytes, StandardCharsets.UTF_8)
          if (faithfulHtml) pythonRepr(s) // S5 quirk: repr(), no stripping
          else s.replaceAll("(?s)<[^>]*>", " ").replaceAll("\\s+", " ").trim
        case _ => new String(bytes, StandardCharsets.UTF_8) // .txt / .md / sniffed
      }
  }

  /** Full intake: scan → validity/size/empty filters → dedup by filename
    * (first wins) → text extraction. Rejection/dedup counts are observed
    * metrics on the returned frame (read them from `QueryExecution
    * .observedMetrics("intake")` after an action). */
  def intake(spark: SparkSession, dir: String, faithfulHtml: Boolean = true): DataFrame = {
    val extractUdf = udf(extractText(faithfulHtml))
    scan(spark, dir)
      .observe("intake",
        count(lit(1)).as("files_seen"),
        sum(when(col("size_bytes") === 0, 1L).otherwise(0L)).as("empty_files"),
        sum(when(col("size_bytes") > MaxFileBytes, 1L).otherwise(0L)).as("oversize_files"),
        sum(when(!isValidType(col("ext"), col("content")), 1L).otherwise(0L)).as("invalid_type_files"))
      .filter(col("size_bytes") > 0 && col("size_bytes") <= MaxFileBytes)
      .filter(isValidType(col("ext"), col("content")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source_filename")).orderBy(col("path"))))
      .filter(col("rn") === 1).drop("rn")
      .select(
        abs(xxhash64(col("path"))).as("doc_id"),
        col("source_filename").as("source"),
        extractUdf(col("content"), col("ext")).as("text"))
  }
}
