package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.core.ChunkStrategy
import graft.functions.ChunkGenerator

/** DataFrame-level chunking: one document row in, N chunk rows out
  * (the reference's extract→chunk stages, SURVEY.md §2.2-2.3).
  *
  *  - [[chunks]]: every strategy, `Custom` included, through the one
  *    chunk generator ([[ChunkGenerator]], also SQL's `chunk_text`).
  *    Its rows are `(chunk_seq, chunk_id, chunk_text)`; the chunkers
  *    are pure functions of (text, config), so Spark task retries are
  *    safe.
  *  - [[exactByCharsColumns]]: EXACT_BY_CHARACTERS windows (start,
  *    text, no chunk id) in pure Catalyst (`sequence` + `substring` +
  *    `explode`): whole-stage codegen, no serialization boundary.
  *    Verified byte-identical to the Scala chunker by ChunkingSpec.
  */
object Chunking {

  /** One chunk row per chunk of `text`, for use in `select`:
    * `docs.select(col("doc_id"), Chunking.chunks(col("text"), ...))`
    * adds `chunk_seq`, `chunk_id` and `chunk_text`. */
  def chunks(text: Column, strategy: ChunkStrategy, size: Int, overlap: Int): Column =
    ColumnBridge.column(ChunkGenerator(ColumnBridge.expression(text), strategy, size, overlap))

  /** EXACT_BY_CHARACTERS in pure Catalyst: window starts are
    * `sequence(0, length-1, step)` (Python `range(0, len, step)`), the
    * window text `substring(text, start+1, size)`. Stays inside
    * whole-stage codegen; scales by repartitioning documents, with no
    * shuffle introduced by the chunking itself. */
  def exactByCharsColumns(size: Int, overlap: Int): Column = {
    val step = size - overlap
    require(step > 0, s"chunk_overlap ($overlap) must be < chunk_size ($size)")
    expr(s"transform(sequence(0, length(text) - 1, $step), s -> struct(s AS start, substring(text, s + 1, $size) AS chunk_text))")
  }

  /** documents -> (doc_id, chunk_start, chunk_text) via the codegen path. */
  def chunkExactByChars(docs: DataFrame, size: Int, overlap: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(exactByCharsColumns(size, overlap)).as("c"))
      .select(col("doc_id"), col("c.start").as("chunk_start"), col("c.chunk_text"))

  /** `split_file` semantics at the DataFrame level: documents split into
    * fixed-size blocks of whitespace "lines" (the testdata documents are
    * single-line, so words stand in for lines; the reference unit is 1000
    * lines/block, src/api/app.py:278-281). Block text is the bare
    * concatenation — the reference's newline-loss quirk (SURVEY §7.1).
    * Pure Catalyst: per-row `sequence` over block indices + `slice`. */
  def splitBlocks(docs: DataFrame, perBlock: Int): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(size(words) / ${perBlock}d) as int) - 1),
             |  b -> struct(
             |    array_join(slice(words, b * $perBlock + 1, $perBlock), '') AS block_text,
             |    size(slice(words, b * $perBlock + 1, $perBlock)) AS n_words))""".stripMargin)))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("block_id"),
        col("col.block_text"),
        col("col.n_words").cast("long").as("n_words"))
}
