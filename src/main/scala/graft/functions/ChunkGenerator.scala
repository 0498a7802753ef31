package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ChunkStrategy, Chunkers}

/** The chunker as a Catalyst `Generator`: one document row in, N chunk
  * rows `(chunk_seq, chunk_id, chunk_text)` out, for any
  * [[ChunkStrategy]] including `Custom`. The DataFrame API builds it
  * with [[graft.operators.Chunking.chunks]]; SQL reaches it as a table
  * function —
  *
  * {{{
  * SELECT doc_id, c.chunk_seq, c.chunk_id, c.chunk_text
  * FROM documents
  * LATERAL VIEW chunk_text(text, 'EXACT', 32, 8) c AS chunk_seq, chunk_id, chunk_text
  * }}}
  *
  * the reference's CUSTOM-chunker UDTF surface (T1/F5, README.md:214-223)
  * exposed to SQL users. Strategy, size and overlap configure the
  * generator, they don't vary per row. Generators sit outside expression
  * codegen by design (they produce rows, not values), hence
  * CodegenFallback. A null text yields no rows.
  */
case class ChunkGenerator(text: Expression, strategy: ChunkStrategy,
                          size: Int, overlap: Int)
    extends Generator with UnaryLike[Expression] with CodegenFallback {

  override def child: Expression = text

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_seq", IntegerType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("chunk_text", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) Nil
    else Chunkers.chunk(strategy, Seq(t.toString), size, overlap).iterator.zipWithIndex.map {
      case (c, i) => InternalRow(i, UTF8String.fromString(c.chunkId), UTF8String.fromString(c.text))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(text = newChild)

  override def prettyName: String = "chunk_text"
}
