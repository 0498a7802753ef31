package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar (per-dimension) 8-bit quantization for ANN — the FAISS
  * `SQ8` index family member the a-series still lacked: each dimension
  * maps linearly onto [0, 255] using the corpus min/max for that
  * dimension, so a d-dim float vector stores as d bytes (4×
  * compression; 16× vs float32 PQ's m bytes but with NO codebook
  * training and near-exact distances). Search decodes on the fly and
  * re-ranks a shortlist with exact cosine — the a09 ADC/refine shape
  * with a trivially-trained model.
  *
  * Engine-exact throughout (the a08/a09 discipline): vectors quantize
  * to integers at `scale` = 2^18 (`round(x·262144)` — the established
  * portable rounding), the per-dim (min, max) model is integer, codes
  * come from non-negative integer floor division (identical in Spark
  * `div` and DuckDB `//`), and distances live in a 255-scaled integer
  * domain — `q255 = 255·xq` vs `r255 = 255·min + code·(max−min)` —
  * so the shortlist order is a pure BIGINT comparison both engines
  * replay bit for bit. At |x| ≤ 2.8, d = 64 the worst-case distance
  * sum stays under 2^60 — inside long/BIGINT.
  *
  * Scale posture (100 TB): fit is ONE aggregate over a posexploded
  * scan (d·|partitions| partial cells, d-row result); encoding is
  * scan-local with the 2d model constants folded into the expression
  * (no join, no broadcast variable); search never touches corpus
  * floats until the refine — the compressed scan ships through the
  * bounded-heap [[graft.plans.TopKPerKey]] prune, ≤ shortlist rows per
  * query per partition; refine reads full vectors for shortlist
  * members only. */
object Sq8 {

  /** Per-dimension integer quantization bounds at `scale`. */
  final case class Model(minQ: Array[Long], maxQ: Array[Long], scale: Long)

  val Scale: Long = 1L << 18

  private def quantizedCol(vecCol: String, scale: Long): Column =
    expr(s"transform($vecCol, x -> cast(round(cast(x as double) * $scale, 0) as bigint))")

  private def asDouble(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(x as double))")

  /** Train the per-dim bounds: one posexplode + (dim) aggregate —
    * d result rows, the one bounded collect. */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
          scale: Long = Scale): Model = {
    val rows = vectors
      .filter(col(vecCol).isNotNull)
      .select(posexplode(quantizedCol(vecCol, scale)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("d"))
      .collect()
    require(rows.nonEmpty, "SQ8 needs a non-empty corpus")
    Model(rows.map(_.getLong(1)), rows.map(_.getLong(2)), scale)
  }

  /** The decoded 255-scaled reconstruction STRAIGHT from the raw
    * vector, as one element-aligned zip_with chain: per dim,
    * `code = clamp₀₂₅₅((xq − min)·255 div (max − min))` (integer floor
    * division on a non-negative numerator, so Spark `div` and DuckDB
    * `//` agree) and `r255 = 255·min + code·(max − min)`. Model
    * constants are spliced as array literals (2d integers — folded to
    * constants, not a join).
    *
    * Built as ONE expression deliberately: an earlier form computed
    * vq → codes → r255 as chained columns indexed with
    * `element_at(…, d)` inside `transform(sequence(…))` lambdas.
    * ProjectCollapse inlined each intermediate into the next lambda
    * BODY, so every element access re-evaluated the full upstream
    * transform — O(d³) interpreted lambda evaluations per row
    * (higher-order functions are CodegenFallback), measured as 124 s
    * of the 129 s a25 bench cost at sf0.1. Element-aligned zip_with
    * has no per-element array indexing to inline: one linear pass per
    * row wherever the optimizer splices it (0.7 s after the rewrite). */
  private def r255FromVec(vecCol: String, model: Model): Column = {
    val mn = model.minQ.mkString("array(", ", ", ")")
    val mx = model.maxQ.mkString("array(", ", ", ")")
    expr(
      s"""zip_with(
         |  zip_with($vecCol, $mn, (x, m) -> named_struct(
         |    'v', cast(round(cast(x as double) * ${model.scale}, 0) as bigint),
         |    'm', m)),
         |  $mx,
         |  (s, mxv) -> 255 * s.m + least(255, greatest(0,
         |    (greatest(0, s.v - s.m) * 255) div greatest(1, mxv - s.m)))
         |    * (mxv - s.m))""".stripMargin)
  }

  /** SQ8 search: integer asymmetric distance over the compressed
    * corpus → `shortlist` candidates per query → exact cosine refine →
    * top `topK`. Output (query_id, neighbor_id, score, rank) by
    * (cosine desc, id) — the a08/a09 shape. */
  def searchRefinedExact(queries: DataFrame, corpus: DataFrame, model: Model,
                         idCol: String, vecCol: String,
                         shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK, "shortlist must be at least topK")
    val compressed = corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        r255FromVec(vecCol, model).as("r255"))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"),
        expr(s"transform($vecCol, x -> 255 * cast(round(cast(x as double)" +
          s" * ${model.scale}, 0) as bigint))").as("q255"))
    val scored = compressed
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      // sq_dist_long (r13): the ADC distance runs per (corpus row ×
      // query) — the interpreted fold was the scoring stage's cost
      .withColumn("dist", graft.functions.GraftFunctions.sqDistLong(
        col("q255"), col("r255")))
      .select(col("query_id"), col("neighbor_id"), col("dist"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id"))
    // negated BIGINT distance: the bounded heap keeps top scores under
    // the native long ordering — exact at any magnitude
    val candidates = graft.plans.TopKPerKey.prune(
        scored.withColumn("neg_dist", -col("dist")),
        "query_id", "neg_dist", "neighbor_id", shortlist)
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      asDouble(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("score", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }
}
