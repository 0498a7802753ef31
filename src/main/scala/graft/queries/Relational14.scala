package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.Distill

/** Round-9 additions: model distillation over the curation corpus. */
object Relational14 {

  /** The q55 feature triple, shared by the batch query and its
    * engine-portable oracle: integer-exact, replace()-countable in
    * both engines, bounded so [[graft.operators.Distill]]'s
    * DECIMAL(38) posture holds to ~10⁹ docs per source.
    *  - x1: document length in 64-char units (size)
    *  - x2: letter-'e' count in 4-char units (letter-mix signal — the
    *        synthetic corpus has no punctuation, so a period count is
    *        identically zero and would make every design matrix singular)
    *  - y:  stopword occurrences (' the ', ' and ', ' of ', ' to ',
    *        ' in ' — the Gopher-style fluency signal t14/t16 filter on)
    */
  private val stopwords = Seq(" the " -> 5, " and " -> 5, " of " -> 4,
    " to " -> 4, " in " -> 4)

  private def yCountSql(t: String): String =
    stopwords.map { case (w, l) =>
      s"(length($t) - length(replace($t, '$w', ''))) div $l"
    }.mkString("(", " + ", ")")

  /** The q55/q56 feature projection, shared with the s31 streaming
    * twin (identical column algebra over a batch scan or a file
    * stream). Carries doc_id for q56's per-document serving pass;
    * the training aggregate simply never groups on it. */
  private[graft] def q55Features(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        expr("least(length(text) div 64, 511)").as("x1"),
        expr("least((length(text) - length(replace(text, 'e', ''))) div 4, 511)")
          .as("x2"),
        expr(s"least(${yCountSql("text")}, 4095)").as("y"))

  /** q55: distill the stopword-density quality signal into a per-source
    * linear model — which sources' fluency signal is explained by shape
    * (length, letter mix) alone, and which carry independent signal.
    * ONE corpus pass: sufficient statistics + in-plan Cramer solve +
    * the expanded quantized-model R² ([[graft.operators.Distill]]);
    * a production curation stack trains this distillation once per
    * source snapshot. */
  def q55QualityDistill(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Distill.olsDistill(
      q55Features(documentsParallel(spark, dir)), "source", "x1", "x2", "y")

  /** q56: SERVE the distilled model — quality anomalies. Every
    * document scores against its own source's q55 model (the
    * one-row-per-source coefficient table broadcasts onto the feature
    * scan — the t28 serving shape) and the top 5 largest absolute
    * residuals per source surface as that source's anomalies: the
    * documents whose fluency the source's shape model explains WORST,
    * which is exactly the human-review queue a curation stack drains.
    * The grouped top-k prunes through [[graft.plans.TopKPerKey]]
    * (bounded heaps, ≤ k·|sources| rows to the rank window — never a
    * full sort of the corpus). Long arithmetic throughout: |resid| ≤
    * 10⁶·4095 fits comfortably. */
  def q56QualityAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val f = q55Features(documentsParallel(spark, dir))
    val model = graft.operators.Distill.solveFromStats(
      graft.operators.Distill.suffStats(f, "source", "x1", "x2", "y"))
    val scored = f.join(
        broadcast(model.filter(col("b0_milli").isNotNull)
          .select(col("source"), col("b0_milli"), col("b1_milli"),
            col("b2_milli"))),
        Seq("source"))
      .select(col("source"), col("doc_id"),
        expr("y * 1000L - (b0_milli + b1_milli * x1 + b2_milli * x2)")
          .as("resid_milli"))
      .withColumn("abs_resid", abs(col("resid_milli")))
    val pruned = graft.plans.TopKPerKey.prune(
      scored, "source", "abs_resid", "doc_id", 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("abs_resid").desc, col("doc_id"))
    pruned.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"), col("resid_milli"))
      .orderBy(col("source"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_quality_distill" -> q55QualityDistill _,
    "q56_quality_anomalies" -> q56QualityAnomalies _)

  /** DuckDB mirror: HUGEINT sufficient statistics, the same Cramer
    * determinants, `//` on sign-decomposed operands (trunc-toward-zero
    * ≡ Spark's `div` once operands are nonnegative). The feature +
    * train CTE prefix (f → s → c → b) is shared by q55 (report the
    * models) and q56 (serve them back over f). */
  private val trainCtes: String = {
    val y = stopwords.map { case (w, l) =>
      s"(length(text) - length(replace(text, '$w', ''))) // $l"
    }.mkString("(", " + ", ")")
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    least(length(text) // 64, 511) AS x1,
       |    least((length(text) - length(replace(text, 'e', ''))) // 4, 511) AS x2,
       |    least($y, 4095) AS y
       |  FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x1) AS HUGEINT) AS sx1,
         |    CAST(sum(x2) AS HUGEINT) AS sx2,
         |    CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
         |    CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
         |    CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
         |    CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
         |  FROM f GROUP BY source),
         |c AS (
         |  SELECT source, n, sy,
         |    n   * (s11 * s22 - s12 * s12)
         |  - sx1 * (sx1 * s22 - s12 * sx2)
         |  + sx2 * (sx1 * s12 - s11 * sx2) AS det,
         |    sy  * (s11 * s22 - s12 * s12)
         |  - sx1 * (s1y * s22 - s12 * s2y)
         |  + sx2 * (s1y * s12 - s11 * s2y) AS num0,
         |    n   * (s1y * s22 - s12 * s2y)
         |  - sy  * (sx1 * s22 - s12 * sx2)
         |  + sx2 * (sx1 * s2y - s1y * sx2) AS num1,
         |    n   * (s11 * s2y - s1y * s12)
         |  - sx1 * (sx1 * s2y - s1y * sx2)
         |  + sy  * (sx1 * s12 - s11 * sx2) AS num2
         |  FROM s),
         |braw AS (
         |  SELECT source, n, sy,
         |    CASE WHEN det = 0 THEN NULL ELSE
         |      (CASE WHEN num0 * det < 0 THEN -1 ELSE 1 END)
         |        * ((abs(num0) * 1000) // abs(det)) END AS b0_milli,
         |    CASE WHEN det = 0 THEN NULL ELSE
         |      (CASE WHEN num1 * det < 0 THEN -1 ELSE 1 END)
         |        * ((abs(num1) * 1000) // abs(det)) END AS b1_milli,
         |    CASE WHEN det = 0 THEN NULL ELSE
         |      (CASE WHEN num2 * det < 0 THEN -1 ELSE 1 END)
         |        * ((abs(num2) * 1000) // abs(det)) END AS b2_milli
         |  FROM c),
         |b AS (
         |  -- ill-conditioned guard, mirroring Distill.coeffCapMilli:
         |  -- near-singular groups (huge quantized coefficients) are
         |  -- degenerate, exactly like det = 0
         |  SELECT source, n, sy,
         |    CASE WHEN abs(b0_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b1_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b2_milli) > ${Distill.coeffCapMilli}
         |      THEN NULL ELSE b0_milli END AS b0_milli,
         |    CASE WHEN abs(b0_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b1_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b2_milli) > ${Distill.coeffCapMilli}
         |      THEN NULL ELSE b1_milli END AS b1_milli,
         |    CASE WHEN abs(b0_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b1_milli) > ${Distill.coeffCapMilli}
         |           OR abs(b2_milli) > ${Distill.coeffCapMilli}
         |      THEN NULL ELSE b2_milli END AS b2_milli
         |  FROM braw)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q55_quality_distill" ->
      s"""$trainCtes,
         |r0 AS (
         |  SELECT f.source, b.n, b.b0_milli, b.b1_milli, b.b2_milli,
         |    CAST(f.y AS HUGEINT) * 1000
         |      - (b.b0_milli + b.b1_milli * f.x1 + b.b2_milli * f.x2)
         |      AS resid,
         |    CAST(f.y AS HUGEINT) * 1000 - ((b.sy * 1000) // b.n) AS dev
         |  FROM f JOIN b ON f.source = b.source),
         |r AS (
         |  SELECT source, n, b0_milli, b1_milli, b2_milli,
         |    sum(resid * resid) AS sse, sum(dev * dev) AS sst
         |  FROM r0 GROUP BY 1, 2, 3, 4, 5)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |  CAST(b0_milli AS BIGINT) AS b0_milli,
         |  CAST(b1_milli AS BIGINT) AS b1_milli,
         |  CAST(b2_milli AS BIGINT) AS b2_milli,
         |  CASE WHEN sst = 0 OR b0_milli IS NULL THEN NULL ELSE
         |    CAST(1000000 - (sse * 1000000) // sst AS BIGINT) END AS r2_ppm
         |FROM r ORDER BY source""".stripMargin,
    "q56_quality_anomalies" ->
      s"""$trainCtes,
         |scored AS (
         |  SELECT f.source, f.doc_id,
         |    CAST(f.y AS HUGEINT) * 1000
         |      - (b.b0_milli + b.b1_milli * f.x1 + b.b2_milli * f.x2)
         |      AS resid_milli
         |  FROM f JOIN b ON f.source = b.source
         |  WHERE b.b0_milli IS NOT NULL),
         |rk AS (
         |  SELECT source, doc_id, resid_milli,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY abs(resid_milli) DESC, doc_id) AS rnk
         |  FROM scored)
         |SELECT source, CAST(rnk AS INT) AS rnk, doc_id,
         |  CAST(resid_milli AS BIGINT) AS resid_milli
         |FROM rk WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin)
}
