package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CuratePipelineSpec extends AnyFunSuite with graft.SharedSpark {

  test("curation funnel: quality gate, exact dedup, near-dup removal, embed") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    // plant exact duplicates (shifted ids) so the exact stage has work
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000L))
    val (vectors, report) = CuratePipeline.run(planted, minQuality = 0.2, jaccard = 0.8)

    assert(report.input == docs.count() + 20)
    assert(report.afterQuality <= report.input)
    // exactly the 20 planted copies die in the exact stage
    assert(report.afterExact == report.afterQuality - 20)
    assert(report.afterNearDup <= report.afterExact)
    assert(report.vectors > 0)
    // all records have unique deterministic ids
    assert(vectors.select("id").distinct().count() == report.vectors)
  }

  test("entry flagship returns rows (driver smoke contract)") {
    val entry = graft.SparkEntry.entry(spark)
    assert(entry.count() > 0)
    // driver-check contract: no raw array columns in declared outputs —
    // the vector is witnessed per-component (the p08 oracle explodes
    // every md5-arithmetic component to its own hash-checked row)
    assert(entry.columns.contains("chunk_md5") && entry.columns.contains("component"))
    assert(!entry.schema.exists(_.dataType.typeName == "array"))
  }
}
