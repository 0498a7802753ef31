package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ChunkStrategy, Chunkers}

class ChunkingSpec extends AnyFunSuite with graft.SharedSpark {

  override protected def suiteConf = Seq(
    "spark.sql.session.timeZone" -> "UTC")

  private val sfDir = "/root/testdata/sf0.001"

  test("pure-Catalyst EXACT_BY_CHARACTERS == pure-Scala chunker, per document") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val fromDf = Chunking.chunkExactByChars(docs, 256, 128)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2)).toVector).toMap
    val fromScala = docs.collect().map { r =>
      r.getLong(0) -> Chunkers.exactByCharacters(Seq(r.getString(1)), 256, 128).map(_.text)
    }.toMap
    assert(fromDf.keySet == fromScala.keySet)
    fromScala.foreach { case (id, want) => assert(fromDf(id) == want, s"doc $id") }
  }

  test("chunk generator == pure-Scala chunker, text and chunk ids") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text").limit(50)
    val fromDf = docs.select(col("doc_id"), Chunking.chunks(col("text"), ChunkStrategy.Exact, 32, 8))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getString(3))).toVector).toMap
    docs.collect().foreach { r =>
      val want = Chunkers.exact(Seq(r.getString(1)), 32, 8).map(c => (c.chunkId, c.text))
      assert(fromDf(r.getLong(0)) == want, s"doc ${r.getLong(0)}")
    }
  }

  test("p03 exact-count: every document yields ceil-window token chunk counts") {
    // exact-count gate for p03_chunk_exact_tokens: the chunk count per
    // document is a closed-form function of the tokenizer's token count
    // (windows of 32, step 24), so the full-corpus counts are pinned
    // without a DuckDB oracle
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val actual = docs.select(col("doc_id"), Chunking.chunks(col("text"), ChunkStrategy.Exact, 32, 8))
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tok = graft.core.Tokenizers.default
    var total = 0L
    docs.collect().foreach { r =>
      val n = tok.count(r.getString(1))
      val want = if (n == 0) 0L else ((n - 1) / 24 + 1).toLong
      if (want > 0) assert(actual(r.getLong(0)) == want, s"doc ${r.getLong(0)}: $n tokens")
      total += want
    }
    assert(actual.values.sum == total)
  }

  test("splitBlocks reassembles all words in order, no empty blocks") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val blocks = Chunking.splitBlocks(docs, 10).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1))).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val rows = blocks(id)
      assert(rows.map(_.getString(2)).mkString == text.replace(" ", ""), s"doc $id text")
      assert(rows.map(_.getLong(3)).sum == text.split(" ").length, s"doc $id word count")
      assert(rows.forall(_.getLong(3) > 0))
    }
  }

  test("chunking plan stays in whole-stage codegen (no UDF on the scale path)") {
    val docs = graft.Tables.documents(spark, sfDir)
    val plan = Chunking.chunkExactByChars(docs, 256, 128)
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*("), s"no codegen stage in plan:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
