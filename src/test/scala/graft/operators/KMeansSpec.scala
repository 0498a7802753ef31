package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite with graft.SharedSpark {

  test("k-means separates two well-separated blobs") {
    import spark.implicits._
    // blob A around (10, 10), blob B around (-10, -10), tiny jitter
    val pts = (0 until 40).map { i =>
      val (cx, cy) = if (i % 2 == 0) (10f, 10f) else (-10f, -10f)
      (i.toLong, Array(cx + (i % 5) * 0.1f, cy - (i % 3) * 0.1f))
    }
    val df = pts.toDF("id", "v")
    val (assigned, centroids) = KMeans.fit(df, "id", "v", k = 2, iterations = 4)
    val byCluster = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val clusterOfEven = byCluster(0L)
    pts.foreach { case (id, _) =>
      val expected = if (id % 2 == 0) clusterOfEven else 1 - clusterOfEven
      assert(byCluster(id) == expected, s"point $id misclustered")
    }
    // centroids land near the blob centers
    val cs = centroids.map(c => (math.round(c(0) / 10.0) * 10, math.round(c(1) / 10.0) * 10)).toSet
    assert(cs == Set((10L, 10L), (-10L, -10L)))
  }

  test("local-regime fit ≡ distributed fit, bit for bit (r13)") {
    // the r13 local regime (bounded collect + driver Lloyd's) must
    // reproduce the distributed trainer exactly: same init, same
    // argmin tie-breaks, same decimal(28,10)-quantized means with the
    // 9-digit HALF_UP round. Awkward doubles on purpose — values with
    // long decimal expansions exercise the quantization; k=8 over 60
    // rows leaves some clusters empty across iterations (the
    // keep-previous-centroid path)
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    def run(): (Seq[(Long, Int)], Seq[Seq[Double]]) = {
      val (a, c) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 3)
      (a.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq,
        c.map(_.toSeq).toSeq)
    }
    val (aL, cL) = run() // default cap: local regime
    spark.conf.set("spark.graft.trainer.localFitMaxValues", "1")
    val (aD, cD) = try run() // cap 1 value: distributed path
    finally spark.conf.unset("spark.graft.trainer.localFitMaxValues")
    assert(cL === cD)
    assert(aL === aD)
    // and on an awkward-decimals fixture
    val pts = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(6)(j =>
        math.sin(i * 37 + j) * 0.123456789012345 + (i % 7) * 0.3))
    }
    val df = pts.toDF("id", "v")
    val cL2 = KMeans.fit(df, "id", "v", k = 8, iterations = 3)._2.map(_.toSeq).toSeq
    spark.conf.set("spark.graft.trainer.localFitMaxValues", "1")
    val cD2 = try KMeans.fit(df, "id", "v", k = 8, iterations = 3)._2.map(_.toSeq).toSeq
    finally spark.conf.unset("spark.graft.trainer.localFitMaxValues")
    assert(cL2 === cD2)
  }

  test("k-means is deterministic across runs") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (a1, c1) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 3)
    val (a2, c2) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 3)
    assert(a1.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      a2.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("fixed-point assignExact/assignTopPExact agree with the double surfaces") {
    // the a08/d12 oracle path quantizes to 2^20 fixed point; on this
    // corpus (list boundaries far wider than a quantization ulp) the
    // integer argmin must agree with the double argmin, and the p=1
    // multi-probe must degenerate to the single assignment
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (_, centroids) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 2)
    val centroidsQ = centroids.map(_.map(x => math.round(x * 1048576.0)))
    val dbl = KMeans.assign(e, "vec_id", "embedding", centroids)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val exact = KMeans.assignExact(e, "vec_id", "embedding", centroidsQ)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(exact === dbl)
    val p1 = KMeans.assignTopPExact(e, "vec_id", "embedding", centroidsQ, p = 1)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(p1 === exact)
    // multi-probe emits p rows per vector, first probe = the assignment
    val p3 = KMeans.assignTopPExact(e, "vec_id", "embedding", centroidsQ, p = 3)
    assert(p3.count() === 3 * e.count())
  }

  test("assignment UDF evaluates ONCE per row under a downstream join " +
      "(no isnotnull pushdown duplicate)") {
    // r11 verdict #1: a deterministic assignment UDF + an equi-join on
    // `cluster` made InferFiltersFromConstraints push isnotnull(UDF)
    // below the Project — the k·dim distance scan ran twice per row in
    // a08/a36. The UDFs are marked nondeterministic to block that; pin
    // the plan shape so a future revert fails here, not in a plan dump
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val cq = Array(Array(0L, 0L), Array(1048576L, 1048576L))
    val assigned = KMeans.assignExact(e, "vec_id", "embedding", cq)
    val dim = Seq((0, "a"), (1, "b")).toDF("cluster", "tag")
    val joined = assigned.join(dim, "cluster")
    val p = joined.queryExecution.executedPlan.toString
    assert("UDF".r.findAllIn(p).length == 1,
      s"assignment UDF must appear exactly once in the plan:\n$p")
    assert(!p.contains("isnotnull(UDF"),
      s"the join null-guard must not duplicate the UDF:\n$p")
    assert(joined.count() > 0)
  }

  test("matrix scorer at k=256 matches local brute-force argmin") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    // 256 deterministic "centroids" from the data itself — at this k the
    // old per-centroid-column form was past its codegen ceiling
    val centroids = e.orderBy(col("vec_id")).limit(256)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .collect().map(_.getSeq[Double](0).toArray)
    assert(centroids.length == 256)
    val assigned = KMeans.assign(e, "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    vecs.foreach { case (id, v) =>
      var best = 0; var bestD = Double.MaxValue
      centroids.zipWithIndex.foreach { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
      }
      assert(assigned(id) == best, s"vec $id: got ${assigned(id)}, want $best")
    }
  }

  test("multi-probe IVF: recall rises with probes; full probe == brute force") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (_, centroids) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 2)
    val corpus = KMeans.assign(e, "vec_id", "embedding", centroids)
    val queries = e.filter(col("vec_id") < 3)
    def top(p: Int) = Similarity.ivfTopK(
        KMeans.assignTopP(queries, "vec_id", "embedding", centroids, p),
        corpus, "vec_id", "embedding", "cluster", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = top(1); val p3 = top(3); val pAll = top(8)
    assert(p1.intersect(brute).size <= p3.intersect(brute).size,
      "more probes must not lower recall")
    assert(pAll == brute, "probing every list must equal brute force")
  }

  test("trained lists drive the IVF probe end to end") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (_, centroids) = KMeans.fit(e, "vec_id", "embedding", k = 8, iterations = 2)
    val corpus = KMeans.assign(e, "vec_id", "embedding", centroids)
    val queries = corpus.filter(col("vec_id") < 3)
    val topk = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", "cluster", k = 5)
    assert(topk.count() == 15)
    // every neighbor shares the query's trained list
    val cl = corpus.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    topk.collect().foreach(r => assert(cl(r.getLong(0)) == cl(r.getLong(1))))
  }
}
