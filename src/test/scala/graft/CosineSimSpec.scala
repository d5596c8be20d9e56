package graft

import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim

class CosineSimSpec extends SparkSuite {
  import spark.implicits._

  test("native expression matches the HOF formulation on real embeddings") {
    val emb = Tables.embeddings(spark, SF)
    val pairs = emb.as("a").join(Tables.embeddings(spark, SF).as("b"),
        col("a.vec_id") === col("b.vec_id") + 1)
      .select(col("a.vec_id").as("id"),
        cosine_sim(col("a.embedding"), col("b.embedding")).as("native"),
        HofVectors.cosine(col("a.embedding"), col("b.embedding")).as("hof"))
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("native") - r.getAs[Double]("hof")) < 1e-9,
        s"row ${r.getAs[Long]("id")}")
    }
  }

  test("codegen path actually compiles (no fallback) and handles edge shapes") {
    val df = Seq(
      (Array(1f, 2f), Array(1f, 2f)),         // identical
      (Array(0f, 0f), Array(1f, 2f)),         // zero norm
      (Array(1f, 2f, 3f), Array(1f, 2f)),     // length mismatch → shorter
      (Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    val out = df.select(cosine_sim($"a", $"b")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
    assert(math.abs(out(2) - 1.0) < 1e-12) // [1,2]·[1,2]
    assert(out(3) == 0.0)
    // null array → null result
    val withNull = Seq((Some(Array(1f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(withNull.select(cosine_sim($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("literal-probe specialization is bit-identical to the generic path") {
    // the ANN pattern: cosine_sim(embedding, lit(probe)) takes the baked-
    // probe fast path (probe values + norm computed at plan time). Pin it
    // bit-equal (==, not tolerance) to the column-vs-column generic path
    // on real embeddings, probe on either side, plus the edge shapes.
    val emb = Tables.embeddings(spark, SF).limit(200)
    val probe = emb.where($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val probeCol = array(probe.map(v => lit(v)): _*) // array<float> literal
    val viaSelf = emb.as("a")
      .join(emb.where($"vec_id" === 0).select($"embedding".as("p")))
      .select($"vec_id", cosine_sim($"embedding", $"p").as("s"))
      .as[(Long, Double)].collect().toMap
    val viaLitR = emb.select($"vec_id", cosine_sim($"embedding", probeCol).as("s"))
      .as[(Long, Double)].collect().toMap
    val viaLitL = emb.select($"vec_id", cosine_sim(probeCol, $"embedding").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(viaLitR == viaSelf, "probe-right path drifted from generic")
    assert(viaLitL == viaSelf, "probe-left path drifted from generic")
    // zero-norm literal probe → exactly 0.0; longer/shorter probe → min-length
    val edge = Seq(Array(3f, 4f)).toDF("a")
    assert(edge.select(cosine_sim($"a", array(lit(0f), lit(0f)))).as[Double].head() == 0.0)
    assert(math.abs(edge.select(cosine_sim($"a", array(lit(3f), lit(4f), lit(9f))))
      .as[Double].head() - 1.0) < 1e-12)
  }

  test("SQL registration via GraftExtensions registry entry") {
    val (name, _, builder) = graft.functions.CosineSim.registryEntry
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
    Tables.embeddings(spark, SF).limit(5).createOrReplaceTempView("emb_t")
    val out = spark.sql(
      "SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s " +
        "FROM emb_t a JOIN emb_t b ON a.vec_id = b.vec_id").collect()
    assert(out.length == 5)
    out.foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9))
  }

  test("micro-bench: native fused loop vs HOF (informational)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01").cache()
    emb.count()
    val probe = emb.where($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    val probeColF = array(probe.map(lit): _*)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    // warm both
    emb.select(sum(cosine_sim($"embedding", probeColF))).collect()
    emb.select(sum(HofVectors.cosine($"embedding", probeCol))).collect()
    val tNative = time(emb.select(sum(cosine_sim($"embedding", probeColF))).collect())
    val tHof = time(emb.select(sum(HofVectors.cosine($"embedding", probeCol))).collect())
    info(f"native=$tNative%.1f ms hof=$tHof%.1f ms (5k vectors x 64 dims)")
    emb.unpersist()
  }
}
