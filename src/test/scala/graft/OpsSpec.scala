package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Ops

class OpsSpec extends SparkSuite {
  import spark.implicits._

  test("normalizeWs trims and collapses internal whitespace") {
    val df = Seq("  a  b ", "a\t\nb", "", "   ", "x").toDF("s")
    val out = df.select(Ops.normalizeWs($"s")).as[String].collect()
    assert(out.toSeq == Seq("a b", "a b", "", "", "x"))
  }

  test("normalizeText is idempotent") {
    val docs = Tables.documents(spark, SF)
    val once = docs.select(Ops.normalizeText($"text").as("t"))
    val twice = once.select(Ops.normalizeText($"t").as("t"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dedupFirstWins keeps exactly the first row per key under the total order") {
    val df = Seq(
      ("u1", 3L, "c"), ("u1", 1L, "a"), ("u1", 2L, "b"),
      ("u2", 5L, "x"), ("u2", 5L, "y")).toDF("k", "ord", "v")
    val out = Ops.dedupFirstWins(df, Seq("k"), Seq($"ord", $"v"))
      .orderBy("k").as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("u1", 1L, "a"), ("u2", 5L, "x")))
  }

  test("dedupFirstWins is idempotent") {
    val df = Tables.events(spark, SF)
    val once = Ops.dedupFirstWins(df, Seq("user_id"), Seq($"ts", $"event_id"))
    val twice = Ops.dedupFirstWins(once, Seq("user_id"), Seq($"ts", $"event_id"))
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).isEmpty)
  }

  test("batchAssign: 1-based contiguous batches of n, boundary exact at n/n+1") {
    val df = (1 to 501).map(i => i.toLong).toDF("id")
    val out = Ops.batchAssign(df, $"id", 500)
      .select("id", "batch_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(500L) == 1L && out(501L) == 2L)
    val sizes = Ops.batchAssign(df, $"id", 500).groupBy("batch_id").count()
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(1L -> 500L, 2L -> 1L))
  }

  test("batchAssignScalable matches windowed batchAssign on unique keys") {
    val df = Tables.customer(spark, SF).select("c_custkey", "c_name")
    val windowed = Ops.batchAssign(df, $"c_custkey", 37)
      .select("c_custkey", "batch_id")
    val scalable = Ops.runningSums(df.repartition(7), Nil, Seq("c_custkey"), "rn" -> lit(1L))
      .select($"c_custkey", expr("(rn - 1) div 37 + 1").as("batch_id"))
    assert(windowed.exceptAll(scalable).isEmpty && scalable.exceptAll(windowed).isEmpty)
  }

  test("globalRowNumberScalable matches the single-task global row_number") {
    // heavy ties on the order column (c_nationkey: 25 values over 1500
    // customers) force the tiebreak path; repartition(7) proves the rank
    // does not depend on physical layout. Negative keys, and a one-day span
    // of µs keys at a ~1.6e15 offset (the epoch-µs range of
    // q_max_concurrency), must bucket just as well.
    val customers = Tables.customer(spark, SF)
      .select($"c_nationkey".cast("long").as("k"), $"c_custkey".as("id"))
    val negative = (0L until 600L).map(i => (-(i * 7919L % 1201L), i)).toDF("k", "id")
    val daySpan = (0L until 600L)
      .map(i => (1600000000000000L + i * 7919L % 600L * 144000000L, i)).toDF("k", "id")
    for (df <- Seq(customers, negative, daySpan)) {
      val windowed = df.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"k", $"id")).cast("long"))
      val scalable = Ops.runningSums(df.repartition(7), Nil, Seq("k", "id"), "rank" -> lit(1L))
      assert(windowed.exceptAll(scalable).isEmpty && scalable.exceptAll(windowed).isEmpty)
    }
  }

  test("globalRowNumberScalable: constant order key still ranks contiguously") {
    val df = (1L to 100L).map(i => (i, 42L)).toDF("id", "k")
    val out = Ops.runningSums(df, Nil, Seq("k", "id"), "rank" -> lit(1L))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(out == (1L to 100L).map(i => i -> i).toMap)
  }

  test("scalable numbering rejects null order keys with a clear error") {
    // a null key has no position in a total order — must fail loud, never
    // silently drop or misnumber rows. Building stays lazy; the plan's
    // raise_error fails the first action.
    val df = Seq(Some(1L), None, Some(3L)).toDF("k").withColumn("v", lit(1L))
    def failure(out: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[RuntimeException](out.collect())
      assert(e.isInstanceOf[org.apache.spark.SparkThrowable] &&
        e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition == "USER_RAISED_EXCEPTION", e)
      e.getMessage
    }
    val e1 = failure(Ops.runningSums(df, Nil, Seq("k"), "cum" -> $"v"))
    assert(e1.contains("contains nulls"), e1)
    val e2 = failure(Ops.runningSums(df.withColumn("g", lit("a")), Seq("g"), Seq("k"),
      "rn" -> lit(1L)))
    assert(e2.contains("contains nulls"), e2)
  }

  test("runningSums raises its null-key error from one stage only") {
    // AQE fails a query whose stages fail together with
    // STAGE_MATERIALIZATION_MULTIPLE_FAILURES, which hides the error above;
    // one raise_error in the plan rules that out.
    val df = Seq(Some(1L), None, Some(3L)).toDF("k").withColumn("v", lit(1L))
    for (out <- Seq(Ops.runningSums(df, Nil, Seq("k"), "cum" -> $"v"),
        Ops.runningSums(df.withColumn("g", lit("a")), Seq("g"), Seq("k"), "rn" -> lit(1L)))) {
      val plan = out.queryExecution.executedPlan.toString
      assert("raise_error\\(".r.findAllMatchIn(plan).size == 1, plan)
    }
  }

  test("runningSums over a warm table builds without firing a Spark job") {
    // the bases are a plan, not driver round-trips: building the kernel,
    // global or grouped, runs nothing until an action
    val customers = Tables.customer(spark, SF).select("c_custkey", "c_nationkey")
    val (_, jobs) = jobGroupsOf("running-sums-build") {
      Ops.runningSums(customers, Nil, Seq("c_custkey"), "rn" -> lit(1L))
      Ops.runningSums(customers, Seq("c_nationkey"), Seq("c_custkey"),
        "rn" -> lit(1L), "cum" -> $"c_custkey")
    }
    assert(jobs.isEmpty, s"construction fired jobs: $jobs")
  }

  test("batchAssign covers every row exactly once") {
    val df = Tables.customer(spark, SF)
    val out = Ops.batchAssign(df, $"c_custkey", 100)
    assert(out.count() == df.count())
    assert(out.select("c_custkey").distinct().count() == df.count())
  }

  test("seededTopN is stable across runs and seed-sensitive") {
    val c = Tables.customer(spark, SF)
    val a = Ops.seededTopN(c, "c_custkey", 20).select("c_custkey").as[Long].collect()
    val b = Ops.seededTopN(c, "c_custkey", 20).select("c_custkey").as[Long].collect()
    assert(a.toSeq == b.toSeq)
    val other = Ops.seededTopN(c, "c_custkey", 20, seed = 7L)
      .select("c_custkey").as[Long].collect()
    assert(a.toSeq != other.toSeq)
  }

  test("sortedDistinct dedups, drops nulls, sorts") {
    val df = Seq(Some(3L), None, Some(1L), Some(3L), Some(2L)).toDF("k")
    val out = Ops.sortedDistinct(df, "k").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("distinctIds drops null and empty ids") {
    val df = Seq("a", "", "b", "a", null).toDF("id")
    val out = Ops.distinctIds(df, "id").as[String].collect().sorted
    assert(out.toSeq == Seq("a", "b"))
  }

  test("exactPercentiles: quantile_cont interpolation on known values") {
    // group a: [1, 2, 100] → p50 = 2, p25 = (n-1)*.25 = .5 → 1.5,
    // p90 = 1.8 → 2 + .8*(100-2) = 80.4; group b: single value
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 100.0), ("b", 7.0)).toDF("g", "v")
    val out = Ops.exactPercentiles(df, Seq("g"), "v",
        Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
      .orderBy("g").as[(String, Double, Double, Double)].collect()
    assert(out(0) == (("a", 1.5, 2.0, 80.4)))
    assert(out(1) == (("b", 7.0, 7.0, 7.0)))
  }

  test("exactPercentileBounds: raw boundary order statistics + group count") {
    // group a: [1, 2, 100] → p50 ranks lo=hi=2 → (2, 2);
    // p25: k=.5 → ranks 1,2 → (1, 2); p90: k=1.8 → ranks 2,3 → (2, 100)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 100.0), ("b", 7.0)).toDF("g", "v")
    val out = Ops.exactPercentileBounds(df, Seq("g"), "v",
        Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
      .orderBy("g")
      .select("g", "p25_lo", "p25_hi", "p50_lo", "p50_hi", "p90_lo", "p90_hi", "n")
      .as[(String, Double, Double, Double, Double, Double, Double, Long)]
      .collect()
    assert(out(0) == (("a", 1.0, 2.0, 2.0, 2.0, 2.0, 100.0, 3L)))
    assert(out(1) == (("b", 7.0, 7.0, 7.0, 7.0, 7.0, 7.0, 1L)))
  }

  test("exactPercentiles matches the built-in exact percentile aggregate") {
    val li = Tables.lineitem(spark, SF)
    val got = Ops.exactPercentiles(li, Seq("l_returnflag"), "l_extendedprice",
        Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
      .orderBy("l_returnflag")
      .selectExpr("l_returnflag", "round(p25, 6)", "round(p50, 6)", "round(p90, 6)")
      .as[(String, Double, Double, Double)].collect().toSeq
    val want = li.groupBy("l_returnflag")
      .agg(expr("round(percentile(l_extendedprice, 0.25), 6)"),
        expr("round(percentile(l_extendedprice, 0.5), 6)"),
        expr("round(percentile(l_extendedprice, 0.9), 6)"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(got == want)
  }

  test("bridge explodes array-of-struct and dedups pairs") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("alb1", Seq(Row("ar1", "A"), Row("ar1", "A"), Row("ar2", "B"))),
        Row("alb2", Seq(Row("ar1", "A"))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("album_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("artists",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("name",
                org.apache.spark.sql.types.StringType))))))))
    val out = Ops.bridge(df, "artists", Seq("album_id"), Seq("id", "name"))
      .orderBy("album_id", "id").as[(String, String, String)].collect()
    assert(out.toSeq == Seq(("alb1", "ar1", "A"), ("alb1", "ar2", "B"), ("alb2", "ar1", "A")))
  }

  test("mergeUpsert: update wins, insert added, untouched rows pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 99.0), (9L, "new", 1.0)).toDF("k", "name", "v")
    val out = Ops.mergeUpsert(base, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (9L, "new", 1.0)))
  }

  test("mergeUpsert is idempotent: re-applying the same updates is a no-op") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 99.0)).toDF("k", "name", "v")
    val once = Ops.mergeUpsert(base, updates, Seq("k"))
    val twice = Ops.mergeUpsert(once, updates, Seq("k"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("mergeUpsert: null keys never match (SQL MERGE ON semantics)") {
    val base = Seq((Option(1L), "a", 10.0), (None, "nb", 20.0))
      .toDF("k", "name", "v")
    val updates = Seq((Option.empty[Long], "nu", 99.0)).toDF("k", "name", "v")
    val out = Ops.mergeUpsert(base, updates, Seq("k"))
      .orderBy(col("k").asc_nulls_last, col("name")).collect()
    // base null-key row survives AND the null-key update inserts: 3 rows
    assert(out.length == 3)
    assert(out.map(_.getString(1)).toSeq.sorted == Seq("a", "nb", "nu"))
  }

  test("applyChangelog: a latest record with NULL op is not a delete") {
    val changes = Seq(
      (1L, Option("U"), 10.0, 1L), (1L, Option.empty[String], 11.0, 2L)
    ).toDF("k", "op", "v", "seq")
    val out = Ops.applyChangelog(changes, Seq("k"), "op", "D", Seq(col("seq")))
      .select("k", "v").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 11.0)))
  }

  test("applyChangelog: latest change wins, trailing delete removes the key") {
    val changes = Seq(
      (1L, "U", 10.0, 1L), (1L, "U", 11.0, 2L),            // latest U survives
      (2L, "U", 20.0, 1L), (2L, "D", 0.0, 2L),             // trailing D deletes
      (3L, "D", 0.0, 1L), (3L, "U", 30.0, 2L)              // D then U: resurrected
    ).toDF("k", "op", "v", "seq")
    val out = Ops.applyChangelog(changes, Seq("k"), "op", "D", Seq(col("seq")))
      .orderBy("k").select("k", "v").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 11.0), (3L, 30.0)))
  }

  test("heavyHitters: exact at the threshold, invariant to partitioning") {
    // 'hot' = 30/100 rows, 'warm' = 20/100; 50 singletons. s=5 (support
    // 20%) with the minimum legal k=5 sketch must return exactly
    // {hot, warm} no matter how the stream is split or ordered.
    val rows = Seq.fill(30)("hot") ++ Seq.fill(20)("warm") ++
      (0 until 50).map(i => s"cold_$i")
    val expected = Seq(("hot", 30L), ("warm", 20L))
    for (seed <- Seq(1, 2); parts <- Seq(1, 7, 32)) {
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val df = shuffled.toDF("k").repartition(parts)
      val out = Ops.heavyHitters(df, "k", 5, 5)
        .orderBy($"cnt".desc, $"k")
        .select("k", "cnt").as[(String, Long)].collect().toSeq
      assert(out == expected, s"seed=$seed parts=$parts -> $out")
    }
  }

  test("heavyHitters: adversarial spread — a heavy key diluted across partitions survives") {
    // each partition sees the heavy key only a few times amid local noise;
    // the averaging argument says at least one partition retains it
    val rows = (0 until 32).flatMap { p =>
      Seq.fill(4)(s"heavy") ++ (0 until 12).map(i => s"p${p}_n$i")
    } // heavy = 128/512 = 25% support
    val df = rows.toDF("k").repartition(32)
    val out = Ops.heavyHitters(df, "k", 4, 8)
      .select("k", "cnt").as[(String, Long)].collect().toSeq
    assert(out == Seq(("heavy", 128L)), out.toString)
  }
}
