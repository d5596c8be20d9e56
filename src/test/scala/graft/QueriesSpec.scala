package graft

import org.apache.spark.sql.functions._

/** Smoke + invariant checks for every declared query on sf0.001.
  * (Exact value equality vs DuckDB is the driver's job; these assert the
  * invariants that the oracle can't — plan shape, approx bounds, stability.) */
class QueriesSpec extends SparkSuite {
  import spark.implicits._

  test("every declared query runs and returns rows on sf0.001") {
    // tiny sf0.001: the 2% jaccard sample may have no similar pair, and every
    // customer happens to have at least one returned lineitem (EXCEPT → ∅).
    val allowedEmpty = Set("q_ngram_jaccard", "q_set_ops")
    Queries.all.foreach { case (name, fn) =>
      // collect, not count(): count() lets Catalyst prune projected columns,
      // so an output expression that throws would go unevaluated.
      val n = fn(spark, SF).collect().length
      assert(n >= 0, s"$name failed")
      if (!allowedEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every declared query is run-to-run deterministic") {
    // The oracle hash-match depends on this; catches partition-order leaks
    // (bare dropDuplicates winners, unordered collect_list in outputs).
    Queries.all.foreach { case (name, fn) =>
      val a = fn(spark, SF)
      val b = fn(spark, SF)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name differs between two runs")
    }
  }

  test("groupedCumByValue == single flag-keyed running-sum window (r17 two-phase split)") {
    // the q_weighted_median / q_trimmed_mean / q_iqr_outliers cum, grouped
    // runningSums plus the broadcast group total: bucket bases +
    // (group, bucket)-local windows must reproduce the naive group-wide
    // inclusive running sum exactly, including values far apart in one
    // group (one bucket each) and a single-value group
    val vc = Seq(
      ("A", 1L, 3L), ("A", 65535L, 2L), ("A", 65536L, 5L), ("A", 131072L, 1L),
      ("A", 900000L, 4L), ("B", 7L, 10L), ("B", 65536L * 3, 2L), ("C", 42L, 9L),
    ).toDF("flag", "v", "wt")
    val got = graft.operators.Ops.runningSums(vc, Seq("flag"), Seq("v"), "cum" -> col("wt"))
      .join(broadcast(vc.groupBy("flag").agg(sum(col("wt")).as("tot"))), Seq("flag"))
      .select("flag", "v", "cum", "tot")
      .as[(String, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("flag")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = vc
      .withColumn("cum", sum(col("wt")).over(w))
      .withColumn("tot", sum(col("wt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("flag"))))
      .select("flag", "v", "cum", "tot")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("every oracle key refers to a declared query") {
    val unknown = Queries.oracles.keySet -- Queries.all.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("every declared query has an oracle except the known approximate set") {
    // These four are no-oracle BY DESIGN (approximate recall /
    // Spark-private hash); anything else missing an oracle is drift.
    val noOracle = Set("q_approx_distinct", "q_ann_ivf", "q_ann_lsh", "q_simhash_dedup")
    val missing = Queries.all.keySet -- Queries.oracles.keySet
    assert(missing == noOracle, s"queries without oracles: $missing")
  }

  test("entry (flagship) returns one row per nation with positive revenue") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("q_approx_distinct HLL estimate within 5% of exact") {
    val r = Queries.qApproxDistinct(spark, SF).collect()(0)
    val approx = r.getAs[Long]("approx_users").toDouble
    val exact = r.getAs[Long]("exact_users").toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("q_seeded_sample returns exactly 20 stable keys") {
    val a = Queries.qSeededSample(spark, SF).select("c_custkey").as[Long].collect()
    val b = Queries.qSeededSample(spark, SF).select("c_custkey").as[Long].collect()
    assert(a.length == 20 && a.toSeq == b.toSeq)
  }

  test("q_window_topk emits at most 3 rows per customer, ranked") {
    val perCust = Queries.qWindowTopk(spark, SF)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"), max("rn").as("maxrn"))
    assert(perCust.where($"n" > 3).isEmpty)
    assert(perCust.where($"maxrn" =!= $"n").isEmpty)
  }

  test("q_minhash_dedup pairs are symmetric-free and ordered") {
    val pairs = Queries.qMinhashDedup(spark, SF).as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("ngramJaccard df-cap drops hot tokens without losing rare-token pairs") {
    // "the" appears in every doc — at 100× data that posting list squares.
    // With dfCap=5 it is pruned BEFORE collect_list; the rare-token pair
    // survives (denominator stays the UNCAPPED set size: 3/(4+4-3) = 0.6).
    val docs = ((1L to 2L).map(i => (i, "en", "the r1 r2 r3")) ++
      (3L to 22L).map(i => (i, "en", s"the unique$i"))).toDF("doc_id", "lang", "text")
    val out = Queries.ngramJaccard(docs, dfCap = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 0.6)))
    // uncapped, the hot token inflates: same corpus yields the same pair at
    // 1.0 plus nothing else here — but 20 docs sharing "the" would expand
    // 190 candidate pairs inside one posting list before filtering
    val uncapped = Queries.ngramJaccard(docs, dfCap = 1000000)
      .as[(Long, Long, Double)].collect().toSeq
    assert(uncapped == Seq((1L, 2L, 1.0)))
  }

  test("q_batch_assign batch sizes never exceed 500") {
    val sizes = Queries.qBatchAssign(spark, SF)
      .groupBy("batch_id").count().as[(Long, Long)].collect()
    assert(sizes.forall(_._2 <= 500))
  }

  test("q_semi_join result is a subset of lineitem keyed by filtered orders") {
    val out = Queries.qSemiJoin(spark, SF)
    val okKeys = Tables.orders(spark, SF).where($"o_orderstatus" === "F")
      .select($"o_orderkey").as[Long].collect().toSet
    val got = out.select("l_orderkey").distinct().as[Long].collect()
    assert(got.forall(okKeys.contains))
  }

  test("q_kcore runs to the fixpoint, stops early, and the trace is monotone") {
    val (df, roundsExecuted) = Queries.kcoreTrace(spark, SF)
    val rows = df.orderBy("round")
      .select("n_nodes", "n_edges", "converged").as[(Long, Long, Long)].collect()
    assert(rows.length == Queries.KcoreCap)
    // the loop must actually terminate on convergence, not the cap
    assert(roundsExecuted < Queries.KcoreCap,
      s"fixpoint must be reached before the declared cap: $roundsExecuted rounds")
    assert(rows.map(_._3).contains(1L), s"a converged round must be emitted: ${rows.toSeq}")
    // once converged, every later row repeats the fixpoint with the flag set
    val firstConv = rows.indexWhere(_._3 == 1L)
    rows.drop(firstConv).foreach { case (n, e, c) =>
      assert(c == 1L && n == rows(firstConv)._1 && e == rows(firstConv)._2,
        s"post-convergence rows must repeat the fixpoint: ${rows.toSeq}")
    }
    rows.sliding(2).foreach { case Array((n1, e1, _), (n2, e2, _)) =>
      assert(n2 <= n1 && e2 <= e1, s"pruning must only shrink: ${rows.toSeq}")
    }
    // node counts are edge endpoints, so sum-of-degrees = 2·edges ≥ nodes
    val (nl, el, _) = rows.last
    assert(2 * el >= nl, s"endpoint count cannot exceed degree sum: ${rows.toSeq}")
    // in the 2-core fixpoint every surviving node has degree ≥ 2
    assert(2 * el >= 2 * nl, s"2-core fixpoint needs degree >= 2 per node: ${rows.toSeq}")
  }

  test("q_pii_redact: masks hold, tokens are collision-free, rollup is exact") {
    val out = Queries.qPiiRedact(spark, SF).collect()
    val nCust = Tables.customer(spark, SF).count()
    assert(out.length == nCust, "one output row per customer")
    out.foreach { r =>
      assert(r.getString(1).matches("""Customer#\*+\d{4}"""),
        s"mask must star all but the last 4 digits: ${r.getString(1)}")
      assert(r.getString(2).matches("[0-9a-f]{16}"),
        s"pseudonym must be the 16-hex salted token: ${r.getString(2)}")
    }
    assert(out.map(_.getString(2)).distinct.length == out.length,
      "tokens must stay collision-free at fixture scale (join algebra preserved)")
    // the token join must credit exactly the events whose user is a customer
    val want = Tables.events(spark, SF).join(
        Tables.customer(spark, SF).select($"c_custkey".as("user_id")), "user_id")
      .count()
    assert(out.map(_.getLong(3)).sum == want,
      "token-joined event rollup must equal the raw-key rollup")
  }

  test("q_k_anonymity: census partitions the table and flags k<5 classes") {
    val out = Queries.qKAnonymity(spark, SF)
      .select("k", "n_classes", "n_rows", "violates_k5")
      .as[(Long, Long, Long, Long)].collect()
    out.foreach { case (k, nc, nr, v) =>
      assert(nr == k * nc, s"class-size census must be internally consistent: $k")
      assert(v == (if (k < 5) 1L else 0L), s"violation flag must be k<5: $k")
    }
    assert(out.map(_._3).sum == Tables.customer(spark, SF).count(),
      "every row belongs to exactly one equivalence class")
  }

  test("q_zorder_layout: bounded grid, honest zone maps, both dimensions prune") {
    val out = Queries.qZorderLayout(spark, SF)
      .select("bucket", "n_rows", "min_p", "max_p", "min_s", "max_s",
        "scan_p", "scan_s")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length <= 256, s"the Morton-prefix grid is <=256 cells: ${out.length}")
    assert(out.forall(r => r._1 >= 0 && r._1 <= 255), "bucket = top 8 of 16 bits")
    out.foreach { case (_, n, mnp, mxp, mns, mxs, _, _) =>
      assert(n > 0 && mnp <= mxp && mns <= mxs, "zone maps must be well-formed")
    }
    assert(out.map(_._2).sum == Tables.lineitem(spark, SF).count(),
      "every row lands in exactly one layout cell")
    // the point of Z-order: BOTH range predicates prune some cells (under a
    // single-key linear layout the secondary dimension would scan everything)
    assert(out.map(_._7).sum < out.length, "partkey predicate must prune cells")
    assert(out.map(_._8).sum < out.length, "suppkey predicate must prune cells")
  }

  test("q_compaction_plan: bins are contiguous, exhaustive, and fill to target") {
    val out = Queries.qCompactionPlan(spark, SF)
      .select("bin_id", "n_files", "n_rows", "bytes")
      .as[(Long, Long, Long, Long)].collect()
    val dates = Tables.lineitem(spark, SF).select("l_shipdate").distinct().count()
    assert(out.map(_._2).sum == dates, "every input segment lands in exactly one bin")
    out.foreach { case (_, _, nr, b) =>
      assert(b == nr * 128L, "bytes must follow the declared row estimate")
    }
    assert(out.map(_._1).toSeq == (1L to out.length).toSeq,
      "cumulative-fill packing yields contiguous bin ids")
    // prefix packing: every bin except the last spans the 64 KiB target
    // (a bin closes only once the running total crosses its boundary)
    out.init.foreach { case (id, _, _, b) =>
      assert(b >= 65536L - 128L * 10000, s"bin $id must be near-full under prefix fill")
    }
    // date ranges must not overlap across bins (the clustering property)
    val ranges = Queries.qCompactionPlan(spark, SF)
      .orderBy("bin_id").select("from_date", "to_date")
      .as[(java.sql.Date, java.sql.Date)].collect()
    ranges.sliding(2).foreach {
      case Array((_, t1), (f2, _)) =>
        assert(t1.before(f2), s"bins must stay date-contiguous: $t1 !< $f2")
      case _ =>
    }
  }

  test("q_leakage_split: fixpoint before the cap, no candidate pair straddles splits") {
    val (df, rounds) = Queries.leakageSplitTrace(spark, SF)
    assert(rounds < Queries.LeakageSplitCap,
      s"cluster fixpoint must land before the declared cap: $rounds rounds")
    val split = df.select($"doc_id", $"canonical_id", $"split")
    // cluster-inherited splits: every LSH candidate pair (the near-dup
    // relation the split must not cut) lands in ONE split — the property
    // q_train_split's independent per-doc hash cannot give
    val pairs = Queries.qMinhashDedup(spark, SF)
    val straddle = pairs
      .join(split.select($"doc_id".as("id_a"), $"split".as("sa"),
        $"canonical_id".as("ca")), "id_a")
      .join(split.select($"doc_id".as("id_b"), $"split".as("sb"),
        $"canonical_id".as("cb")), "id_b")
      .where($"sa" =!= $"sb" || $"ca" =!= $"cb")
    assert(pairs.count() > 0, "the fixture must exercise the near-dup relation")
    assert(straddle.isEmpty,
      s"near-dup pairs must inherit one split: ${straddle.count()} straddle")
    // all three splits materialize and the map covers every shingled doc
    val splits = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(Set("train", "val", "test").subsetOf(splits.keySet), splits.toString)
    val shingled = Queries.qMinhashDedupMap(spark, SF).count()
    assert(split.count() == shingled, "split map covers exactly the shingled docs")
  }

  test("q_kmv_set_ops: sketch algebra is internally consistent") {
    val r = Queries.qKmvSetOps(spark, SF)
      .select("n_union_exact", "n_union_kmv", "n_inter_exact", "n_inter_kmv",
        "shared_k", "n_usk")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (ue, uk, ie, ik, sh, nu) = r
    assert(nu <= 64 && sh <= nu, s"sketch sizes bounded by K: $r")
    assert(ik <= uk && ie <= ue, s"intersection cannot exceed union: $r")
    assert(ik == sh * uk / nu, s"Jaccard-scaled intersection arithmetic: $r")
    // the estimator must be ACTIVE at this fixture (union > K), and a
    // K=64 single-hash sketch is within ~4 sigma of truth (1σ ≈ 1/√63)
    assert(ue > 64, s"fixture must exercise the estimator, not the exact path: $r")
    assert(math.abs(uk - ue).toDouble / ue < 0.5, s"union estimate sanity: $r")
  }

  test("q_hist_quantiles: estimates bracket truth within a bucket width, monotone in p") {
    val rows = Queries.qHistQuantiles(spark, SF)
      .select("p", "est_cents", "exact_cents", "err_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(50L, 90L, 99L))
    val (mn, mx) = Tables.lineitem(spark, SF)
      .selectExpr("min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))",
        "max(CAST(round(l_extendedprice * 100, 0) AS BIGINT))")
      .as[(Long, Long)].head()
    val bucketWidth = (mx - mn + 1) / 64 + 1
    rows.foreach { case (p, est, exact, ppm) =>
      assert(est >= mn && est <= mx + 1 && exact >= mn && exact <= mx,
        s"p$p out of domain: $est / $exact")
      // rank interpolation cannot miss by more than its own bucket
      assert(math.abs(est - exact) <= bucketWidth,
        s"p$p estimate must land within one bucket of truth: $est vs $exact")
      assert(ppm == math.abs(est - exact) * 1000000L / exact, s"p$p ppm arithmetic")
    }
    assert(rows.map(_._2).toSeq == rows.map(_._2).toSeq.sorted,
      "quantile estimates must be monotone in p")
  }

  test("q_setsim_join == brute-force threshold join (prefix filter loses nothing)") {
    import graft.operators.TextOps
    val got = Queries.qSetsimJoin(spark, SF)
      .select("id_a", "id_b", "jac_permille").as[(Long, Long, Long)].collect().toSet
    // reference: ALL pairs sharing any capped shingle, exact Jaccard — a
    // pair the prefix filter may not drop iff J >= 0.7 over this universe
    val sh = TextOps.explodedShingles(
      Tables.documents(spark, SF), "doc_id", "text", 3).distinct()
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("df")).where($"df" <= 10)
    val cs = sh.join(dfc, "shingle").select($"doc_id", $"shingle")
    val sz = cs.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = cs.as("x")
      .join(cs.as("y"), $"x.shingle" === $"y.shingle" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select($"doc_id".as("id_a"), $"sz".as("sza")), "id_a")
      .join(sz.select($"doc_id".as("id_b"), $"sz".as("szb")), "id_b")
      .withColumn("jac", expr("(i * 1000) div (sza + szb - i)"))
      .where($"jac" >= 700)
      .select("id_a", "id_b", "jac").as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty, "fixture must exercise the join")
    assert(got == brute,
      s"prefix filtering must be lossless: missing=${(brute -- got).take(5)} " +
        s"extra=${(got -- brute).take(5)}")
  }

  test("q_join_size_est: exact side is the true join size, estimator is sane") {
    val (ne, ea, ppm) = Queries.qJoinSizeEst(spark, SF)
      .select("n_exact", "est_agms", "err_ppm").as[(Long, Long, Long)].head()
    // ground truth without sketches: the materialized join count
    val li = Tables.lineitem(spark, SF)
    val a = li.where(expr("year(l_shipdate) = 1996")).select("l_partkey")
    val b = li.where(expr("year(l_shipdate) = 1997")).select("l_partkey")
    val trueSize = a.join(b, "l_partkey").count()
    assert(ne == trueSize, s"exact fold must equal the materialized join: $ne vs $trueSize")
    assert(ppm == math.abs(ea - ne) * 1000000L / ne, "ppm arithmetic")
    // Fast-AGMS at d=9 w=64 is unbiased with ~F2-bounded variance — a
    // degenerate estimator (the CMS form measured 250x over here) fails this
    assert(ppm < 500000L, s"estimate within 50% of truth: est=$ea exact=$ne")
  }

  test("q_ams_f2: exact side is the true second moment, estimator is sane") {
    val (fe, fa, ppm) = Queries.qAmsF2(spark, SF)
      .select("f2_exact", "f2_ams", "err_ppm").as[(Long, Long, Long)].head()
    val truth = Tables.events(spark, SF).groupBy("user_id").count()
      .agg(sum($"count" * $"count")).as[Long].head()
    assert(fe == truth, s"exact F2 must equal direct computation: $fe vs $truth")
    // F2 >= F1 always (sum of squares vs sum), strict when any key repeats
    val f1 = Tables.events(spark, SF).count()
    assert(fe >= f1, s"F2 >= row count: $fe vs $f1")
    assert(ppm == math.abs(fa - fe) * 1000000L / fe, "ppm arithmetic")
    assert(ppm < 500000L, s"estimate within 50% of truth: est=$fa exact=$fe")
  }

  test("q_mrr misses exactly where q_ndcg finds no relevant result") {
    val mrr = Queries.qMrr(spark, SF)
      .select("q_id", "first_rel_rank", "rr_ppm")
      .as[(Long, Long, Long)].collect().toSeq
    assert(mrr.map(_._1).sorted == (0L until 10L), "one row per probe, misses kept")
    val noRel = Queries.qNdcg(spark, SF).where($"n_rel" === 0)
      .select("q_id").as[Long].collect().toSet
    mrr.foreach { case (q, frr, ppm) =>
      assert((frr == 0) == noRel(q),
        s"probe $q: MRR miss must coincide with NDCG's empty relevance set")
      assert(frr >= 0 && frr <= 10, s"first relevant rank within top-10: $frr")
      assert(ppm == (if (frr == 0) 0L else 1000000L / frr), s"probe $q rr arithmetic")
    }
  }

  test("q_rank_fusion: RRF score is exactly determined by the two rank lists") {
    val rows = Queries.qRankFusion(spark, SF)
      .select("vec_id", "rank_cos", "rank_dot", "rrf_ppb")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.size == 10, "top-10 fused list")
    rows.foreach { case (v, rc, rd, sc) =>
      assert(rc >= 0 && rc <= 20 && rd >= 0 && rd <= 20, s"$v ranks in-list")
      assert(rc > 0 || rd > 0, s"$v must come from at least one ranker's top-20")
      val want = (if (rc == 0) 0L else 1000000000L / (60 + rc)) +
        (if (rd == 0) 0L else 1000000000L / (60 + rd))
      assert(sc == want, s"$v RRF arithmetic: $sc vs $want")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted.reverse,
      "fused list ordered by score desc")
    // both rankers' #1 results always survive fusion (1/(61) alone beats
    // any single rank >= 22 contribution and ties lose only to dual-list entries)
    val top1s = rows.filter(r => r._2 == 1 || r._3 == 1)
    assert(top1s.nonEmpty, "a ranker's top result must appear in the fused list")
  }

  test("q_dsir_weights: keep flag is the sign, counts are real token counts") {
    val rows = Queries.qDsirWeights(spark, SF)
      .select("doc_id", "n_tokens", "logw", "keep")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, nt, lw, keep) =>
      assert(nt > 0, s"doc $id token count")
      assert(keep == (if (lw > 0) 1L else 0L), s"doc $id keep flag must be sign(logw)")
    }
    // the in-sample property that makes DSIR work: target-source documents
    // score higher under their own distribution than raw documents do
    val src = Tables.documents(spark, SF).select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    val (t, r) = rows.partition(x => src(x._1) == "src0")
    assert(t.nonEmpty && r.nonEmpty, "both classes present")
    val mt = t.map(x => x._3 / x._2).sum / t.size
    val mr = r.map(x => x._3 / x._2).sum / r.size
    assert(mt > mr,
      f"target docs must score higher per-token on average: $mt%.4f vs $mr%.4f")
  }

  test("q_chi2_tokens: min support holds and the statistic is a real chi-square") {
    val rows = Queries.qChi2Tokens(spark, SF)
      .select("token", "a", "b", "chi2")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(rows.size == 20, "top-20 list")
    rows.foreach { case (tok, a, b, chi2) =>
      assert(a + b >= 5, s"$tok min support")
      assert(chi2 >= 0.0, s"$tok chi2 non-negative")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted.reverse,
      "ordered by chi2 desc")
  }

  test("q_group_quantiles: full grid, bucket-bounded error, monotone in p") {
    val rows = Queries.qGroupQuantiles(spark, SF)
      .select("nation", "p", "n", "est_cents", "exact_cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val nations = rows.map(_._1).distinct
    assert(rows.size == nations.size * 2, "every nation carries both targets")
    val byNation = rows.groupBy(_._1)
    byNation.foreach { case (nat, rs) =>
      assert(rs.map(_._2).sorted == Seq(50L, 95L), s"nation $nat targets")
      val p50 = rs.find(_._2 == 50L).get
      val p95 = rs.find(_._2 == 95L).get
      assert(p50._5 <= p95._5, s"nation $nat exact quantiles monotone")
    }
    // rank interpolation cannot miss by more than the nation's own bucket
    val dom = Tables.lineitem(spark, SF)
      .join(Tables.orders(spark, SF), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, SF), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nation"))
      .agg(min(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("mn"),
        max(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("mx"))
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    rows.foreach { case (nat, p, _, est, exact) =>
      val (mn, mx) = dom(nat)
      val bw = (mx - mn + 1) / 32 + 1
      assert(math.abs(est - exact) <= bw,
        s"nation $nat p$p estimate within one bucket: $est vs $exact (bw=$bw)")
    }
  }

  test("q_temperature_mix: shares sum to ~1e6 and the boost flattens monotonically") {
    val rows = Queries.qTemperatureMix(spark, SF)
      .select("source", "n_chars", "raw_ppm", "temp_ppm", "boost_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val nSources = Tables.documents(spark, SF).select("source").distinct().count()
    assert(rows.size == nSources, "one row per source")
    // floor-ppm shares: each sum lands within |sources| below exactly 1e6
    Seq(rows.map(_._3).sum, rows.map(_._4).sum).foreach { s =>
      assert(s <= 1000000L && s > 1000000L - rows.size, s"share sum $s")
    }
    // alpha = 0.5 strictly flattens: below-average sources are up-sampled
    // (boost > 1e6), above-average down-sampled, and the boost ordering is
    // inverse to the size ordering (sqrt is strictly monotone)
    val bySize = rows.sortBy(_._2)
    bySize.sliding(2).foreach { case Seq(small, large) =>
      if (small._2 < large._2)
        assert(small._5 >= large._5,
          s"smaller source must boost at least as much: $small vs $large")
    }
    assert(bySize.head._5 > 1000000L || bySize.head._2 == bySize.last._2,
      "the smallest source is up-sampled under temperature")
  }

  test("q_dp_counts: clipping is exact, noise is bounded and deterministic") {
    val rows = Queries.qDpCounts(spark, SF)
      .select("event_type", "n_events", "n_clipped", "clip_loss", "noise", "n_dp")
      .as[(String, Long, Long, Long, Double, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // ground truth for the clipped census, computed without the query
    val truth = Tables.events(spark, SF)
      .groupBy($"event_type", $"user_id").count()
      .groupBy($"event_type")
      .agg(sum($"count").as("ne"), sum(least($"count", lit(5L))).as("nc"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (et, ne, nc, loss, noise, ndp) =>
      assert((ne, nc) == truth(et), s"$et clipped census must match direct computation")
      assert(nc <= ne && loss == ne - nc, s"$et clip accounting")
      // u >= 1/1000001 bounds the Laplace tail at 5*ln(1000001) ~ 69.08
      assert(math.abs(noise) <= 69.1, s"$et noise bound: $noise")
      assert(ndp == nc + math.round(noise), s"$et release arithmetic")
    }
    // seeded noise: a second run draws the identical perturbation
    val again = Queries.qDpCounts(spark, SF)
      .select("event_type", "noise").as[(String, Double)].collect().toMap
    rows.foreach { case (et, _, _, _, noise, _) => assert(again(et) == noise) }
  }

  test("q_maxsim equals the brute-force late-interaction score") {
    val got = Queries.qMaxsim(spark, SF)
      .select("doc", "maxsim_e4").as[(Long, Long)].collect().toSeq
    // brute force over the collected (test-only) embedding table
    val all = Tables.embeddings(spark, SF)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (v, e) => (v / 8, v, e.map(_.toDouble)) }
    val qs = all.filter(_._1 == 0L)
    val want = all.filter(_._1 >= 1L).groupBy(_._1).map { case (doc, toks) =>
      doc -> qs.map { q =>
        toks.map { t =>
          val dot = q._3.zip(t._3).map { case (a, b) => a * b }.sum
          math.round(dot * 10000)
        }.max
      }.sum
    }
    val top = want.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(10)
    assert(got == top, s"got=$got want=$top")
  }

  test("q_l_diversity: l <= k, grid covers every customer, flags consistent") {
    val rows = Queries.qLDiversity(spark, SF)
      .select("nation", "segment", "k", "l", "violates_l2", "violates_l3")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (n, seg, k, l, v2, v3) =>
      assert(l >= 1 && l <= k, s"($n,$seg) diversity within class size")
      assert(v2 == (if (l < 2) 1L else 0L) && v3 == (if (l < 3) 1L else 0L),
        s"($n,$seg) flags")
    }
    assert(rows.map(_._3).sum == Tables.customer(spark, SF).count(),
      "classes partition the customer table")
  }

  test("q_t_closeness equals the brute-force ordered-band EMD") {
    def ppm(num: Long, den: Long): Long = {
      val a = num * 1000L
      (a / den) * 1000L + ((a % den) * 1000L) / den
    }
    val rows = Queries.qTCloseness(spark, SF)
      .select("nation", "segment", "k", "t_ppm", "violates_t15")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val cust = Tables.customer(spark, SF)
      .select($"c_nationkey".cast("long"), $"c_mktsegment",
        expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)"))
      .as[(Long, String, Long)].collect()
    val bands = cust.map(_._3).distinct.sorted
    val n = cust.length.toLong
    val gl = bands.map(b => b -> cust.count(_._3 == b).toLong).toMap
    val want = cust.groupBy(c => (c._1, c._2)).map { case ((nat, seg), rs) =>
      val k = rs.length.toLong
      var cum = 0L
      var flow = 0L
      bands.zipWithIndex.foreach { case (b, i) =>
        cum += ppm(rs.count(_._3 == b).toLong, k) - ppm(gl(b), n)
        if (i < bands.length - 1) flow += math.abs(cum)
      }
      val t = if (bands.length <= 1) 0L else flow / (bands.length - 1)
      (nat, seg) -> (k, t)
    }
    assert(rows.size == want.size, "one row per quasi-identifier class")
    rows.foreach { case (nat, seg, k, t, v) =>
      assert((k, t) == want((nat, seg)), s"class ($nat,$seg)")
      assert(v == (if (t > 150000L) 1L else 0L), s"($nat,$seg) flag")
    }
  }

  test("q_winnow_fingerprint equals brute-force winnowing (rightmost-min, full windows)") {
    val got = Queries.qWinnowFingerprint(spark, SF)
      .select("doc_id", "n_grams", "n_fp", "fp_sum", "fp_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h52(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16)
    }
    val docs = Tables.documents(spark, SF)
      .select($"doc_id", operators.Ops.normalizeText($"text").as("t"))
      .as[(Long, String)].collect()
    docs.foreach { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      val grams = toks.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toArray
      val hs = grams.map(h52)
      // winnow: for every full window of 8, select the rightmost minimum
      val sel = (7 until hs.length).flatMap { j =>
        val win = (j - 7) to j
        val m = win.map(hs).min
        Some(win.filter(i => hs(i) == m).max).map(i => (i.toLong, hs(i)))
      }.distinct
      val (ng, nfp, fsum) = got(id)
      assert(ng == grams.length.toLong, s"doc $id n_grams")
      assert(nfp == sel.size.toLong, s"doc $id n_fp")
      assert(fsum == sel.map(_._2).sum, s"doc $id fp_sum")
    }
    // the winnowing density guarantee: expected 2/(w+1) of grams selected;
    // assert the realized density sits in a generous band around it
    val (totG, totF) = got.values.foldLeft((0L, 0L)) {
      case ((g, f), (ng, nf, _)) => (g + ng, f + nf)
    }
    assert(totF * 10 > totG && totF * 2 < totG,
      s"density $totF/$totG outside (0.1, 0.5)")
  }

  test("q_triplet_mine equals the brute-force argmax over same/different labels") {
    val got = Queries.qTripletMine(spark, SF)
      .select("anchor", "label", "pos_id", "pos_sim_e4", "neg_id", "neg_sim_e4", "margin_e4")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val all = Tables.embeddings(spark, SF)
      .select($"vec_id", $"label".cast("long"), $"embedding")
      .as[(Long, Long, Array[Float])].collect()
      .map { case (v, l, e) => (v, l, e.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val anchors = all.filter(_._1 < 8)
    val cands = all.filter(_._1 >= 8)
    assert(got.size == anchors.length)
    got.foreach { case (a, lab, pid, psim, nid, nsim, margin) =>
      val (_, aLab, aEmb) = anchors.find(_._1 == a).get
      assert(lab == aLab)
      def pick(pred: Long => Boolean): (Long, Long) =
        cands.filter(c => pred(c._2))
          .map(c => (math.round(cos(c._3, aEmb) * 10000), -c._1))
          .max match { case (s, ni) => (-ni, s) }
      assert((pid, psim) == pick(_ == aLab), s"anchor $a positive")
      assert((nid, nsim) == pick(_ != aLab), s"anchor $a hard negative")
      assert(margin == psim - nsim, s"anchor $a margin")
    }
  }

  test("q_preference_pairs picks the group score extremes with a real margin") {
    val rows = Queries.qPreferencePairs(spark, SF)
      .select("source", "lang", "n_docs", "chosen_id", "chosen_score",
        "rejected_id", "rejected_score", "margin")
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // recompute the scores through the same oracle-verified expression,
    // then brute-force the group extremes in Scala
    val st = graft.functions.TextStats.textStats(
      operators.Ops.normalizeText($"text"), Seq("the", "and", "of", "to", "a", "is"))
    def ppm(num: Long, den: Long): Long = {
      val a = num * 1000L
      (a / den) * 1000L + ((a % den) * 1000L) / den
    }
    val scored = Tables.documents(spark, SF).select(
      $"source", $"lang", $"doc_id",
      st.getField("n_tokens").cast("long"), st.getField("n_chars").cast("long"),
      st.getField("stop_hits").cast("long"), st.getField("punct_chars").cast("long"))
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map { case (src, lang, id, nt, nc, sh, pc) =>
        val score = if (nt == 0 || nc == 0) -1000000L else ppm(sh, nt) - ppm(pc, nc)
        (src, lang, id, score)
      }
    val byGroup = scored.groupBy(r => (r._1, r._2))
    rows.foreach { case (src, lang, nDocs, cid, cs, rid, rs, margin) =>
      val g = byGroup((src, lang))
      assert(nDocs == g.length.toLong)
      val (bid, bs) = g.map(r => (r._4, -r._3)).max match { case (s, ni) => (-ni, s) }
      val (wid, ws) = g.map(r => (r._4, r._3)).min match { case (s, i) => (i, s) }
      assert((cid, cs) == (bid, bs), s"($src,$lang) chosen")
      assert((rid, rs) == (wid, ws), s"($src,$lang) rejected")
      assert(margin == cs - rs && margin >= 1 && cid != rid, s"($src,$lang) margin")
    }
    // groups absent from the output are exactly the zero-margin ones
    val present = rows.map(r => (r._1, r._2)).toSet
    byGroup.foreach { case (key, g) =>
      val gap = g.map(_._4).max - g.map(_._4).min
      assert(present.contains(key) == (gap >= 1), s"$key coverage (gap=$gap)")
    }
  }

  test("q_winnow_matches equals brute-force shared-fingerprint pairing") {
    val got = Queries.qWinnowMatches(spark, SF)
      .select("doc_a", "doc_b", "n_shared")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    def h52(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16)
    }
    val docs = Tables.documents(spark, SF)
      .select($"doc_id", operators.Ops.normalizeText($"text").as("t"))
      .as[(Long, String)].collect()
    val sel: Map[Long, Set[Long]] = docs.map { case (id, t) =>
      val hs = t.split(" ").filter(_.nonEmpty).sliding(4)
        .filter(_.length == 4).map(g => h52(g.mkString(" "))).toArray
      val picks = (7 until hs.length).map { j =>
        val win = (j - 7) to j
        val m = win.map(hs).min
        hs(win.filter(i => hs(i) == m).max)
      }.toSet
      id -> picks
    }.toMap
    val df = sel.toSeq.flatMap { case (id, hs) => hs.map(h => (h, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .filter { case (_, ds) => ds.size >= 2 && ds.size <= 50 }
    val pairCount = scala.collection.mutable.Map.empty[(Long, Long), Long]
    df.values.foreach { ds =>
      val sorted = ds.toSeq.sorted
      for (i <- sorted.indices; jj <- (i + 1) until sorted.length)
        pairCount((sorted(i), sorted(jj))) =
          pairCount.getOrElse((sorted(i), sorted(jj)), 0L) + 1L
    }
    val want = pairCount.toSeq.collect {
      case ((a, b), n) if n >= 2 => (a, b, n)
    }.sorted
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(got.nonEmpty, "the fixture's duplicated docs must surface")
  }

  test("q_embed_dim_stats equals the brute-force integer census") {
    val got = Queries.qEmbedDimStats(spark, SF)
      .select("dim", "n", "mean_e4", "var_e8", "min_e4", "max_e4", "dead")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val embs = Tables.embeddings(spark, SF)
      .select($"embedding").as[Array[Float]].collect()
    assert(got.size == 64)
    got.foreach { case (dim, n, mean, v, mn, mx, dead) =>
      val xs = embs.map(e => math.round(e(dim.toInt).toDouble * 10000))
      val s1 = xs.sum
      val s2 = xs.map(x => x * x).sum
      assert(n == xs.length.toLong, s"dim $dim n")
      assert(mean == (2 * s1 + (if (s1 < 0) -1L else 1L) * n) / (2 * n), s"dim $dim mean")
      assert(v == (n * s2 - s1 * s1) / (n * n), s"dim $dim var")
      assert((mn, mx) == (xs.min, xs.max), s"dim $dim range")
      assert(dead == (if (v < 1000000L) 1L else 0L), s"dim $dim dead flag")
    }
  }

  test("q_cluster_purity equals brute-force seeded-centroid assignment") {
    val got = Queries.qClusterPurity(spark, SF)
      .select("cluster_id", "n", "n_labels", "majority_label", "majority_n", "purity_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val all = Tables.embeddings(spark, SF)
      .select($"vec_id", $"label".cast("long"), $"embedding")
      .as[(Long, Long, Array[Float])].collect()
      .map { case (v, l, e) => (v, l, e.map(_.toDouble)) }
    val cents = all.sortBy(_._1).take(8).map(c => (c._1, c._3))
    def assign(e: Array[Double]): Long =
      cents.map { case (cid, c) =>
        (e.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
    val byCluster = all.groupBy(r => assign(r._3))
    assert(got.map(_._2).sum == all.length.toLong, "clusters partition the corpus")
    got.foreach { case (cid, n, nLabels, majLab, majN, ppm) =>
      val labels = byCluster(cid).map(_._2)
      assert(n == labels.length.toLong, s"cluster $cid size")
      assert(nLabels == labels.distinct.length.toLong, s"cluster $cid labels")
      val (wantN, wantLab) = labels.groupBy(identity).view
        .mapValues(_.length.toLong).toSeq.map { case (l, c) => (c, -l) }.max
      assert((majLab, majN) == (-wantLab, wantN), s"cluster $cid majority")
      val a = majN * 1000L
      assert(ppm == (a / n) * 1000L + ((a % n) * 1000L) / n, s"cluster $cid purity")
    }
  }

  test("q_random_projection: exact seeded projection, JL distortion concentrated near 1") {
    val got = Queries.qRandomProjection(spark, SF)
      .select("va", "vb", "od2_e8", "pd2_e8", "dist_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 50)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val hex = md.digest(s"jl|$i|$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 13), 16) % 2 == 0) 1.0 else -1.0
    }
    val emb = Tables.embeddings(spark, SF)
      .where($"vec_id" < 100).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (v, e) => v -> e.map(_.toDouble) }.toMap
    got.foreach { case (va, vb, od2, pd2, ppm) =>
      assert(vb == va + 1 && va % 2 == 0)
      val dv = emb(va).zip(emb(vb)).map { case (x, y) => x - y }
      assert(od2 == math.round(dv.map(x => x * x).sum * 1e8), s"pair $va orig dist")
      val wantPd2 = (0 until 16).map { j =>
        val pj = math.round(dv.zipWithIndex.map { case (x, i) => x * sign(i, j) }.sum * 1e4)
        pj * pj
      }.sum
      assert(pd2 == wantPd2, s"pair $va projected dist")
      val pd2n = pd2 / 16
      val a = pd2n * 1000L
      val wantPpm = if (od2 == 0) 0L else (a / od2) * 1000L + ((a % od2) * 1000L) / od2
      assert(ppm == wantPpm, s"pair $va distortion")
    }
    // JL concentration: every audited pair within 3x, the mean within 25%
    got.foreach { case (va, _, _, _, ppm) =>
      assert(ppm > 330000L && ppm < 3000000L, s"pair $va distortion $ppm out of band")
    }
    val mean = got.map(_._5).sum / got.size
    assert(mean > 750000L && mean < 1250000L, s"mean distortion $mean")
  }

  test("q_kl_divergence equals the brute-force snapped term sum and is nonnegative") {
    val got = Queries.qKlDivergence(spark, SF)
      .select("source", "n_tokens", "kl_e9")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val toks = Tables.documents(spark, SF)
      .select($"source", operators.Ops.normalizeText($"text").as("t"))
      .as[(String, String)].collect()
      .flatMap { case (src, t) => t.split(" ").filter(_.nonEmpty).map(tok => (src, tok)) }
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ns = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val tot = toks.length.toLong
    val want = tf.toSeq.groupBy(_._1._1).map { case (src, terms) =>
      val kl = terms.map { case ((_, tok), f) =>
        val p = f.toDouble / ns(src)
        val q = ct(tok).toDouble / tot
        math.round(p * math.log(p / q) * 1e9)
      }.sum
      src -> (terms.size.toLong, kl)
    }
    assert(got == want)
    got.values.foreach { case (nTok, kl) =>
      // Gibbs: true KL >= 0; the snapped sum can undershoot by <= n/2 ulps
      assert(kl >= -nTok, s"kl_e9 $kl below the snapping floor")
    }
  }

  test("q_mutual_info equals the brute-force census and respects MI <= min entropy") {
    val row = Queries.qMutualInfo(spark, SF)
      .select("n", "n_cells", "mi_e9", "h_lang_e9", "h_source_e9", "nmi_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val pairs = Tables.documents(spark, SF).select($"lang", $"source")
      .as[(String, String)].collect()
    val n = pairs.length.toLong
    val cells = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nl = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nsrc = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val mi = cells.map { case ((l, s2), c) =>
      math.round((c.toDouble / n) * math.log(n.toDouble * c / (nl(l).toDouble * nsrc(s2))) * 1e9)
    }.sum
    def h(m: Map[String, Long]): Long =
      m.values.map(c => math.round(-(c.toDouble / n) * math.log(c.toDouble / n) * 1e9)).sum
    assert(row._1 == n && row._2 == cells.size.toLong)
    assert(row._3 == mi && row._4 == h(nl) && row._5 == h(nsrc))
    val minH = math.min(row._4, row._5)
    assert(row._3 <= minH + row._2, "MI bounded by the smaller marginal entropy")
    val a = mi * 1000L
    assert(row._6 == (a / minH) * 1000L + ((a % minH) * 1000L) / minH)
  }

  test("q_js_sources equals the exact decomposition and approximates direct JS") {
    val got = Queries.qJsSources(spark, SF)
      .select("src_a", "src_b", "shared_tokens", "js_e9")
      .as[(String, String, Long, Long)].collect().toSeq
    val toks = Tables.documents(spark, SF)
      .select($"source", operators.Ops.normalizeText($"text").as("t"))
      .as[(String, String)].collect()
      .flatMap { case (src, t) => t.split(" ").filter(_.nonEmpty).map(tok => (src, tok)) }
    val ns = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val dist: Map[String, Map[String, Double]] = toks.groupBy(_._1).map { case (src, ts) =>
      src -> ts.groupBy(_._2).map { case (tok, xs) => tok -> xs.length.toDouble / ns(src) }
    }
    val sources = ns.keys.toSeq.sorted
    assert(got.size == sources.size * (sources.size - 1) / 2)
    got.foreach { case (a, b, shared, js) =>
      val (pa, pb) = (dist(a), dist(b))
      val common = pa.keySet.intersect(pb.keySet)
      assert(shared == common.size.toLong, s"($a,$b) shared support")
      val inner = common.toSeq.map { t =>
        val (p, q) = (pa(t), pb(t))
        math.round(0.5 * (p * math.log(2.0 * p / (p + q)) + q * math.log(2.0 * q / (p + q))) * 1e9)
      }.sum
      val spA = common.toSeq.map(t => math.round(pa(t) * 1e9)).sum
      val spB = common.toSeq.map(t => math.round(pb(t) * 1e9)).sum
      val corr = math.round((2e9 - spA - spB) * 0.5 * math.log(2.0))
      assert(js == inner + corr, s"($a,$b) decomposition")
      // against the direct definition over the union support
      val direct = (pa.keySet ++ pb.keySet).toSeq.map { t =>
        val p = pa.getOrElse(t, 0.0)
        val q = pb.getOrElse(t, 0.0)
        val m = (p + q) / 2
        (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          (if (q > 0) 0.5 * q * math.log(q / m) else 0.0)
      }.sum
      assert(math.abs(js / 1e9 - direct) < 1e-3, s"($a,$b) vs direct JS")
      assert(js >= -1000L && js <= math.round(math.log(2.0) * 1e9) + 1000L,
        s"($a,$b) JS range")
    }
  }

  test("q_survival_curve equals brute-force Kaplan-Meier and is monotone") {
    val got = Queries.qSurvivalCurve(spark, SF)
      .select("t", "n_risk", "d_ev", "c_cens", "logs_e9", "s_r4")
      .as[(Long, Long, Long, Long, Option[Long], Double)].collect().toSeq
    val orders = Tables.orders(spark, SF)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate".cast("date"))
      .as[(Long, Long, java.sql.Date)].collect()
      .map { case (c, k, dt) => (c, k, dt.toLocalDate.toEpochDay) }
    val maxd = orders.map(_._3).max
    val obs = orders.groupBy(_._1).values.flatMap { os =>
      val sorted = os.sortBy(o => (o._3, o._2))
      val gaps = sorted.sliding(2).collect {
        case Array(a, b) => (b._3 - a._3, 1L)
      }.toSeq
      gaps :+ ((maxd - sorted.last._3, 0L))
    }.toSeq
    val census = obs.groupBy(_._1).map { case (t, xs) =>
      (t, xs.count(_._2 == 1L).toLong, xs.count(_._2 == 0L).toLong)
    }.toSeq.sortBy(_._1)
    var rem = obs.size.toLong
    var cum = 0L
    var dead = false
    val want = census.map { case (t, d, c) =>
      val nRisk = rem
      rem -= (d + c)
      if (d > 0 && d < nRisk)
        cum += math.round(math.log(1.0 - d.toDouble / nRisk) * 1e9)
      if (d == nRisk) dead = true
      val logs = if (dead) None else Some(cum)
      val s = if (dead) 0.0
        else BigDecimal(math.exp(cum / 1e9)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (t, nRisk, d, c, logs, s)
    }
    assert(got == want)
    // survival is non-increasing and within [0, 1]
    got.map(_._6).sliding(2).foreach { case Seq(a, b) => assert(b <= a) }
    got.foreach { r => assert(r._6 >= 0.0 && r._6 <= 1.0) }
    assert(got.head._2 == obs.size.toLong, "full risk set at the first time")
  }

  test("q_gini_split equals the brute-force stump scan and flags the true argmin") {
    val got = Queries.qGiniSplit(spark, SF)
      .select("bucket", "thr_e4", "n_left", "pos_left", "wgini_e9", "is_best")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val e = Tables.embeddings(spark, SF)
      .select($"embedding", $"label".cast("long")).as[(Array[Float], Long)].collect()
      .map { case (emb, l) =>
        (math.round(emb(0).toDouble * 10000), if (l < 5) 1L else 0L)
      }
    val (xmin, xmax) = (e.map(_._1).min, e.map(_._1).max)
    val n = e.length.toLong
    val pos = e.map(_._2).sum
    def bucket(x: Long): Long =
      if (xmax == xmin) 0L else math.min(63L, ((x - xmin) * 64) / (xmax - xmin))
    val byB = e.groupBy(x => bucket(x._1)).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    val buckets = byB.keys.toSeq.sorted
    var (nl, pl) = (0L, 0L)
    val want = buckets.flatMap { b =>
      val (nb, pb) = byB(b)
      nl += nb; pl += pb
      if (nl < n) {
        val nr = n - nl
        val pr = pos - pl
        val gl = nl - (pl.toDouble * pl + (nl - pl).toDouble * (nl - pl)) / nl
        val gr = nr - (pr.toDouble * pr + (nr - pr).toDouble * (nr - pr)) / nr
        Some((b, xmin + ((b + 1) * (xmax - xmin)) / 64, nl, pl,
          math.round((gl + gr) / n * 1e9)))
      } else None
    }
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) == want)
    assert(got.count(_._6 == 1L) == 1, "exactly one best split")
    val bestG = got.filter(_._6 == 1L).head._5
    assert(bestG == got.map(_._5).min, "the flag marks the minimum impurity")
    val bestB = got.filter(_._6 == 1L).head._1
    assert(want.filter(_._5 == bestG).map(_._1).min == bestB,
      "ties break to the smaller bucket")
  }

  test("q_psi_drift equals the brute-force smoothed PSI and every term is nonnegative") {
    val got = Queries.qPsiDrift(spark, SF)
      .select("bin", "ref_n", "cur_n", "ref_ppm", "cur_ppm", "term_e9")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 10 && got.map(_._1) == (0L until 10L))
    val ev = Tables.events(spark, SF)
      .select($"ts", $"value").where($"value".isNotNull)
      .as[(java.sql.Timestamp, Double)].collect()
    val (vmin, vmax) = (ev.map(_._2).min, ev.map(_._2).max)
    val t0 = ev.map(_._1.getTime).min
    val cutoff = t0 + 7L * 24 * 3600 * 1000
    def bin(v: Double): Long =
      if (vmax == vmin) 0L
      else math.min(9L, math.floor((v - vmin) * 10.0 / (vmax - vmin)).toLong)
    val byBin = ev.groupBy(x => bin(x._2)).view.mapValues { xs =>
      (xs.count(_._1.getTime < cutoff).toLong, xs.count(_._1.getTime >= cutoff).toLong)
    }.toMap
    val rt = byBin.values.map(_._1).sum
    val ct = byBin.values.map(_._2).sum
    def ppm(num: Long, den: Long): Long = {
      val a = num * 1000L
      (a / den) * 1000L + ((a % den) * 1000L) / den
    }
    got.foreach { case (b, rn, cn, rp, cp, term) =>
      val (wrn, wcn) = byBin.getOrElse(b, (0L, 0L))
      assert((rn, cn) == (wrn, wcn), s"bin $b census")
      assert(rp == ppm(rn + 1, rt + 10) && cp == ppm(cn + 1, ct + 10), s"bin $b shares")
      val p = (rn + 1).toDouble / (rt + 10)
      val q = (cn + 1).toDouble / (ct + 10)
      assert(term == math.round((p - q) * math.log(p / q) * 1e9), s"bin $b term")
      assert(term >= -1L, s"bin $b PSI term must be nonnegative up to snapping")
    }
    val psi = got.map(_._6).sum / 1e9
    assert(psi >= 0.0 && psi < 5.0, s"total PSI $psi sane")
  }

  test("q_bootstrap_ci equals the brute-force Poisson bootstrap and brackets the mean") {
    val (n, mean, lo, hi) = Queries.qBootstrapCi(spark, SF)
      .select("n", "mean_e4", "ci_lo_e4", "ci_hi_e4")
      .as[(Long, Long, Long, Long)].collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long, b: Int): Double = {
      val hex = md.digest(s"$id#${b / 8}".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val slice = hex.substring((b % 8) * 4, (b % 8) * 4 + 4)
      (java.lang.Integer.parseInt(slice, 16) + 0.5) / 65536.0
    }
    val cdf = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    def pois(x: Double): Long = cdf.indexWhere(x < _) match {
      case -1 => 6L
      case i  => i.toLong
    }
    val ev = Tables.events(spark, SF).where($"value".isNotNull)
      .select($"event_id", $"value").as[(Long, Double)].collect()
      .map { case (id, v) => (id, math.round(v * 10000)) }
    def rdiv(s0: Long, n0: Long): Long = (s0 / n0) + (2 * (s0 % n0) + n0) / (2 * n0)
    assert(n == ev.length.toLong)
    assert(mean == rdiv(ev.map(_._2).sum, n))
    val means = (0 until 64).map { b =>
      var (nb, sb) = (0L, 0L)
      ev.foreach { case (id, ve4) =>
        val k = pois(u(id, b))
        nb += k; sb += ve4 * k
      }
      (if (nb == 0) 0L else rdiv(sb, nb), b)
    }.sorted
    assert((lo, hi) == (means(1)._1, means(62)._1), "percentile ranks 2 and 63")
    assert(lo <= mean && mean <= hi && lo < hi, s"CI [$lo, $hi] brackets $mean")
  }

  test("q_seasonal_decompose: exact additive identity and brute-force components") {
    val got = Queries.qSeasonalDecompose(spark, SF)
      .select("dte", "y_c", "trend_c", "dow", "seasonal_c", "resid_c")
      .as[(java.sql.Date, Long, Option[Long], Long, Option[Long], Option[Long])]
      .collect().toSeq
    val daily = Tables.orders(spark, SF)
      .select($"o_orderdate".cast("date"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
      .as[(java.sql.Date, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy(_._1.toLocalDate.toEpochDay)
    assert(got.map(r => (r._1, r._2)).sortBy(_._1.toLocalDate.toEpochDay) ==
      daily.map(identity), "the day census matches")
    val ys = daily.map(_._2).toArray
    def rdiv7(s0: Long): Long = (s0 / 7) + (2 * (s0 % 7) + 7) / 14
    val trend = ys.indices.map { i =>
      if (i < 3 || i >= ys.length - 3) None
      else Some(rdiv7((i - 3 to i + 3).map(ys).sum))
    }
    val dows = daily.map(_._1.toLocalDate.getDayOfWeek.getValue.toLong)
    val detr = ys.indices.collect {
      case i if trend(i).isDefined => (dows(i), ys(i) - trend(i).get)
    }
    val seas = detr.groupBy(_._1).view.mapValues { xs =>
      val s0 = xs.map(_._2).sum
      val n0 = xs.length.toLong
      (2 * s0 + (if (s0 < 0) -1L else 1L) * n0) / (2 * n0)
    }.toMap
    val byDate = got.map(r => r._1.toLocalDate.toEpochDay -> r).toMap
    daily.zipWithIndex.foreach { case ((dt, y), i) =>
      val (_, gy, gtr, gdow, gse, gre) = byDate(dt.toLocalDate.toEpochDay)
      assert(gy == y && gdow == dows(i), s"day $dt census/dow")
      assert(gtr == trend(i), s"day $dt trend")
      assert(gse == seas.get(dows(i)), s"day $dt seasonal")
      (gtr, gse, gre) match {
        case (Some(tr), Some(se), Some(re)) =>
          assert(y == tr + se + re, s"day $dt additive identity")
        case _ => assert(gre.isEmpty, s"day $dt residual only where components exist")
      }
    }
  }

  test("q_mmr_rerank equals the brute-force greedy MMR selection") {
    val got = Queries.qMmrRerank(spark, SF)
      .select("step", "vec", "rel_e4", "div_e4", "score")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val all = Tables.embeddings(spark, SF)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (v, e) => (v, e.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probe = all.find(_._1 == 0L).get._2
    val pool = all.filter(_._1 != 0L)
      .map { case (v, e) => (v, e, math.round(cos(e, probe) * 10000)) }
      .sortBy { case (v, _, r) => (-r, v) }.take(20)
    var selected = Seq.empty[(Long, Array[Double])]
    val want = (1 to 5).map { i =>
      val remaining = pool.filterNot(c => selected.exists(_._1 == c._1))
      val scored = remaining.map { case (v, e, r) =>
        val div = if (selected.isEmpty) 0L
          else selected.map(s2 => math.round(cos(e, s2._2) * 10000)).max
        (v, e, r, div, r * 7 - div * 3)
      }
      val pick = scored.minBy { case (v, _, _, _, sc) => (-sc, v) }
      selected = selected :+ ((pick._1, pick._2))
      (i.toLong, pick._1, pick._3, pick._4, pick._5)
    }
    assert(got == want)
    assert(got.map(_._2).distinct.size == 5, "five distinct documents")
  }

  test("q_topk_churn equals the brute-force monthly leaderboard overlap") {
    val got = Queries.qTopkChurn(spark, SF)
      .select("month", "next_month", "n_common", "jaccard_ppm")
      .as[(java.sql.Date, java.sql.Date, Long, Long)].collect()
      .map(r => (r._1.toString, r._2.toString, r._3, r._4)).toSeq
    val li = Tables.orders(spark, SF)
      .join(Tables.lineitem(spark, SF), $"o_orderkey" === $"l_orderkey")
      .select(expr("CAST(date_trunc('month', o_orderdate) AS DATE)"),
        $"l_partkey", expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
      .as[(java.sql.Date, Long, Long)].collect()
    val rev = li.groupBy(r => (r._1.toLocalDate, r._2)).view
      .mapValues(_.map(_._3).sum).toSeq
    val top: Map[java.time.LocalDate, Set[Long]] = rev.groupBy(_._1._1).map {
      case (m, xs) =>
        m -> xs.map { case ((_, p), c) => (c, p) }
          .sortBy { case (c, p) => (-c, p) }.take(10).map(_._2).toSet
    }
    val months = top.keys.toSeq.sorted(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val want = months.filter(m => top.contains(m.plusMonths(1))).map { m =>
      val common = top(m).intersect(top(m.plusMonths(1))).size.toLong
      val a = common * 1000L
      val den = 20L - common
      (m.toString, m.plusMonths(1).toString, common,
        (a / den) * 1000L + ((a % den) * 1000L) / den)
    }
    assert(got.sortBy(_._1) == want.sortBy(_._1))
    assert(got.nonEmpty)
  }

  test("q_hll_distinct: estimator within the m=64 error budget; exact side exact") {
    val rows = Queries.qHllDistinct(spark, SF)
      .select("event_type", "n_exact", "n_hll", "err_ppm")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val want = Tables.events(spark, SF).select("event_type", "user_id").distinct()
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    rows.foreach { case (et, exact, hll, err) =>
      assert(exact == want(et), s"$et exact side drifted")
      assert(hll > 0, s"$et estimate must be positive")
      // HLL std error ≈ 1.04/√64 = 13 %; 30 % is a 2.3σ determinism-safe
      // bound (the estimate itself is a pinned deterministic value)
      assert(err <= 300000L, s"$et err_ppm $err exceeds the 30% budget")
    }
  }

  test("q_brier_calibration == brute-force bins on the collected fixture") {
    val got = Queries.qBrierCalibration(spark, SF)
      .select("bin", "n", "mean_p_e4", "rate_ppm", "brier_e8")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val raw = Tables.embeddings(spark, SF)
      .select(col("embedding").getItem(0).cast("double").as("x"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
      .as[(Double, Long)].collect()
    val cells = raw.map { case (x, y) =>
      val p = math.round(1.0 / (1.0 + math.exp(-x)) * 10000)
      (math.min(9L, p / 1000), p, y)
    }
    val want = (0L to 9L).map { b =>
      val in = cells.filter(_._1 == b)
      if (in.isEmpty) (b, 0L, 0L, 0L, 0L)
      else {
        val n = in.length.toLong
        val sp = in.map(_._2).sum
        val pos = in.map(_._3).sum
        val mean = (sp / n) * 1 + (2 * (sp % n) * 1 + n) / (2 * n)
        val rate = (pos * 1000 / n) * 1000 + ((pos * 1000 % n) * 1000) / n
        val brier = in.map { case (_, p, y) => (p - y * 10000) * (p - y * 10000) }.sum
        (b, n, mean, rate, brier)
      }
    }
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("q_pca_power == brute-force covariance matvec on the collected fixture") {
    val got = Queries.qPcaPower(spark, SF)
      .select("d", "w_num").as[(Long, Long)].collect().toMap
    val vecs = Tables.embeddings(spark, SF)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].collect()
      .map(_.map(x => math.round(x * 10000)))
    val dim = vecs.head.length
    val n = vecs.length.toLong
    val mu = (0 until dim).map { dd =>
      val sx = vecs.map(_(dd)).sum
      (2 * sx + (if (sx < 0) -1 else 1) * n) / (2 * n)
    }
    val sgn = (0 until dim).map { dd =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pca|$dd".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      if (java.lang.Long.parseLong(h, 16) % 2 == 0) 1L else -1L
    }
    val want = (0 until dim).map { dd =>
      val w = vecs.map { v =>
        val c = (0 until dim).map(j => v(j) - mu(j))
        val sr = (0 until dim).map(j => c(j) * sgn(j)).sum
        c(dd) * sr
      }.sum
      dd.toLong -> w
    }.toMap
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("q_lm_perplexity: bigram accounting closes and NLL is nonnegative") {
    val rows = Queries.qLmPerplexity(spark, SF)
      .select("doc_id", "n_bigrams", "avg_nll_e9", "ppl_r4")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // per-doc bigram count = token count − 1 (docs with ≥2 tokens)
    val toks = operators.TextOps
      .explodedShingles(Tables.documents(spark, SF), "doc_id", "text", 1)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    rows.foreach { case (id, nbg, nll, ppl) =>
      assert(nbg == toks(id) - 1, s"doc $id bigrams $nbg vs tokens ${toks(id)}")
      assert(nll >= 0L && ppl >= 1.0, s"doc $id nll=$nll ppl=$ppl")
    }
  }

  test("q_watermark_fit: coverage is monotone and closes at 1e6 ppm") {
    val rows = Queries.qWatermarkFit(spark, SF)
      .select("bucket", "n", "cum_n", "cum_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 5L))
    assert(rows.map(_._2).sum == Tables.events(spark, SF).count())
    val cums = rows.map(_._4)
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last == 1000000L, s"coverage must close: ${cums.last}")
    // cum_n really is the running sum of n
    assert(rows.map(_._2).scanLeft(0L)(_ + _).tail.toSeq == rows.map(_._3).toSeq)
  }

  test("q_oov_rate == brute-force top-1000 vocab scoring") {
    val got = Queries.qOovRate(spark, SF)
      .select("doc_id", "n_tokens", "n_oov")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"), operators.Ops.normalizeText(col("text")).as("t"))
      .as[(Long, String)].collect()
      .flatMap { case (id, t) =>
        if (t.isEmpty) Seq.empty[(Long, String)] else t.split(" ").toSeq.map(id -> _) }
    val vocab = toks.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (tk, c) => (-c, tk) }.take(1000).map(_._1).toSet
    val want = toks.groupBy(_._1).toSeq.map { case (id, ts) =>
      (id, ts.length.toLong, ts.count(t => !vocab(t._2)).toLong)
    }.sortBy(_._1)
    assert(got == want)
  }

  test("q_bpe_apply: the winning pair disappears from the char-pair census") {
    // after merging winner (c1, c2) into one symbol, no adjacent symbol
    // pair can be the single-char pair c1|c2 again (a 'a|a' style winner
    // can only resurface as longer merged symbols like 'aa|a')
    val winner = Queries.qBpeMerges(spark, SF)
      .select("pair").as[String].head()
    val after = Queries.qBpeApply(spark, SF)
      .select("pair", "weight").as[(String, Long)].collect()
    assert(after.nonEmpty)
    val single = s"${winner.substring(0, 1)}|${winner.substring(1, 2)}"
    assert(!after.map(_._1).contains(single),
      s"merged pair $single must not survive its own application: ${after.toSeq}")
    // weights descending under the (weight, pair) order
    val ws = after.map(_._2).toSeq
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    // full brute-force equality: apply the merge in Scala (leftmost
    // non-overlapping over the symbol sequence) and recount symbol pairs
    val words = Tables.documents(spark, SF)
      .select(operators.Ops.normalizeText(col("text")).as("t")).as[String].collect()
      .filter(_.nonEmpty).flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (c1, c2) = (winner.substring(0, 1), winner.substring(1, 2))
    val weights = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, wf) =>
      val syms0 = w.split("").toSeq
      val merged = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms0.length) {
        if (i + 1 < syms0.length && syms0(i) == c1 && syms0(i + 1) == c2) {
          merged += c1 + c2; i += 2
        } else { merged += syms0(i); i += 1 }
      }
      (0 until merged.length - 1).foreach { j =>
        val p = s"${merged(j)}|${merged(j + 1)}"
        weights(p) = weights.getOrElse(p, 0L) + wf
      }
    }
    val want = weights.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(after.toSeq == want, s"got=${after.toSeq}\nwant=$want")
  }

  test("q_link_predict: scores bounded, no existing edge leaks into the candidates") {
    val got = Queries.qLinkPredict(spark, SF)
      .select("xa", "xb", "common", "jaccard_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, c, j) =>
      assert(a < b && c >= 1 && j >= 0 && j <= 1000000L, s"($a,$b,$c,$j)")
    }
    // none of the predicted links already exists in the >=2-co-order graph
    val op = Tables.lineitem(spark, SF)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val edgeCount = scala.collection.mutable.Map.empty[(Long, Long), Int]
    op.values.foreach { parts =>
      val ps = parts.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        edgeCount((ps(i), ps(j))) = edgeCount.getOrElse((ps(i), ps(j)), 0) + 1
    }
    val edges = edgeCount.filter(_._2 >= 2).keySet
    got.foreach { case (a, b, _, _) =>
      assert(!edges((a, b)), s"($a,$b) is already an edge")
    }
  }

  test("q_isotonic_calibrate == brute-force minimax PAV; fit is non-decreasing") {
    val got = Queries.qIsotonicCalibrate(spark, SF)
      .select("bin", "n", "rate_ppm", "iso_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty)
    val cells = Tables.embeddings(spark, SF)
      .select(col("embedding").getItem(0).cast("double").as("x"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
      .as[(Double, Long)].collect()
      .map { case (x, y) =>
        (math.min(9L, math.round(1.0 / (1.0 + math.exp(-4.0 * x)) * 10000) / 1000), y)
      }
    val bins = got.map(_._1)
    def ppm(pos: Long, n: Long): Long =
      (pos * 1000 / n) * 1000 + ((pos * 1000 % n) * 1000) / n
    val agg = bins.map { b =>
      val in = cells.filter(_._1 == b)
      b -> ((in.length.toLong, in.map(_._2).sum))
    }.toMap
    val want = bins.map { i =>
      val fits = for (j <- bins.filter(_ <= i)) yield {
        (for (k <- bins.filter(_ >= i)) yield {
          val seg = bins.filter(b => b >= j && b <= k)
          val n = seg.map(agg(_)._1).sum
          val pos = seg.map(agg(_)._2).sum
          ppm(pos, n)
        }).min
      }
      (i, fits.max)
    }
    assert(got.map(r => (r._1, r._4)) == want, s"got=$got\nwant=$want")
    val iso = got.map(_._4)
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b }, s"not monotone: $iso")
  }

  test("q_er_weights: u-probabilities exact; all-agree pairs take the max score") {
    val rows = Queries.qErWeights(spark, SF)
      .select("id_a", "id_b", "score_e9").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_._3).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // brute-force the seg-field u and the max possible score on the fixture
    val c = Tables.customer(spark, SF)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey").cast("long"),
        expr("CAST(floor(c_acctbal / 1000.0D) AS BIGINT)"))
      .as[(Long, String, Long, Long)].collect()
    val n = c.length.toLong
    def uPpm[K](vals: Seq[K]): Long = {
      val s2 = vals.groupBy(identity).values.map(g => g.length.toLong * g.length).sum
      val den = n * n
      (s2 * 1000 / den) * 1000 + ((s2 * 1000 % den) * 1000) / den
    }
    def wa(u: Long): Long = math.round(math.log(0.9 / (u / 1e6)) * 1e9)
    val maxScore = wa(uPpm(c.map(_._2).toSeq)) + wa(uPpm(c.map(_._3).toSeq)) +
      wa(uPpm(c.map(_._4).toSeq))
    // at least one blocked pair agrees on everything at this fixture scale,
    // and nothing can exceed the all-agree score
    assert(scores.head <= maxScore)
    val byId = c.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    rows.foreach { case (a, b, sc) =>
      assert(a / 50 == b / 50, s"pair ($a,$b) not in one ingest block")
      if (byId(a) == byId(b)) assert(sc == maxScore, s"all-agree pair ($a,$b) score $sc != $maxScore")
    }
  }

  test("q_neyman_alloc: apportionment sums to exactly B; weights match brute force") {
    val got = Queries.qNeymanAlloc(spark, SF)
      .select("stratum", "n_h", "w_e4", "base", "alloc")
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._5).sum == 1000L, s"allocations must sum to B: $got")
    got.foreach { case (st, _, _, base, alloc) =>
      assert(alloc == base || alloc == base + 1, s"$st alloc $alloc vs base $base")
    }
    val cells = Tables.customer(spark, SF)
      .select(col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)"))
      .as[(String, Long)].collect()
    got.foreach { case (st, nH, wE4, _, _) =>
      val xs = cells.filter(_._1 == st).map(_._2)
      assert(nH == xs.length.toLong)
      val n = xs.length.toDouble
      val sx = xs.sum.toDouble
      val sx2 = xs.map(x => x * x).sum.toDouble
      val want = math.round(math.sqrt(sx2 / n - (sx / n) * (sx / n)) * n * 10000.0)
      assert(wE4 == want, s"$st weight $wE4 != $want")
    }
  }

  test("q_naive_forecast == brute-force lag-7 backtest") {
    val got = Queries.qNaiveForecast(spark, SF)
      .select("isodow", "n_days", "sum_ae_c", "bias_c", "mape_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty)
    val daily = Tables.orders(spark, SF)
      .groupBy(col("o_orderdate").cast("date").as("dte"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("a"))
      .orderBy("dte").as[(java.sql.Date, Long)].collect()
    val series = daily.map { case (d, a) => (d.toLocalDate, a) }
    val rows = series.zipWithIndex.flatMap { case ((d, a), i) =>
      if (i >= 7 && series(i - 7)._1.plusDays(7) == d) {
        val f = series(i - 7)._2
        val ae = math.abs(a - f)
        val ape = (ae * 1000 / a) * 1000 + ((ae * 1000 % a) * 1000) / a
        Some((d.getDayOfWeek.getValue.toLong, ae, a - f, ape))
      } else None
    }
    val want = rows.groupBy(_._1).toSeq.map { case (dow, rs) =>
      val n = rs.length.toLong
      val sape = rs.map(_._4).sum
      (dow, n, rs.map(_._2).sum, rs.map(_._3).sum,
        (sape / n) * 1 + (2 * (sape % n) * 1 + n) / (2 * n))
    }.sortBy(_._1)
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("q_freshness_decay: ratios bounded, counts exact, decay really decays") {
    val got = Queries.qFreshnessDecay(spark, SF)
      .select("event_type", "n", "decayed_e9", "fresh_ppm")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val counts = Tables.events(spark, SF).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    got.foreach { case (et, n, dec, ppm) =>
      assert(n == counts(et))
      assert(dec > 0L && dec <= n * 1000000000L, s"$et decayed mass out of range")
      assert(ppm > 0L && ppm <= 1000000L, s"$et ppm $ppm")
      // a multi-week event log cannot be fully fresh
      assert(ppm < 1000000L, s"$et decay must bite on a multi-week log")
    }
  }

  test("q_part_top_shipments (bounded-buffer aggregator) == window row_number form") {
    val got = Queries.qPartTopShipments(spark, SF)
      .select("part", "rank", "cents", "rid")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got.nonEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(col("cents").desc, col("rid"))
    val want = Tables.lineitem(spark, SF)
      .select(col("l_partkey").as("part"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"),
        expr("l_orderkey * 10 + l_linenumber").as("rid"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select("part", "rank", "cents", "rid")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want)
    // mergeability: reduce-then-merge over an arbitrary split == one pass
    val agg = new graft.functions.TopKAgg(3)
    val xs = Seq((5L, 1L), (9L, 2L), (9L, 1L), (3L, 7L), (9L, 9L), (7L, 4L))
    val onePass = xs.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = xs.splitAt(2)
    val split = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(onePass) == agg.finish(split))
    assert(agg.finish(onePass) == Seq((9L, 1L), (9L, 2L), (9L, 9L)))
  }

  test("q_ipf_raking: five rounds land the margins on the population targets") {
    val got = Queries.qIpfRaking(spark, SF)
      .select("seg", "nat", "n", "w_e3", "factor_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (sg, nt, n, w, f) =>
      assert(n > 0 && w > 0 && f > 0, s"($sg,$nt): n=$n w=$w f=$f")
    }
    // after the final column scale, the nation margins are EXACT (the last
    // rescale fixes them); the segment margins should be within 0.5% of
    // their targets — the raking convergence claim
    val segT = Tables.customer(spark, SF).groupBy("c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    val natT = Tables.customer(spark, SF).groupBy("c_nationkey").count()
      .as[(Long, Long)].collect().map { case (k, v) => k -> v * 1000L }.toMap
    val natM = got.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    natM.foreach { case (nt, m) =>
      assert(math.abs(m - natT(nt)) <= natM.size,
        s"nation $nt margin $m vs target ${natT(nt)} (floor slack only)")
    }
    val segM = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    segM.foreach { case (sg, m) =>
      val t = segT(sg) * 1000L
      assert(math.abs(m - t).toDouble / t < 0.005,
        s"segment $sg margin $m vs target $t drifted > 0.5%")
    }
  }

  test("q_markov_attribution: removal only hurts; shares conserve") {
    val got = Queries.qMarkovAttribution(spark, SF)
      .select("channel", "p_base_e9", "p_removed_e9", "drop_e9", "share_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val base = got.head._2
    assert(base > 0L && base <= 1000000000L)
    got.foreach { case (ch, b, r, d0, sh) =>
      assert(b == base, "one base probability for all rows")
      assert(r >= 0L && r <= b, s"$ch removal must not raise conversion")
      assert(d0 == b - r && sh >= 0L && sh <= 1000000L, s"$ch d=$d0 sh=$sh")
    }
    // floor-division shares: sum within |channels| ppm of exactly 1e6
    val tot = got.map(_._5).sum
    assert(tot <= 1000000L && tot >= 1000000L - got.length,
      s"shares must conserve: $tot")
  }

  test("q_temperature_fit == brute-force grid NLL; exactly one winner") {
    val got = Queries.qTemperatureFit(spark, SF)
      .select("tau_e1", "n", "nll_sum_e9", "is_best")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == (5L to 20L) && got.map(_._4).sum == 1L)
    val cells = Tables.embeddings(spark, SF)
      .select(col("embedding").getItem(0).cast("double").as("x"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
      .as[(Double, Long)].collect()
    val want = (5L to 20L).map { t =>
      val nll = cells.map { case (x, y) =>
        val p = 1.0 / (1.0 + math.exp(-4.0 * x / (t / 10.0)))
        math.round(-(y * math.log(p) + (1 - y) * math.log(1.0 - p)) * 1e9)
      }.sum
      (t, cells.length.toLong, nll)
    }
    assert(got.map(r => (r._1, r._2, r._3)) == want)
    val best = want.minBy(r => (r._3, r._1))._1
    assert(got.find(_._4 == 1L).get._1 == best)
  }

  test("two-step ppm division is exact where the naive *10^6 would overflow") {
    // ground truth in BigInt; num up to 2^63/1000 — far past the 9.2e12
    // point where `num * 1000000` wraps (ANSI: errors). Contract: num <=
    // den (share semantics), so the ppm result itself always fits.
    val rnd = new scala.util.Random(42)
    val bound = 9_000_000_000_000_000L
    val cases = Seq((0L, 1L), (1L, 1L), (bound, bound),
      (9_223_372_036_854_775L, 9_223_372_036_854_775L)) ++
      (1 to 200).map { _ =>
        val d = 1L + rnd.nextLong(bound)
        (rnd.nextLong(d + 1), d)
      }
    val out = cases.toDF("num", "den")
      .selectExpr("num", "den", Queries.ppmDiv("num", "den") + " AS got")
      .as[(Long, Long, Long)].collect()
    out.foreach { case (n, d, got) =>
      val want = (BigInt(n) * 1000000 / BigInt(d)).toLong
      assert(got == want, s"num=$n den=$d got=$got want=$want")
    }
  }

  test("q_shapley_attribution == brute-force permutation Shapley; efficiency axiom") {
    val got = Queries.qShapleyAttribution(spark, SF)
      .select("channel", "phi_x24", "share_ppm")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq("click", "error", "signup", "view"))
    // brute force: 4! = 24 orderings, marginal contribution of each channel
    // when it arrives, summed — that sum IS phi·24 exactly
    val bits = Map("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)
    val users = Tables.events(spark, SF)
      .select($"user_id", $"event_type").as[(Long, String)].collect()
      .groupBy(_._1).toSeq.map { case (_, evs) =>
        val types = evs.map(_._2).toSet
        (bits.filter(b => types(b._1)).values.sum,
          if (types("purchase")) 1L else 0L)
      }
    def v(s: Long): Long = users.filter(u => (u._1 & s) == u._1).map(_._2).sum
    val chans = Seq("click", "error", "signup", "view")
    val brute = chans.map { c =>
      c -> chans.permutations.map { perm =>
        val before = perm.takeWhile(_ != c).map(bits).sum
        v(before | bits(c)) - v(before)
      }.sum
    }.toMap
    got.foreach { case (c, phi, _) =>
      assert(phi == brute(c), s"$c: got $phi want ${brute(c)}")
    }
    assert(got.map(_._2).sum == 24L * (v(15L) - v(0L)),
      "efficiency: Σφ·24 = 24·(v(N) − v(∅))")
    val shares = got.map(_._3).sum
    assert(shares <= 1000000L && shares >= 1000000L - 4, s"shares sum $shares")
  }

  test("q_frequent_triples == brute-force enumeration; A-Priori consistency") {
    val got = Queries.qFrequentTriples(spark, SF)
      .select("pa", "pb", "pc", "supp")
      .as[(Long, Long, Long, Long)].collect().toSet
    val baskets = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).values.map(_.map(_._2).sorted).toSeq
    val brute = baskets.flatMap(_.combinations(3).map(c => (c(0), c(1), c(2))))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2L)
      .map { case ((a, b, c), s0) => (a, b, c, s0) }.toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
    // anti-monotone: every pair inside an emitted triple reaches support 2
    val pairSupp = baskets.flatMap(_.combinations(2).map(c => (c(0), c(1))))
      .groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { case (a, b, c, _) =>
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(pairSupp(p) >= 2, s"pair $p under triple ($a,$b,$c)")
      }
    }
  }

  test("q_cuped matches brute-force pooled-theta math; reduction in [0, 1e6]") {
    val got = Queries.qCuped(spark, SF)
      .select("arm", "n_users", "mean_raw_e6", "mean_adj_e6", "theta_e9", "varred_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(0L, 1L))
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val users = Tables.events(spark, SF)
      .select($"user_id", $"ts", $"value").as[(Long, java.sql.Timestamp, Double)]
      .collect().groupBy(_._1).map { case (uid, evs) =>
        (uid % 2,
          evs.filter(_._2.before(cut)).map(e => math.round(e._3 * 1000)).sum,
          evs.filter(e => !e._2.before(cut)).map(e => math.round(e._3 * 1000)).sum)
      }.toSeq
    val n = users.size
    val (sx, sy) = (users.map(_._2).sum, users.map(_._3).sum)
    val cxx = (BigInt(n) * users.map(u => BigInt(u._2) * BigInt(u._2)).sum
      - BigInt(sx) * BigInt(sx))
    val cxy = (BigInt(n) * users.map(u => BigInt(u._2) * BigInt(u._3)).sum
      - BigInt(sx) * BigInt(sy))
    val cyy = (BigInt(n) * users.map(u => BigInt(u._3) * BigInt(u._3)).sum
      - BigInt(sy) * BigInt(sy))
    val theta = math.round(cxy.toDouble / cxx.toDouble * 1e9)
    val varred = math.round(cxy.toDouble * cxy.toDouble
      / (cxx.toDouble * cyy.toDouble) * 1e6)
    got.foreach { case (arm, nu, rawE6, adjE6, t, vr) =>
      assert(t == theta && vr == varred, s"pooled stats drifted on arm $arm")
      assert(vr >= 0L && vr <= 1000000L)
      val armU = users.filter(_._1 == arm)
      assert(nu == armU.size.toLong)
      val wantRaw = ((BigInt(armU.map(_._3).sum) * 1000 * 2
        + BigInt(armU.size)) / (2 * BigInt(armU.size))).toLong
      assert(rawE6 == wantRaw, s"arm $arm raw mean")
      val sadj = armU.map(u => BigInt(u._3) * BigInt(1000000000L)
        - BigInt(theta) * BigInt(u._2)).sum
      assert(adjE6 == math.round(sadj.toDouble / armU.size / 1e6),
        s"arm $arm adj mean")
    }
  }

  test("q_ols_closed == BigInt normal equations solved in the same IEEE order") {
    val got = Queries.qOlsClosed(spark, SF)
      .select("n", "beta_qty_e6", "beta_disc_e6", "intercept_e3", "r2_ppm")
      .as[(Long, Long, Long, Long, Long)].head()
    val cells = Tables.lineitem(spark, SF)
      .select($"l_quantity".cast("long"),
        expr("CAST(round(l_discount * 100, 0) AS BIGINT)"),
        expr("CAST(round(l_extendedprice, 0) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
    val n = BigInt(cells.length)
    def S(f: ((Long, Long, Long)) => BigInt) = cells.map(f).sum
    val (s1, s2, sy) = (S(c => BigInt(c._1)), S(c => BigInt(c._2)), S(c => BigInt(c._3)))
    val a11 = n * S(c => BigInt(c._1) * c._1) - s1 * s1
    val a12 = n * S(c => BigInt(c._1) * c._2) - s1 * s2
    val a22 = n * S(c => BigInt(c._2) * c._2) - s2 * s2
    val b1 = n * S(c => BigInt(c._1) * c._3) - s1 * sy
    val b2 = n * S(c => BigInt(c._2) * c._3) - s2 * sy
    val cyy = n * S(c => BigInt(c._3) * c._3) - sy * sy
    val det = a11.toDouble * a22.toDouble - a12.toDouble * a12.toDouble
    val beta1 = (b1.toDouble * a22.toDouble - b2.toDouble * a12.toDouble) / det
    val beta2 = (b2.toDouble * a11.toDouble - b1.toDouble * a12.toDouble) / det
    assert(got._1 == n.toLong)
    assert(got._2 == math.round(beta1 * 1e6) && got._3 == math.round(beta2 * 1e6))
    assert(got._4 == math.round(
      (sy.toDouble - beta1 * s1.toDouble - beta2 * s2.toDouble) / n.toDouble * 1000))
    val r2 = (beta1 * b1.toDouble + beta2 * b2.toDouble) / cyy.toDouble
    assert(got._5 == math.round(r2 * 1e6))
    // the synthetic fixture draws price independently of quantity/discount,
    // so the honest fit is near-zero — the operator is the census + solve
    assert(got._5 >= 0L && got._5 <= 1000000L)
  }

  test("q_logistic_step == brute-force replay; integer weights re-snap per step") {
    val got = Queries.qLogisticStep(spark, SF)
      .select("step", "w0_e9", "w1_e9", "w2_e9")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    val cells = Tables.embeddings(spark, SF)
      .select(expr("CAST(embedding[0] AS DOUBLE)"),
        expr("CAST(embedding[1] AS DOUBLE)"),
        expr("CAST(CAST(label < 5 AS BIGINT) AS DOUBLE)"))
      .as[(Double, Double, Double)].collect()
    var w = (0L, 0L, 0L)
    val states = (1 to 3).map { _ =>
      var (g0, g1, g2) = (0L, 0L, 0L)
      cells.foreach { case (x1, x2, y) =>
        val z = w._1.toDouble / 1e9 + w._2.toDouble / 1e9 * x1 + w._3.toDouble / 1e9 * x2
        val r = 1.0 / (1.0 + math.exp(-z)) - y
        g0 += math.round(r * 1e9); g1 += math.round(r * x1 * 1e9)
        g2 += math.round(r * x2 * 1e9)
      }
      val nn = cells.length
      w = (w._1 - g0 / nn, w._2 - g1 / nn, w._3 - g2 / nn)
      w
    }
    got.zip(states).foreach { case ((k, w0, w1, w2), want) =>
      assert((w0, w1, w2) == want, s"step $k drifted: got ${(w0, w1, w2)} want $want")
    }
  }

  test("q_merkle_diff == brute per-bucket status; clean buckets truly identical") {
    val got = Queries.qMerkleDiff(spark, SF)
      .select("super", "bucket", "old_n", "new_n", "n_added", "n_removed", "n_changed")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val base = Tables.lineitem(spark, SF)
      .select(expr("l_orderkey * 10 + l_linenumber"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.map { case (r, cs) => (r, cs.map(_._2).sum) }
    def bucketOf(rid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(rid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(2), 16)
    }
    val old = base.filter(_._1 % 1013 != 0).toMap
    val nw = base.filter(_._1 % 1009 != 0)
      .map { case (r, c) => r -> (if (r % 997 == 0) c + 100 else c) }.toMap
    val perBucket = (old.keySet ++ nw.keySet).groupBy(bucketOf)
    val want = perBucket.toSeq.map { case (b, rids) =>
      val added = rids.count(r => !old.contains(r) && nw.contains(r))
      val removed = rids.count(r => old.contains(r) && !nw.contains(r))
      val changed = rids.count(r =>
        old.contains(r) && nw.contains(r) && old(r) != nw(r))
      (b, rids.count(old.contains), rids.count(nw.contains),
        added.toLong, removed.toLong, changed.toLong)
    }.filter(t => t._4 + t._5 + t._6 > 0)
      .map(t => (t._1 / 16, t._1, t._2.toLong, t._3.toLong, t._4, t._5, t._6))
      .sortBy(_._2)
    assert(got == want, s"got ${got.size} buckets, want ${want.size}")
    // and the query's totals reconcile with the global drift counts
    assert(got.map(_._5).sum == base.count(r =>
      r._1 % 1013 == 0 && r._1 % 1009 != 0).toLong)
  }

  test("q_sprt == brute sequential replay; the crossing is the FIRST one") {
    val got = Queries.qSprt(spark, SF)
      .select("decision", "n_at_decision", "llr_e9", "n_trials")
      .as[(String, Long, Long, Long)].head()
    val trials = Tables.events(spark, SF)
      .select($"event_id", ($"event_type" === "purchase"))
      .as[(Long, Boolean)].collect().sortBy(_._1)
    val bound = 2944438979L
    var cum = 0L
    var hit: Option[(Long, Long, String)] = None
    trials.zipWithIndex.foreach { case ((_, p), i) =>
      cum += (if (p) 200670695L else -50010421L)
      if (hit.isEmpty && (cum >= bound || cum <= -bound))
        hit = Some((i + 1L, cum, if (cum >= bound) "accept_h1" else "accept_h0"))
    }
    val want = hit.map(h => (h._3, h._1, h._2, trials.length.toLong))
      .getOrElse(("continue", trials.length.toLong, cum, trials.length.toLong))
    assert(got == want, s"got $got want $want")
  }

  test("q_xcorr_leadlag == brute lagged Pearson; day overlap bookkeeping") {
    val got = Queries.qXcorrLeadlag(spark, SF)
      .select("lag", "n_days", "r_e6").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == (-7L to 7L))
    val daily = Tables.orders(spark, SF)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(o_totalprice, 0) AS BIGINT) div 1000")).as("y"))
      .select($"day".cast("string"), $"x", $"y")
      .as[(String, Long, Long)].collect()
      .map(r => java.time.LocalDate.parse(r._1) -> (r._2, r._3)).toMap
    got.foreach { case (lag, nDays, rE6) =>
      val pairs = daily.toSeq.flatMap { case (d, (x, _)) =>
        daily.get(d.plusDays(lag)).map { case (_, y) => (x, y) }
      }
      assert(nDays == pairs.length.toLong, s"lag $lag overlap")
      val n = BigInt(pairs.length)
      val (sx, sy) = (pairs.map(p => BigInt(p._1)).sum, pairs.map(p => BigInt(p._2)).sum)
      val num = n * pairs.map(p => BigInt(p._1) * p._2).sum - sx * sy
      val d1 = n * pairs.map(p => BigInt(p._1) * p._1).sum - sx * sx
      val d2 = n * pairs.map(p => BigInt(p._2) * p._2).sum - sy * sy
      val want = if (d1 == 0 || d2 == 0) 0L
        else math.round(num.toDouble / math.sqrt(d1.toDouble * d2.toDouble) * 1e6)
      assert(rE6 == want && math.abs(rE6) <= 1000000L, s"lag $lag: $rE6 vs $want")
    }
  }

  test("q_mcnemar == brute discordance table") {
    val got = Queries.qMcnemar(spark, SF)
      .select("n_users", "n_ab", "n_ba", "mcnemar_e6", "mcnemar_cc_e6")
      .as[(Long, Long, Long, Long, Long)].head()
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val users = Tables.events(spark, SF)
      .select($"user_id", $"ts", $"event_type")
      .as[(Long, java.sql.Timestamp, String)].collect()
      .groupBy(_._1).toSeq.map { case (_, evs) =>
        (evs.exists(e => e._3 == "error" && e._2.before(cut)),
          evs.exists(e => e._3 == "error" && !e._2.before(cut)))
      }
    val b = users.count(u => u._1 && !u._2).toLong
    val c = users.count(u => !u._1 && u._2).toLong
    def stat(d: Long): Long =
      if (b + c == 0) 0L
      else ((BigInt(d) * d * 1000000 * 2 + BigInt(b + c)) / (2 * BigInt(b + c))).toLong
    assert(got == ((users.size.toLong, b, c, stat(b - c),
      stat(math.max(math.abs(b - c) - 1, 0)))), s"got $got")
  }

  test("q_jackknife_sources: influence sign mirrors the source's pull; exact ratios") {
    val got = Queries.qJackknifeSources(spark, SF)
      .select("source", "n_docs", "pooled_mean_e3", "loo_mean_e3", "influence_e3")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val bySrc = Tables.documents(spark, SF).groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("c"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (nn, ss) = (bySrc.values.map(_._1).sum, bySrc.values.map(_._2).sum)
    def rd(num: Long, den: Long): Long =
      ((BigInt(num) * 1000 * 2 + BigInt(den)) / (2 * BigInt(den))).toLong
    got.foreach { case (src, n, pooled, loo, infl) =>
      assert(n == bySrc(src)._1 && pooled == rd(ss, nn))
      assert(loo == rd(ss - bySrc(src)._2, nn - n) && infl == loo - pooled)
      // dropping a below-average source must RAISE the leave-one-out mean
      val srcMeanBelow = bySrc(src)._2 * nn < ss * n
      if (infl != 0L)
        assert(srcMeanBelow == (infl > 0L), s"$src influence sign")
    }
  }

  test("q_bradley_terry == brute MM replay; strengths positive, readout total") {
    val got = Queries.qBradleyTerry(spark, SF)
      .select("p", "wins", "n_opp", "w_e6").as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.size == 20 && got.forall(_._4 > 0L))
    val li = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey",
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((k, p), rs) => (k, p, rs.map(_._3).sum) }
    val matches = li.groupBy(_._1).values.toSeq.flatMap { basket =>
      for {
        a <- basket; b <- basket if a._2 < b._2
      } yield ((a._2, b._2), if (a._3 >= b._3) 1L else 0L)
    }.groupBy(_._1).toSeq.map { case ((i, j), ws) =>
      (i, j, ws.size.toLong, ws.map(_._2).sum)
    }
    val wins = (matches.map(m => m._1 -> m._4) ++
      matches.map(m => m._2 -> (m._3 - m._4)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val nOpp = (matches.map(m => m._1 -> 1L) ++ matches.map(m => m._2 -> 1L))
      .groupBy(_._1).map { case (p, xs) => p -> xs.size.toLong }
    var w = wins.keys.map(_ -> 1000000L).toMap
    (1 to 2).foreach { _ =>
      val d = matches.flatMap { case (i, j, nij, _) =>
        val t = nij * 1000000000000L / (w(i) + w(j))
        Seq(i -> t, j -> t)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      w = w.map { case (p, _) =>
        p -> (if (d(p) == 0L) 1000000L else wins(p) * 1000000000000L / d(p))
      }
    }
    val want = w.toSeq.map { case (p, s0) => (p, wins(p), nOpp(p), s0) }
      .sortBy(t => (-t._4, t._1)).take(20)
    assert(got == want, s"got ${got.take(3)}… want ${want.take(3)}…")
  }

  test("q_simpson_reversal == brute risk differences; reversal is a sign flip") {
    val got = Queries.qSimpsonReversal(spark, SF)
      .select("brand", "n", "d_ppm", "pooled_d_ppm", "reversed")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val brand = Tables.part(spark, SF).select($"p_partkey", $"p_brand")
      .as[(Long, String)].collect().toMap
    val cells = Tables.lineitem(spark, SF)
      .select($"l_partkey", ($"l_discount" >= 0.05).cast("long"),
        ($"l_returnflag" === "R").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map(r => (brand(r._1), r._2, r._3))
    def dppm(rows: Seq[(String, Long, Long)]): Long = {
      val nx = rows.count(_._2 == 1L).toLong
      val nn = rows.size - nx
      if (nx == 0 || nn == 0) 0L
      else rows.filter(_._2 == 1L).map(_._3).sum * 1000000L / nx -
        rows.filter(_._2 == 0L).map(_._3).sum * 1000000L / nn
    }
    val pooled = dppm(cells.toSeq)
    got.foreach { case (b, n, d, pd, rev) =>
      val rows = cells.filter(_._1 == b).toSeq
      assert(n == rows.size.toLong && pd == pooled)
      assert(d == dppm(rows), s"brand $b")
      assert(rev == (if (d * pooled < 0) 1L else 0L))
    }
  }

  test("q_crossval_ols == brute fold-complement solve; folds partition the table") {
    val got = Queries.qCrossvalOls(spark, SF)
      .select("fold", "n_test", "beta_qty_e6", "beta_disc_e6", "oof_r2_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == (0L to 4L))
    val cells = Tables.lineitem(spark, SF).select(
      expr("(((l_orderkey * 10 + l_linenumber) % 2147483648) " +
        "* 2654435761) % 4294967296 % 5"),
      $"l_quantity".cast("long"),
      expr("CAST(round(l_discount * 100, 0) AS BIGINT)"),
      expr("CAST(round(l_extendedprice, 0) AS BIGINT)"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == cells.length.toLong, "folds must partition")
    got.foreach { case (f, nTest, bq, bd, r2) =>
      val tr = cells.filter(_._1 != f)
      val te = cells.filter(_._1 == f)
      assert(nTest == te.length.toLong)
      val n = BigInt(tr.length)
      def S(g: ((Long, Long, Long, Long)) => BigInt) = tr.map(g).sum
      val (s1, s2, sy) = (S(c => BigInt(c._2)), S(c => BigInt(c._3)), S(c => BigInt(c._4)))
      val a11 = n * S(c => BigInt(c._2) * c._2) - s1 * s1
      val a12 = n * S(c => BigInt(c._2) * c._3) - s1 * s2
      val a22 = n * S(c => BigInt(c._3) * c._3) - s2 * s2
      val b1 = n * S(c => BigInt(c._2) * c._4) - s1 * sy
      val b2 = n * S(c => BigInt(c._3) * c._4) - s2 * sy
      val det = a11.toDouble * a22.toDouble - a12.toDouble * a12.toDouble
      val beta1 = (b1.toDouble * a22.toDouble - b2.toDouble * a12.toDouble) / det
      val beta2 = (b2.toDouble * a11.toDouble - b1.toDouble * a12.toDouble) / det
      val b0 = (sy.toDouble - beta1 * s1.toDouble - beta2 * s2.toDouble) / n.toDouble
      assert(bq == math.round(beta1 * 1e6) && bd == math.round(beta2 * 1e6),
        s"fold $f betas")
      val sse = te.map { c =>
        val r = c._4.toDouble - b0 - beta1 * c._2.toDouble - beta2 * c._3.toDouble
        math.round(r * r)
      }.sum
      val tn = BigInt(te.length)
      val tsy = te.map(c => BigInt(c._4)).sum
      val tsyy = te.map(c => BigInt(c._4) * c._4).sum
      val want = math.round((1.0 - sse.toDouble * tn.toDouble /
        (tn.toDouble * tsyy.toDouble - tsy.toDouble * tsy.toDouble)) * 1e6)
      assert(r2 == want, s"fold $f oof r2")
    }
  }

  test("q_uncertainty_sample: margins ascend; scores match the step-3 weights") {
    val got = Queries.qUncertaintySample(spark, SF)
      .select("vec_id", "label", "p_e9", "margin_e9")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 20)
    assert(got.map(_._4) == got.map(_._4).sorted, "margins must ascend")
    // recompute the step-3 weights exactly as the q_logistic_step brute does
    val cells = Tables.embeddings(spark, SF)
      .select($"vec_id", $"label".cast("long"),
        expr("CAST(embedding[0] AS DOUBLE)"), expr("CAST(embedding[1] AS DOUBLE)"),
        expr("CAST(CAST(label < 5 AS BIGINT) AS DOUBLE)"))
      .as[(Long, Long, Double, Double, Double)].collect()
    var w = (0L, 0L, 0L)
    (1 to 3).foreach { _ =>
      var (g0, g1, g2) = (0L, 0L, 0L)
      cells.foreach { case (_, _, x1, x2, y) =>
        val z = w._1 / 1e9 + w._2 / 1e9 * x1 + w._3 / 1e9 * x2
        val r = 1.0 / (1.0 + math.exp(-z)) - y
        g0 += math.round(r * 1e9); g1 += math.round(r * x1 * 1e9)
        g2 += math.round(r * x2 * 1e9)
      }
      val nn = cells.length
      w = (w._1 - g0 / nn, w._2 - g1 / nn, w._3 - g2 / nn)
    }
    val want = cells.map { case (id, lb, x1, x2, _) =>
      val p = math.round(1e9 / (1.0 + math.exp(
        -(w._1 / 1e9 + w._2 / 1e9 * x1 + w._3 / 1e9 * x2))))
      (id, lb, p, math.abs(p - 500000000L))
    }.sortBy(t => (t._4, t._1)).take(20).toSeq
    assert(got == want)
  }

  test("q_bom_rollup == brute ancestor walk; subtree containment holds") {
    val got = Queries.qBomRollup(spark, SF)
      .select("anc", "n_contrib", "subtree_cents", "max_depth")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 20)
    val rev = Tables.lineitem(spark, SF)
      .groupBy($"l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")))
      .as[(Long, Long)].collect()
    val byAnc = rev.flatMap { case (p, c) =>
      (0 to 4).map(k => (p / math.pow(10, k).toLong, k.toLong, c))
    }.filter(_._1 > 0).groupBy(_._1)
    val want = byAnc.toSeq.map { case (a, xs) =>
      (a, xs.length.toLong, xs.map(_._3).sum, xs.map(_._2).max)
    }.sortBy(t => (-t._3, t._1)).take(20)
    assert(got == want)
    // containment: a child ancestor's subtree mass never exceeds its parent's
    val mass = byAnc.view.mapValues(_.map(_._3).sum).toMap
    got.foreach { case (a, _, m, _) =>
      if (a >= 10 && mass.contains(a / 10))
        assert(m <= mass(a / 10), s"subtree($a) exceeds subtree(${a / 10})")
    }
  }

  test("q_permutation_test == brute 64-rep re-randomization; p in (0, 1]") {
    val got = Queries.qPermutationTest(spark, SF)
      .select("obs_d_e6", "n_reps", "n_extreme", "p_ppm")
      .as[(Long, Long, Long, Long)].head()
    val users = Tables.events(spark, SF)
      .select($"user_id", expr("CAST(round(value * 1000, 0) AS BIGINT)"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.map { case (u, vs) => (u, vs.map(_._2).sum) }
    def rd(num: Long, den: Long): Long = {
      val n2 = BigInt(num) * 1000 * 2
      val neg = n2 < 0
      val q = ((if (neg) -n2 else n2) + BigInt(den)) / (2 * BigInt(den))
      (if (neg) -q else q).toLong
    }
    def diff(groups: Seq[(Long, Long)]): Long = {
      val g1 = groups.filter(_._1 == 1L); val g0 = groups.filter(_._1 == 0L)
      rd(g1.map(_._2).sum, g1.size) - rd(g0.map(_._2).sum, g0.size)
    }
    val obs = diff(users.map { case (u, m) => (u % 2, m) })
    assert(got._1 == obs && got._2 == 64L)
    val extreme = (0L until 64L).count { rep =>
      val d = diff(users.map { case (u, m) =>
        ((((u * 131 + rep * 2654435761L + 17) % 2147483648L)
          * 2654435761L) % 4294967296L % 2, m)
      })
      math.abs(d) >= math.abs(obs)
    }.toLong
    assert(got._3 == extreme)
    assert(got._4 == (extreme + 1) * 1000000L / 65L)
    assert(got._4 > 0L && got._4 <= 1000000L)
  }

  test("q_pagerank_iter == brute 8-round integer replay on the rebuilt graph") {
    val got = Queries.qPagerankIter(spark, SF)
      .select("round", "n_nodes", "sum_rank_ppm", "max_delta_ppm", "converged")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == (1L to 8L))
    val op = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val pairs = op.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val sym = pairs.flatMap(e => Seq(e, e.swap))
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    val want = (1 to 8).map { i =>
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / deg(e._1)).sum
      }
      val next = contrib.map { case (n, sc) => n -> (150000L + 85L * sc / 100L) }
      val md = next.map { case (n, v) => math.abs(v - r(n)) }.max
      val row = (i.toLong, next.size.toLong, next.values.sum, md,
        if (md == 0L) 1L else 0L)
      r = next
      row
    }
    assert(got == want)
    assert(got.map(_._2).distinct.size == 1, "node set must stay constant")
  }

  test("q_graph_modularity == brute Newman decomposition; Q bounded") {
    val got = Queries.qGraphModularity(spark, SF)
      .select("brand", "n_nodes", "a_c", "e_in", "q_contrib_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val op = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey").distinct().as[(Long, Long)].collect()
    val edges = op.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val brand = Tables.part(spark, SF).select($"p_partkey", $"p_brand")
      .as[(Long, String)].collect().toMap
    val m = edges.size.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (b, nNodes, aC, eIn, q) =>
      val nodes = deg.keys.filter(brand(_) == b).toSeq
      assert(nNodes == nodes.size.toLong && aC == nodes.map(deg).sum)
      assert(eIn == edges.count(e => brand(e._1) == b && brand(e._2) == b).toLong)
      val want = eIn * 1000000L / m -
        (BigInt(aC) * aC * 1000000 / (4 * BigInt(m) * m)).toLong
      assert(q == want, s"brand $b")
    }
    val total = got.map(_._5).sum
    assert(total >= -500000L - got.size && total <= 1000000L,
      s"modularity out of range: $total ppm")
  }

  test("q_assortativity == brute degree Pearson over directed edges") {
    val got = Queries.qAssortativity(spark, SF)
      .select("m_directed_edges", "r_e6").as[(Long, Long)].head()
    val op = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey").distinct().as[(Long, Long)].collect()
    val edges = op.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairs = edges.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val n = BigInt(pairs.size)
    val (sx, sy) = (pairs.map(p => BigInt(p._1)).sum, pairs.map(p => BigInt(p._2)).sum)
    val num = n * pairs.map(p => BigInt(p._1) * p._2).sum - sx * sy
    val d1 = n * pairs.map(p => BigInt(p._1) * p._1).sum - sx * sx
    val d2 = n * pairs.map(p => BigInt(p._2) * p._2).sum - sy * sy
    assert(got._1 == pairs.size.toLong)
    val want = if (d1 == 0 || d2 == 0) 0L
      else math.round(num.toDouble / math.sqrt(d1.toDouble * d2.toDouble) * 1e6)
    assert(got._2 == want && math.abs(got._2) <= 1000000L)
    // symmetric edge list ⇒ sx == sy and d1 == d2 exactly
    assert(sx == sy && d1 == d2)
  }

  test("q_mann_whitney == brute rank-sum with tie-averaged ranks") {
    val got = Queries.qMannWhitney(spark, SF)
      .select("n0", "n1", "u1_x2", "z_e6").as[(Long, Long, Long, Long)].head()
    val vals = Tables.orders(spark, SF)
      .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
        ($"o_orderkey" % 2))
      .as[(Long, Long)].collect()
    val n1 = vals.count(_._2 == 1L).toLong
    val n0 = vals.length - n1
    // tie-averaged ranks over the pooled sample, ×2 to stay integral
    val sorted = vals.sortBy(_._1)
    val rank2 = scala.collection.mutable.Map.empty[Long, Long]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      rank2(sorted(i)._1) = (i + 1).toLong + j.toLong // 2·avg of ranks i+1..j
      i = j
    }
    val r1x2 = vals.filter(_._2 == 1L).map(v => rank2(v._1)).sum
    val u1x2 = r1x2 - n1 * (n1 + 1)
    assert(got._1 == n0 && got._2 == n1 && got._3 == u1x2)
    val nn = (n0 + n1).toDouble
    val tie3 = sorted.groupBy(_._1).values
      .map(g => BigInt(g.length).pow(3) - g.length).sum
    val z = (u1x2 / 2.0 - n0.toDouble * n1 / 2.0) /
      math.sqrt(n0.toDouble * n1 / 12.0 *
        ((nn + 1.0) - tie3.toDouble / (nn * (nn - 1.0))))
    assert(got._4 == math.round(z * 1e6))
  }

  test("q_rule_confidence == brute rule emission; conviction sentinel on conf=1") {
    val got = Queries.qRuleConfidence(spark, SF)
      .select("i", "j", "n_ij", "n_i", "n_j", "conf_ppm", "conviction_e6")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val op = Tables.lineitem(spark, SF)
      .select($"l_orderkey", $"l_partkey").distinct().as[(Long, Long)].collect()
    val nOrders = op.map(_._1).distinct.length.toLong
    val item = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = op.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (x <- ps.indices; y <- (x + 1) until ps.length) yield (ps(x), ps(y))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5L).toSeq
    def ppm(n: Long, d0: Long) = (n * 1000 / d0) * 1000 + ((n * 1000 % d0) * 1000) / d0
    val want = pairs.flatMap { case ((a, b), nij) =>
      Seq((a, b, nij), (b, a, nij))
    }.map { case (i, j, nij) =>
      val (ni, nj) = (item(i), item(j))
      val conv = if (ni == nij) 999999999L
        else (BigInt(ni) * (nOrders - nj) * 1000000 /
          (BigInt(nOrders) * (ni - nij))).toLong
      (i, j, nij, ni, nj, ppm(nij, ni), conv)
    }.sortBy(t => (-t._6, -t._3, t._1, t._2)).take(20)
    assert(got == want)
    got.foreach { r =>
      assert(r._6 <= 1000000L && r._7 >= 0L)
    }
  }

  test("q_fdr_bh == brute BH step-up on exact permutation p-values") {
    val got = Queries.qFdrBh(spark, SF)
      .select("brand", "obs_d_ppm", "e", "p_ppm", "rank", "rejected")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.size == 25)
    val brand = Tables.part(spark, SF).select($"p_partkey", $"p_brand")
      .as[(Long, String)].collect().toMap
    val cells = Tables.lineitem(spark, SF)
      .select($"l_partkey", $"l_orderkey", ($"l_returnflag" === "R").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map(r => (brand(r._1), r._2, r._3))
    def ppm(n: Long, d0: Long) = (n * 1000 / d0) * 1000 + ((n * 1000 % d0) * 1000) / d0
    def dppm(rows: Seq[(Long, Long)]): Long = { // (arm, y)
      val n1 = rows.count(_._1 == 1L).toLong
      val n0 = rows.size - n1
      if (n1 == 0 || n0 == 0) 0L
      else ppm(rows.filter(_._1 == 1L).map(_._2).sum, n1) -
        ppm(rows.filter(_._1 == 0L).map(_._2).sum, n0)
    }
    val eMap = cells.groupBy(_._1).map { case (b, rows) =>
      val obs = dppm(rows.toSeq.map(r => (r._2 % 2, r._3)))
      val ext = (0L until 64L).count { rep =>
        val d = dppm(rows.toSeq.map { r =>
          ((((r._2 * 131 + rep * 2654435761L + 17) % 2147483648L)
            * 2654435761L) % 4294967296L % 2, r._3)
        })
        math.abs(d) >= math.abs(obs)
      }
      b -> (obs, ext + 1L)
    }
    val ranked = eMap.toSeq.sortBy { case (b, (_, e)) => (e, b) }.zipWithIndex
      .map { case ((b, (obs, e)), idx) => (b, obs, e, idx + 1L) }
    val kmax = ranked.filter(r => r._3 * 250 <= r._4 * 65)
      .map(_._4).maxOption.getOrElse(0L)
    got.foreach { case (b, obs, e, p, rank, rej) =>
      val w = ranked.find(_._1 == b).get
      assert((obs, e, rank) == ((w._2, w._3, w._4)), s"brand $b")
      assert(p == ppm(e, 65L))
      assert(rej == (if (rank <= kmax) 1L else 0L))
    }
  }

  test("q_power_analysis == brute sample-size formula from exact moments") {
    val got = Queries.qPowerAnalysis(spark, SF)
      .select("n", "mean_e3", "var_e6", "n_per_arm")
      .as[(Long, Long, Long, Long)].head()
    val vs = Tables.events(spark, SF)
      .select(expr("CAST(round(value * 1000, 0) AS BIGINT)"))
      .as[Long].collect()
    val n = BigInt(vs.length)
    val sv = vs.map(BigInt(_)).sum
    val cvv = n * vs.map(v => BigInt(v) * v).sum - sv * sv
    val mean = sv.toDouble / n.toDouble
    val v = cvv.toDouble / (n.toDouble * n.toDouble)
    val zsum = 2.801585219 // 1.959963985 + 0.841621234, hardcoded in-query
    val want = math.round(zsum * zsum * 2.0 * v / ((0.02 * mean) * (0.02 * mean)))
    assert(got == ((n.toLong, math.round(mean), math.round(v), want)))
    assert(got._4 > 0L, "a 2% MDE on noisy values needs a real sample")
  }

  test("q_ess_weights: efficiency <= 1e6; pooled row consistent; brute equality") {
    val got = Queries.qEssWeights(spark, SF)
      .select("source", "n_docs", "ess", "efficiency_ppm")
      .as[(String, Long, Long, Long)].collect().toSeq
    val bySrc = Tables.documents(spark, SF)
      .select($"source", $"n_chars").as[(String, Long)].collect().toSeq
    def essOf(ws: Seq[Long]): (Long, Long) = {
      val sw = ws.map(BigInt(_)).sum
      val sww = ws.map(w => BigInt(w) * w).sum
      (math.round((sw * sw).toDouble / sww.toDouble),
        math.round((sw * sw).toDouble / sww.toDouble / ws.size * 1e6))
    }
    got.foreach { case (src, nd, ess, eff) =>
      val ws = if (src == "__all__") bySrc.map(_._2)
        else bySrc.filter(_._1 == src).map(_._2)
      assert(nd == ws.size.toLong, src)
      assert((ess, eff) == essOf(ws), src)
      // Cauchy-Schwarz: ESS <= n, efficiency <= 1 (+1 ppm rounding slack)
      assert(ess <= nd && eff <= 1000001L, src)
    }
    assert(got.exists(_._1 == "__all__"), "pooled row present")
  }

  test("q_propensity_strata == brute stratified ATE; weights reconcile") {
    val got = Queries.qPropensityStrata(spark, SF)
      .select("stratum", "n", "nt", "d_ppm", "ate_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty)
    val outcome = Tables.lineitem(spark, SF).groupBy($"l_orderkey")
      .agg(max(($"l_returnflag" === "R").cast("long")))
      .as[(Long, Long)].collect().toMap
    val strat = Tables.customer(spark, SF)
      .select($"c_custkey", expr("CAST(floor(c_acctbal) AS BIGINT) div 2000"))
      .as[(Long, Long)].collect().toMap
    val cells = Tables.orders(spark, SF)
      .select($"o_orderkey", $"o_custkey",
        expr("CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
      .flatMap { case (ok, ck, t) =>
        outcome.get(ok).map(y => (strat(ck), t, y))
      }
    def ppm(n: Long, d0: Long) = (n * 1000 / d0) * 1000 + ((n * 1000 % d0) * 1000) / d0
    got.foreach { case (st, n, nt, d, _) =>
      val rows = cells.filter(_._1 == st)
      assert(n == rows.length.toLong && nt == rows.map(_._2).sum)
      val nty = rows.filter(_._2 == 1L).map(_._3).sum
      val ncy = rows.filter(_._2 == 0L).map(_._3).sum
      val want = if (nt == 0 || n == nt) 0L
        else ppm(nty, nt) - ppm(ncy, n - nt)
      assert(d == want, s"stratum $st")
    }
    val ate = got.map(r => r._2 * r._4).sum / got.map(_._2).sum
    assert(got.forall(_._5 == ate), "pooled ATE replicated consistently")
  }

  test("q_kn_smooth == brute KN probabilities; mass never exceeds unity") {
    val got = Queries.qKnSmooth(spark, SF)
      .select("w1", "w2", "c12", "c1", "p_kn_ppm")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got.size == 20)
    val bigrams = Tables.documents(spark, SF)
      .select(lower(trim(regexp_replace($"text", "\\s+", " "))))
      .as[String].collect().filter(_.nonEmpty)
      .flatMap(t => t.split(" ").sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))))
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1fw = c12.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ncont = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tt = c12.size.toLong
    def ppm(n: Long, d0: Long) = (n * 1000 / d0) * 1000 + ((n * 1000 % d0) * 1000) / d0
    got.foreach { case (w1, w2, g12, g1, p) =>
      assert(g12 == c12((w1, w2)) && g1 == c1(w1), s"($w1, $w2) counts")
      val num = (4 * g12 - 3) * tt + 3 * n1fw(w1) * ncont(w2)
      assert(p == ppm(num, 4 * g1 * tt), s"($w1, $w2) p")
      assert(p > 0L && p <= 1000000L)
    }
    // the discounted mass Σ_w2 P(w2|w1) stays ≤ 1 for a fully-seen context
    val w1Top = got.head._1
    val mass = c12.collect { case ((a, b), cc) if a == w1Top =>
      BigInt((4 * cc - 3) * tt + 3 * n1fw(a) * ncont(b))
    }.sum
    assert(mass <= BigInt(4) * c1(w1Top) * tt, s"KN mass for '$w1Top'")
  }

  test("q_wilson_ci == brute Wilson bounds; interval inside [0,1], covers p-hat") {
    val got = Queries.qWilsonCi(spark, SF)
      .select("arm", "n", "k", "lo_ppm", "hi_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(0L, 1L))
    val evs = Tables.events(spark, SF)
      .select($"user_id" % 2, ($"event_type" === "purchase").cast("long"))
      .as[(Long, Long)].collect()
    val z = 1.959963985
    got.foreach { case (arm, n, k, lo, hi) =>
      val rows = evs.filter(_._1 == arm)
      assert(n == rows.length.toLong && k == rows.map(_._2).sum)
      val (nd, p) = (n.toDouble, k.toDouble / n)
      def bound(s0: Double) = (p + z * z / (2 * nd) + s0 * z *
        math.sqrt(p * (1 - p) / nd + z * z / (4 * nd * nd))) / (1 + z * z / nd)
      assert(lo == math.round(bound(-1) * 1e6) && hi == math.round(bound(1) * 1e6))
      val pPpm = math.round(p * 1e6)
      assert(lo >= 0L && hi <= 1000000L && lo <= pPpm && pPpm <= hi,
        s"arm $arm interval must bracket the point estimate")
    }
  }

  test("q_cohens_kappa == brute chance-corrected agreement; kappa in [-1, 1]") {
    val got = Queries.qCohensKappa(spark, SF)
      .select("n", "a1", "b1", "agree", "kappa_e6")
      .as[(Long, Long, Long, Long, Long)].head()
    val cells = Tables.embeddings(spark, SF)
      .select(($"embedding".getItem(0) > 0f).cast("long"),
        ($"label" < 5).cast("long"))
      .as[(Long, Long)].collect()
    val n = cells.length.toLong
    val a1 = cells.map(_._1).sum
    val b1 = cells.map(_._2).sum
    val agree = cells.count(c => c._1 == c._2).toLong
    assert((got._1, got._2, got._3, got._4) == ((n, a1, b1, agree)))
    val chance = a1 * b1 + (n - a1) * (n - b1)
    val want = math.round((n * agree - chance).toDouble
      / (n * n - chance).toDouble * 1e6)
    assert(got._5 == want)
    assert(got._5 >= -1000000L && got._5 <= 1000000L)
  }

  test("q_kendall_tau == brute tau-b on the same top-20; bounds hold") {
    val got = Queries.qKendallTau(spark, SF)
      .select("n_pairs", "nc", "nd", "tau_e6")
      .as[(Long, Long, Long, Long)].head()
    val top = Tables.lineitem(spark, SF).groupBy($"l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("rev"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
      .orderBy($"rev".desc, $"l_partkey")
      .limit(20).as[(Long, Long, Long)].collect()
    val pairs = for {
      i <- top.indices; j <- top.indices
      if top(i)._1 < top(j)._1
    } yield (math.signum(top(i)._2 - top(j)._2), math.signum(top(i)._3 - top(j)._3))
    val nc = pairs.count(p => p._1 * p._2 > 0).toLong
    val nd = pairs.count(p => p._1 * p._2 < 0).toLong
    val tx = pairs.count(_._1 == 0L).toLong
    val ty = pairs.count(_._2 == 0L).toLong
    val n = pairs.size.toLong
    assert((got._1, got._2, got._3) == ((n, nc, nd)))
    val want = if (n == tx || n == ty) 0L
      else math.round((nc - nd).toDouble /
        math.sqrt((n - tx).toDouble * (n - ty).toDouble) * 1e6)
    assert(got._4 == want && math.abs(got._4) <= 1000000L)
    assert(n == 190L, "C(20,2) pairs exactly")
  }

  test("q_silhouette == brute centroid silhouette; s in [0, 1e6] by construction") {
    val got = Queries.qSilhouette(spark, SF)
      .select("cluster_id", "n", "mean_s_ppm")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty && got.map(_._2).sum == 500L)
    val cents = Tables.embeddings(spark, SF)
      .orderBy($"vec_id").limit(8)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val rows = Tables.embeddings(spark, SF)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    def ppm(n: Long, d0: Long) = (n * 1000 / d0) * 1000 + ((n * 1000 % d0) * 1000) / d0
    val cells = rows.map { case (_, v) =>
      val ds = cents.map { case (cid, c) =>
        (v.zip(c).map { case (a, b) => math.round((a - b) * (a - b) * 1e9) }.sum, cid)
      }.sorted
      val s = if (ds(1)._1 == 0) 0L else 1000000L - ppm(ds(0)._1, ds(1)._1)
      (ds(0)._2, s)
    }
    got.foreach { case (cid, n, mean) =>
      val ss = cells.filter(_._1 == cid).map(_._2)
      assert(n == ss.length.toLong, s"cluster $cid size")
      val sum = ss.sum
      assert(mean == (sum / n) + (2 * (sum % n) + n) / (2 * n), s"cluster $cid mean")
      assert(mean >= 0L && mean <= 1000000L)
    }
  }

  test("q_jaro_er == brute-force blocked scoring; vocab-bounded frame") {
    val got = Queries.qJaroEr(spark, SF)
      .select("name_a", "name_b", "n_a", "n_b", "jw_e9")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val names = Tables.part(spark, SF).groupBy($"p_name")
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect()
    assert(names.length <= 64, "vocabulary must stay bounded")
    def jw(a: String, b: String): Double = graft.functions.JaroWinkler.similarity(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val brute = (for {
      (a, na) <- names; (b, nb) <- names
      if a < b && a.split(' ').last == b.split(' ').last
      e9 = math.round(jw(a, b) * 1e9)
      if e9 >= 800000000L
    } yield (a, b, na, nb, e9)).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
  }

  test("q_stream_interval_join == brute-force theta pairs; batch drops the watermark") {
    val got = Queries.qStreamIntervalJoin(spark, SF)
      .select("user_id", "l_event_id", "r_event_id", "l_type", "r_type")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    val ev = Tables.events(spark, SF)
      .select($"user_id", $"event_id", unix_micros($"ts"), $"event_type")
      .as[(Long, Long, Long, String)].collect().toSeq
    val brute = (for {
      (_, evs) <- ev.groupBy(_._1).toSeq
      l <- evs; r <- evs
      if r._3 >= l._3 && r._3 <= l._3 + 30L * 60 * 1000000 && l._2 != r._2
    } yield (l._1, l._2, r._2, l._4, r._4))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.nonEmpty && got == brute, s"got ${got.size} brute ${brute.size}")
    // the streaming operator ran on batch frames: the watermark nodes must
    // be eliminated, not smuggled into the batch plan
    val opt = Queries.qStreamIntervalJoin(spark, SF)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("EventTimeWatermark"), opt)
  }

  test("q_ann_ivf_recall == brute-force containment replay; monotone; exact at full dial") {
    val got = Queries.qAnnIvfRecall(spark, SF)
      .select("nprobe", "k", "hits", "recall_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 4L, 8L, 16L))
    assert(got.map(_._3) == got.map(_._3).sorted, s"recall must be monotone in nprobe: $got")
    assert(got.last._4 == 1000000L, s"nprobe = nlist must be exact: ${got.last}")
    got.foreach { case (_, k, h, ppm) => assert(k == 10L && ppm == h * 100000L) }
    // brute-force replay of the whole audit (Knuth quantizer, e4 snap,
    // containment-property recall)
    val all = Tables.embeddings(spark, SF).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val probe = all.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    val corpus = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    def cosE4(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(c * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val cidx = corpus
      .sortBy { case (id, _) => (((id % 2147483648L) * 2654435761L) % 4294967296L, id) }
      .take(16).zipWithIndex.map { case ((_, c), i) => (i.toLong, c) }
    val prank = cidx.map { case (ci, c) => (ci, cosE4(c, probe)) }
      .sortBy { case (ci, s) => (-s, ci) }.zipWithIndex
      .map { case ((ci, _), r) => ci -> (r + 1L) }.toMap
    val prs = corpus.map { case (id, v) => (id, v, cosE4(v, probe)) }
      .sortBy { case (id, _, s) => (-s, id) }.take(10)
      .map { case (_, v, _) =>
        prank(cidx.map { case (ci, c) => (ci, cosE4(v, c)) }
          .sortBy { case (ci, s) => (-s, ci) }.head._1)
      }
    got.foreach { case (np, _, h, _) =>
      assert(h == prs.count(_ <= np).toLong, s"hits at nprobe=$np: got $h")
    }
  }

  test("q_ddsketch_quantiles == brute-force log-bucket replay; relative-error law") {
    val got = Queries.qDdsketchQuantiles(spark, SF)
      .select("p", "n", "est_cents", "exact_cents", "err_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(50L, 90L, 99L))
    // brute force: direct histogram (== the merged monthly path by counter
    // addition), interpolated readout, exact order statistic
    val cs = Tables.lineitem(spark, SF)
      .selectExpr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
      .as[Long].collect().sorted
    def bkt(v: Long): Long = {
      val m = 63 - java.lang.Long.numberOfLeadingZeros(v)
      m * 8L + (v * 8L) / (1L << m) - 8L
    }
    val hist = cs.groupBy(bkt).view.mapValues(_.length.toLong).toMap
    val sortedB = hist.keys.toSeq.sorted
    val cum = sortedB.scanLeft(0L)((acc, b) => acc + hist(b)).init
    val cumOf = sortedB.zip(cum).toMap
    val n = cs.length.toLong
    got.foreach { case (p, gn, est, exact, ppm) =>
      assert(gn == n)
      val r = p * (n - 1) / 100
      assert(exact == cs(r.toInt), s"p$p exact order statistic")
      val b = sortedB.find(b => r >= cumOf(b) && r < cumOf(b) + hist(b)).get
      val p2 = 1L << (b / 8)
      val lo = (8 + b % 8) * p2 / 8
      val hi = (9 + b % 8) * p2 / 8
      assert(est == lo + (r - cumOf(b)) * (hi - lo) / hist(b), s"p$p estimate")
      assert(ppm == math.abs(est - exact) * 1000000L / exact, s"p$p ppm arithmetic")
      // the sketch's distribution-free contract: bucket width/lo <= 1/8
      assert(ppm <= 125000L, s"p$p violates the relative-error guarantee: $ppm ppm")
    }
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted,
      "quantile estimates must be monotone in p")
  }

  test("q_simhash_portable == brute-force md5 simhash; exact dups always pair") {
    val got = Queries.qSimhashPortable(spark, SF)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val docs = Tables.documents(spark, SF).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    def norm(t: String): String = t.replaceAll("\\s+", " ").trim.toLowerCase
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(t: String): Long = {
      val hs = t.split(" ").map(tok => java.lang.Long.parseLong(md5hex(tok).take(8), 16))
      (0 until 32).map { b =>
        val v = hs.map(h => if (((h >> b) & 1L) == 1L) 1L else -1L).sum
        if (v > 0) 1L << b else 0L
      }.sum
    }
    val sigs = docs.map { case (id, t) => (id, norm(t)) }
      .filter(_._2.nonEmpty).map { case (id, t) => (id, sig(t)) }
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && (sa >> 20) == (sb >> 20)
      h = java.lang.Long.bitCount(sa ^ sb).toLong
      if h <= 4L
    } yield (ia, ib, h)).toSet
    assert(got.nonEmpty && got == brute, s"got ${got.size} brute ${brute.size}")
    // law: identical normalized texts share signature AND block, so every
    // exact-dup pair must surface at hamming 0
    docs.map { case (id, t) => (norm(t), id) }.filter(_._1.nonEmpty)
      .groupBy(_._1).values.filter(_.size > 1).foreach { g =>
        g.map(_._2).sorted.toSeq.combinations(2).foreach { pair =>
          assert(got.contains((pair(0), pair(1), 0L)),
            s"exact dup pair $pair missing")
        }
      }
  }

  test("q_simhash_portable: degenerate-block guard engages; fixtures untouched") {
    // A templated corpus: every doc identical, so all votes collapse to
    // ONE 12-bit block of n members — the exact shape the guard exists
    // for. Under the cap the block pairs fully; over it, zero pairs.
    val clones = (1L to 12L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(Queries.simhashPortablePairs(clones, maxBucket = 12).count() ==
      12L * 11L / 2, "under the cap the degenerate block pairs fully")
    assert(Queries.simhashPortablePairs(clones, maxBucket = 11).count() == 0L,
      "over the cap the degenerate block is skipped before pair expansion")
    // The DECLARED cap provably filters nothing at fixture scale: the
    // largest block is far below SimhashMaxBucket (23 at sf0.001, 1220
    // at the 100x sf1 fixture), so capped == uncapped here.
    val docs = Tables.documents(spark, SF)
    val uncapped = Queries.simhashPortablePairs(docs, maxBucket = Int.MaxValue)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val capped = Queries.simhashPortablePairs(docs, Queries.SimhashMaxBucket)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(capped.nonEmpty && capped == uncapped,
      s"cap must be inert on organic fixtures: ${capped.size} vs ${uncapped.size}")
  }
}
