package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, IterResume, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Eval` — agreement, rank-correlation, calibration and cluster-quality evaluation.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesEval { this: Queries.type =>


  /** Lead-lag cross-correlation between daily order volume and daily
    * revenue at lags −7…+7 — the alignment diagnostic [[qRollingCorr]]'s
    * same-day windows cannot see (does volume LEAD revenue?). One
    * map-side daily census (calendar-bounded), then every lagged pairing
    * is a broadcast join of that tiny frame against the 15-row lag grid;
    * Pearson r per lag from exact-integer sums (products in
    * DECIMAL(38,0)/HUGEINT) presented through the shared
    * `num / sqrt(d1·d2)` double expression — IEEE sqrt is correctly
    * rounded, so the engines agree bit-for-bit before the e6 snap. */
  def qXcorrLeadlag(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(o_totalprice, 0) AS BIGINT) div 1000")).as("y"))
    val lags = s.range(-7, 8).toDF("lag")
    val dec = "CAST(%s AS DECIMAL(38,0))"
    broadcast(daily.as("a")).crossJoin(broadcast(lags))
      .join(broadcast(daily.as("b")),
        expr("b.day = date_add(a.day, CAST(lag AS INT))"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a.x")).as("sx"), sum(col("b.y")).as("sy"),
        sum(expr(s"${dec.format("a.x")} * ${dec.format("a.x")}")).as("sxx"),
        sum(expr(s"${dec.format("b.y")} * ${dec.format("b.y")}")).as("syy"),
        sum(expr(s"${dec.format("a.x")} * ${dec.format("b.y")}")).as("sxy"))
      .select(col("lag"), col("n_days"),
        expr(s"${dec.format("n_days")} * sxy - ${dec.format("sx")} * ${dec.format("sy")}").as("num"),
        expr(s"${dec.format("n_days")} * sxx - ${dec.format("sx")} * ${dec.format("sx")}").as("d1"),
        expr(s"${dec.format("n_days")} * syy - ${dec.format("sy")} * ${dec.format("sy")}").as("d2"))
      .select(col("lag"), col("n_days"),
        expr("CASE WHEN d1 = 0 OR d2 = 0 THEN 0 ELSE " +
          "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) " +
          "* CAST(d2 AS DOUBLE)) * 1000000, 0) AS BIGINT) END").as("r_e6"))
      .transform(ps(col("lag")))
  }

  /** McNemar's test for paired binary outcomes — did each user's
    * error-proneness CHANGE between the two calendar halves? (The paired
    * tier beside the independent-sample [[qAbtestChi2]].) One user census
    * builds the 2×2 discordance table; the statistic `(b−c)²/(b+c)` and
    * its continuity-corrected form are exact integer ratios (round-half-up
    * e6). Shapes at 100 TB: one user-keyed census, then a single-row
    * readout — nothing else. */
  def qMcnemar(s: SparkSession, d: String): DataFrame = {
    val user = Tables.events(s, d).groupBy(col("user_id"))
      .agg(expr("max(CASE WHEN event_type = 'error' AND " +
        "ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END)").as("a"),
        expr("max(CASE WHEN event_type = 'error' AND " +
          "ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END)").as("b"))
    user.agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(a = 1 AND b = 0 AS BIGINT)")).as("n_ab"),
        sum(expr("CAST(a = 0 AND b = 1 AS BIGINT)")).as("n_ba"))
      .select(col("n_users"), col("n_ab"), col("n_ba"),
        expr("CASE WHEN n_ab + n_ba = 0 THEN 0 ELSE " +
          s"CAST(${roundDiv("((n_ab - n_ba) * (n_ab - n_ba))", "(n_ab + n_ba)", 1000000L)} " +
          "AS BIGINT) END").as("mcnemar_e6"),
        expr("CASE WHEN n_ab + n_ba = 0 THEN 0 ELSE " +
          s"CAST(${roundDiv("(greatest(abs(n_ab - n_ba) - 1, 0) * greatest(abs(n_ab - n_ba) - 1, 0))",
            "(n_ab + n_ba)", 1000000L)} AS BIGINT) END").as("mcnemar_cc_e6"))
  }

  /** Leave-one-source-out jackknife over the corpus — which source PULLS
    * the pooled document-length profile, the ablation readout a curation
    * loop wants before dropping a source ([[qJsSources]] measures
    * distributional distance; this measures pooled-metric influence).
    * Everything derives from ONE |sources|-row census of exact integer
    * character masses: pooled mean, each leave-one-out mean, and the
    * influence delta are round-half-up e3 ratios of exact longs. */
  def qJackknifeSources(s: SparkSession, d: String): DataFrame = {
    val bySrc = Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    val pooled = bySrc.agg(sum(col("n_docs")).as("nn"), sum(col("chars")).as("ss"))
    bySrc.crossJoin(broadcast(pooled))
      .select(col("source"), col("n_docs"),
        expr(s"CAST(${roundDiv("ss", "nn", 1000L)} AS BIGINT)").as("pooled_mean_e3"),
        expr(s"CAST(${roundDiv("(ss - chars)", "nullif(nn - n_docs, 0)", 1000L)} AS BIGINT)")
          .as("loo_mean_e3"))
      .withColumn("influence_e3", col("loo_mean_e3") - col("pooled_mean_e3"))
      .transform(ps(col("source")))
  }

  /** Bradley-Terry strength fitting from pairwise outcomes — the
    * arena-style model-ranking computation an LLM-eval pipeline runs on
    * preference pairs ([[qPreferencePairs]] mines them; this fits the
    * latent strengths): within each order every part pair "competes"
    * (winner = higher exact cents, tie → lower key — declared), and two
    * declared MM iterations `w'_i = W_i / Σ_j n_ij/(w_i+w_j)` run in e6
    * integer arithmetic (per-pair terms `n_ij·10¹² div (w_i+w_j)` — the
    * truncate-toward-zero division both engines share; no normalization,
    * strengths are scale-free by declaration). Shapes at 100 TB: pair
    * mass is basket-bounded (fact-LINEAR); each iteration is two
    * item-keyed equi-joins of the pair census against the strength
    * table + one map-side census; readout is TakeOrdered top-20. */
  def qBradleyTerry(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_partkey").as("p"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy(col("k"), col("p")).agg(sum(col("cents")).as("cents"))
    // the pair census feeds winsTot plus two joins per MM iteration — five
    // executions of the self-join without a cut (measured 69 s at sf1);
    // truncate once under the configured durability tier (9 s)
    val matches = Checkpoints.truncate(li.as("a")
      .join(li.as("b"), expr("a.k = b.k AND a.p < b.p"))
      .select(col("a.p").as("i"), col("b.p").as("j"),
        expr("CASE WHEN a.cents > b.cents THEN 1 " +
          "WHEN a.cents < b.cents THEN 0 ELSE 1 END").as("win_i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_ij"), sum(col("win_i")).as("wins_i")))
    // winsTot is consumed four times (strength init, each iteration's
    // rebuild, the final readout join) and strength feeds the NEXT
    // iteration's two joins — left declarative, iteration 2's plan embeds
    // iteration 1's whole subtree and the final plan carried 94 Exchanges /
    // 52 SortMergeJoins (plans/r16/q_bradley_terry_before.txt). Truncate
    // both per round (r17, guide §2.4/§3.3 "materialising an intermediate
    // truncates the plan"): each is item-keyed and item-BOUNDED (one row
    // per part — the compact-frame rule the pagerank/kcore loops follow;
    // never the fact or pair mass).
    val winsTot = Checkpoints.truncate(
      matches.select(col("i").as("p"), col("wins_i").as("w"))
        .unionAll(matches.select(col("j").as("p"),
          (col("n_ij") - col("wins_i")).as("w")))
        .groupBy(col("p")).agg(sum(col("w")).as("wins"),
          count(lit(1)).as("n_opp")))
    var strength = winsTot.select(col("p"), lit(1000000L).as("w_e6"))
    (1 to 2).foreach { _ =>
      val terms = matches
        .join(strength.select(col("p").as("i"), col("w_e6").as("wi")), Seq("i"))
        .join(strength.select(col("p").as("j"), col("w_e6").as("wj")), Seq("j"))
        .select(col("i"), col("j"), col("n_ij"),
          expr("(n_ij * 1000000000000) div (wi + wj)").as("t_e6"))
      val denom = terms.select(col("i").as("p"), col("t_e6"))
        .unionAll(terms.select(col("j").as("p"), col("t_e6")))
        .groupBy(col("p")).agg(sum(col("t_e6")).as("d_e6"))
      strength = Checkpoints.truncate(winsTot.join(denom, Seq("p"))
        .select(col("p"),
          expr("CASE WHEN d_e6 = 0 THEN 1000000 " +
            "ELSE (wins * 1000000000000) div d_e6 END").as("w_e6")))
    }
    winsTot.join(strength, Seq("p"))
      .select(col("p"), col("wins"), col("n_opp"), col("w_e6"))
      .orderBy(col("w_e6").desc, col("p"))
      .limit(20)
  }

  /** Simpson's-paradox audit — does the pooled association between deep
    * discounting and returns REVERSE inside any brand? (The
    * aggregation-trust check every dashboard rollup needs;
    * [[qReaggAudit]] checks additive re-aggregation, this checks
    * directional.) x = discount ≥ 5 %, y = returned; per-brand and pooled
    * risk differences `P(y|x) − P(y|¬x)` are exact ppm integers from one
    * map-side census over the bounded brand grid; `reversed` flags a
    * strict sign flip vs the pooled direction. */
  def qSimpsonReversal(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("CAST(l_discount >= 0.05 AS BIGINT)").as("x"),
        expr("CAST(l_returnflag = 'R' AS BIGINT)").as("y"))
    val byBrand = cells.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("nx"),
        sum(expr("x * y")).as("nxy"),
        sum(expr("(1 - x) * y")).as("nny"))
    val dppm = (nxy: String, nx: String, nny: String, n: String) =>
      s"CASE WHEN $nx = 0 OR $n - $nx = 0 THEN CAST(0 AS BIGINT) ELSE " +
        s"CAST(${ppmDiv(nxy, nx)} AS BIGINT) - " +
        s"CAST(${ppmDiv(nny, s"($n - $nx)")} AS BIGINT) END"
    val pooled = byBrand.agg(sum(col("n")).as("pn"), sum(col("nx")).as("pnx"),
        sum(col("nxy")).as("pnxy"), sum(col("nny")).as("pnny"))
      .select(expr(dppm("pnxy", "pnx", "pnny", "pn")).as("pooled_d_ppm"))
    byBrand.crossJoin(broadcast(pooled))
      .select(col("brand"), col("n"),
        expr(dppm("nxy", "nx", "nny", "n")).as("d_ppm"), col("pooled_d_ppm"))
      .withColumn("reversed",
        expr("CAST(d_ppm * pooled_d_ppm < 0 AS BIGINT)"))
      .transform(ps(col("brand")))
  }

  /** 5-fold cross-validated OLS — [[qOlsClosed]] made honest about
    * generalization, in TWO passes total: pass 1 is the same nine-sum
    * census GROUPED by Knuth-hash fold (5 rows); each fold's TRAIN model
    * solves on the pooled-minus-fold sums (the jackknife complement — no
    * per-fold rescan), pass 2 scores every row against its fold's
    * out-of-fold betas (5-row broadcast) and censuses the e0-snapped
    * squared residuals. Out-of-fold R² per fold from exact integers
    * through shared double expressions. This is the distributed-CV
    * shape: fold models from ONE census, evaluation in ONE scan. */
  def qCrossvalOls(s: SparkSession, d: String): DataFrame = {
    val foldExpr = "(((l_orderkey * 10 + l_linenumber) % 2147483648) " +
      "* 2654435761) % 4294967296 % 5"
    val cells = Tables.lineitem(s, d).select(
      expr(foldExpr).as("fold"),
      expr("CAST(l_quantity AS BIGINT)").as("x1"),
      expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("x2"),
      expr("CAST(round(l_extendedprice, 0) AS BIGINT)").as("y"))
    val byFold = cells.groupBy(col("fold"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"), sum(expr("x1 * y")).as("s1y"),
        sum(expr("x2 * y")).as("s2y"), sum(expr("y * y")).as("syy"))
    val pooled = byFold.agg(sum(col("n")).as("pn"), sum(col("s1")).as("p1"),
      sum(col("s2")).as("p2"), sum(col("sy")).as("py"),
      sum(col("s11")).as("p11"), sum(col("s12")).as("p12"),
      sum(col("s22")).as("p22"), sum(col("s1y")).as("p1y"),
      sum(col("s2y")).as("p2y"))
    val dec = "CAST(%s AS DECIMAL(38,0))"
    def cm(a: String, b: String, ab: String) = // centered ×n train moment
      s"${dec.format("tn")} * ($ab) - ${dec.format(a)} * ${dec.format(b)}"
    val models = byFold.crossJoin(broadcast(pooled))
      .select(col("fold"), col("n").as("n_test"),
        col("sy").as("tsy"), col("syy").as("tsyy"),
        expr("pn - n").as("tn"), expr("p1 - s1").as("t1"),
        expr("p2 - s2").as("t2"), expr("py - sy").as("ty"),
        expr("p11 - s11").as("t11"), expr("p12 - s12").as("t12"),
        expr("p22 - s22").as("t22"), expr("p1y - s1y").as("t1y"),
        expr("p2y - s2y").as("t2y"))
      .select(col("fold"), col("n_test"), col("tsy"), col("tsyy"),
        col("tn"), col("t1"), col("t2"), col("ty"),
        expr(cm("t1", "t1", "t11")).as("a11"),
        expr(cm("t1", "t2", "t12")).as("a12"),
        expr(cm("t2", "t2", "t22")).as("a22"),
        expr(cm("t1", "ty", "t1y")).as("b1"),
        expr(cm("t2", "ty", "t2y")).as("b2"))
      .withColumn("det", expr("CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)"))
      .withColumn("beta1d", expr("(CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE)) / nullif(det, 0)"))
      .withColumn("beta2d", expr("(CAST(b2 AS DOUBLE) * CAST(a11 AS DOUBLE) " +
        "- CAST(b1 AS DOUBLE) * CAST(a12 AS DOUBLE)) / nullif(det, 0)"))
      .withColumn("b0d", expr("(CAST(ty AS DOUBLE) - beta1d * CAST(t1 AS DOUBLE) " +
        "- beta2d * CAST(t2 AS DOUBLE)) / nullif(CAST(tn AS DOUBLE), 0)"))
    val sse = cells.join(broadcast(models.select(col("fold"), col("b0d"),
        col("beta1d"), col("beta2d"))), Seq("fold"))
      .select(col("fold"), expr("CAST(round((CAST(y AS DOUBLE) - b0d " +
        "- beta1d * CAST(x1 AS DOUBLE) - beta2d * CAST(x2 AS DOUBLE)) " +
        "* (CAST(y AS DOUBLE) - b0d - beta1d * CAST(x1 AS DOUBLE) " +
        "- beta2d * CAST(x2 AS DOUBLE)), 0) AS BIGINT)").as("r2t"))
      .groupBy(col("fold")).agg(sum(col("r2t")).as("sse"))
    models.join(sse, Seq("fold"))
      .select(col("fold"), col("n_test"),
        expr("CAST(round(beta1d * 1000000, 0) AS BIGINT)").as("beta_qty_e6"),
        expr("CAST(round(beta2d * 1000000, 0) AS BIGINT)").as("beta_disc_e6"),
        expr("CAST(round((1.0D - CAST(sse AS DOUBLE) * CAST(n_test AS DOUBLE) " +
          "/ nullif(CAST(n_test AS DOUBLE) * CAST(tsyy AS DOUBLE) " +
          "- CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE), 0)) * 1000000, 0) " +
          "AS BIGINT)").as("oof_r2_ppm"))
      .transform(ps(col("fold")))
  }

  /** Margin-based uncertainty sampling — the active-learning acquisition
    * step: score every embedding with [[qLogisticStep]]'s final (step-3)
    * weights and surface the 20 rows the model is LEAST sure about
    * (|p − ½| smallest). The e9-snapped probability makes the margin an
    * exact integer, so the top-k is a total-order TakeOrdered, not a
    * float sort; the weight frame is the same 1-row broadcast the GD
    * iterate uses. */
  def qUncertaintySample(s: SparkSession, d: String): DataFrame = {
    val w = logisticFold(s, d, 3)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("CAST(embedding[0] AS DOUBLE)").as("x1"),
        expr("CAST(embedding[1] AS DOUBLE)").as("x2"))
      .crossJoin(broadcast(w.select(col("w0"), col("w1"), col("w2"))))
      .withColumn("p_e9", expr("CAST(round(1000000000 / (1.0D + " +
        "exp(-(CAST(w0 AS DOUBLE) / 1e9 + CAST(w1 AS DOUBLE) / 1e9 * x1 " +
        "+ CAST(w2 AS DOUBLE) / 1e9 * x2))), 0) AS BIGINT)"))
      .withColumn("margin_e9", expr("abs(p_e9 - 500000000)"))
      .select(col("vec_id"), col("label"), col("p_e9"), col("margin_e9"))
      .orderBy(col("margin_e9"), col("vec_id"))
      .limit(20)
  }

  /** Hierarchical (bill-of-materials style) subtree rollup over the
    * DECLARED 10-ary part forest `parent(p) = p div 10` — the
    * category-tree aggregation pattern, executed with ZERO joins: a
    * part's k-th ancestor is pure key arithmetic (`p div 10^k`, the
    * Dremel-style path encoding), so the whole rollup is one revenue
    * census exploded to its ≤ 5 ancestor levels and re-aggregated —
    * map-side combinable end to end. Subtree = self + strict descendants
    * at most 4 levels below; top-20 ancestors by subtree revenue via
    * TakeOrdered. At 100 TB this is the difference between a recursive
    * self-join per level and a fixed 5× row-local expansion. */
  def qBomRollup(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d).groupBy(col("l_partkey").as("p"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("cents"))
    val levels = s.range(5).toDF("k")
    rev.crossJoin(broadcast(levels))
      .select(expr("p div CAST(pow(10, k) AS BIGINT)").as("anc"),
        col("k"), col("cents"))
      .where(col("anc") > 0L)
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_contrib"), sum(col("cents")).as("subtree_cents"),
        max(col("k")).as("max_depth"))
      .orderBy(col("subtree_cents").desc, col("anc"))
      .limit(20)
  }

  /** Permutation test for the arm contrast — inference without a
    * distributional assumption ([[qAbtestChi2]] assumes χ²;
    * [[qBootstrapCi]] resamples WITHIN arms; this re-randomizes the
    * assignment itself): 64 deterministic pseudo-permutations flip each
    * user's arm by a Knuth hash of (user, rep), the observed and all 64
    * null mean contrasts are exact e6 integers (round-half-up over exact
    * e3 user masses), and the add-one p-value counts null contrasts at
    * least as extreme. The 64× expansion is row-local and combines
    * map-side to 65 cells — the [[qBootstrapCi]] exchange shape. */
  def qPermutationTest(s: SparkSession, d: String): DataFrame = {
    val user = Tables.events(s, d).select(col("user_id"),
        expr("CAST(round(value * 1000, 0) AS BIGINT)").as("v"))
      .groupBy(col("user_id")).agg(sum(col("v")).as("m"))
    val reps = s.range(64).toDF("rep")
    val assigned = user.crossJoin(broadcast(reps))
      .select(col("rep"), col("m"),
        expr("(((user_id * 131 + rep * 2654435761 + 17) % 2147483648) " +
          "* 2654435761) % 4294967296 % 2").as("g"))
    val nulls = assigned.groupBy(col("rep"))
      .agg(count(lit(1)).as("n"), sum(expr("g")).as("n1"),
        sum(expr("CASE WHEN g = 1 THEN m ELSE CAST(0 AS BIGINT) END")).as("s1"),
        sum(expr("CASE WHEN g = 0 THEN m ELSE CAST(0 AS BIGINT) END")).as("s0"))
      .select(col("rep"),
        expr("CASE WHEN n1 = 0 OR n - n1 = 0 THEN CAST(0 AS BIGINT) ELSE " +
          s"CAST(${roundDiv("s1", "n1", 1000L)} AS BIGINT) - " +
          s"CAST(${roundDiv("s0", "(n - n1)", 1000L)} AS BIGINT) END").as("d_e6"))
    val obs = user.select((col("user_id") % 2).as("g"), col("m"))
      .groupBy().agg(count(lit(1)).as("n"), sum(expr("g")).as("n1"),
        sum(expr("CASE WHEN g = 1 THEN m ELSE CAST(0 AS BIGINT) END")).as("s1"),
        sum(expr("CASE WHEN g = 0 THEN m ELSE CAST(0 AS BIGINT) END")).as("s0"))
      .select(expr(s"CAST(${roundDiv("s1", "nullif(n1, 0)", 1000L)} AS BIGINT) - " +
        s"CAST(${roundDiv("s0", "nullif(n - n1, 0)", 1000L)} AS BIGINT)").as("obs_d_e6"))
    nulls.crossJoin(broadcast(obs))
      .agg(first(col("obs_d_e6")).as("obs_d_e6"),
        count(lit(1)).as("n_reps"),
        sum(expr("CAST(abs(d_e6) >= abs(obs_d_e6) AS BIGINT)")).as("n_extreme"))
      .select(col("obs_d_e6"), col("n_reps"), col("n_extreme"),
        expr(s"CAST(${ppmDiv("(n_extreme + 1)", "(n_reps + 1)")} AS BIGINT)")
          .as("p_ppm"))
  }

  private[graft] final val PrCap = 8

  /** PageRank ITERATED with per-round convergence telemetry
    * ([[qPagerankStep]] is the single superstep this loops; the loop
    * discipline is [[qKcore]]'s): damping 0.85, rank in exact ppm,
    * update `r' = 150000 + (85·Σ(r div deg)) div 100` over the
    * ≥2-co-ordered part graph, [[PrCap]] = 8 declared rounds. The trace
    * row per round carries `max |Δr|` — on the harness graphs it shows
    * the textbook geometric 0.85-decay (1.29e6 → 85 ppm at sf0.001)
    * WITHOUT reaching the exact integer fixpoint inside the cap, which
    * is the honest answer; because the dynamics are pure integer
    * functions of the previous vector, the early-exit path (`max|Δr| =
    * 0`, after which every round is provably identical and the trace
    * pads) is exact whenever it does engage, never an epsilon call.
    * Execution discipline: the symmetric edge+degree frame is
    * checkpoint-cut ONCE, each round is one edge-keyed join + map-side
    * contribution census, per-round stats ride a fused `observe` on the
    * same materialization (one job per round), and every round's lineage
    * truncates under the configured durability tier. */
  def qPagerankIter(s: SparkSession, d: String): DataFrame =
    pagerankTrace(s, d)._1

  /** The PageRank loop; returns (trace, rounds executed THIS RUN) so the
    * spec can pin both early termination and — under the resumable tier
    * ([[IterResume.DirConf]]) — that a restart after a mid-iteration kill
    * re-executes none of the committed rounds: each round's rank frame +
    * trace row persist as parquet (the parquet read-back doubling as the
    * round's lineage cut), and a fresh call finds the last complete round
    * and continues from it with the identical integer dynamics, so the
    * final trace is bit-equal to an unkilled run's. */
  private[graft] def pagerankTrace(s: SparkSession, d: String): (DataFrame, Int) = {
    import s.implicits._
    val e0 = coPurchaseGraph(s, d)._1
    // Manifest binding BEFORE anything else runs under the resumable tier:
    // the fingerprint is over the SOURCE rows the graph is a deterministic
    // function of (a pure scan + map-side-combinable xor agg — cheaper than
    // fingerprinting the self-joined edge set), so a DirConf left set
    // across two fixtures throws here instead of resuming the wrong run.
    val resumeDir = IterResume.dir(s, "pagerank")
    resumeDir.foreach(rd => IterResume.checkOrInit(s, rd, IterResume.descriptor(
      "pagerank", s"cap=$PrCap",
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")))))
    // ONE materialization of the edge set (r16, guide §2.4): exchange reuse
    // does not span executions, so the emptiness probe, the round-0 rank
    // build and the symDeg cut each re-ran the 3-shuffle co-purchase build
    // (~0.55 s × 3 at sf0.1, job profile) — every consumer below reads this
    // checkpoint instead. The probe rides the same frame.
    val e = Checkpoints.truncate(e0)
    if (e.isEmpty) {
      e.unpersist()
      val rows = (1 to PrCap).map(i => (i.toLong, 0L, 0L, 0L, 1L))
      return (rows.toDF("round", "n_nodes", "sum_rank_ppm", "max_delta_ppm",
        "converged"), 0)
    }
    // Degree census from the checkpointed edges, one scan (explode, not a
    // two-scan unionAll — same rows, half the reads).
    val deg = e
      .select(explode(array(col("pa"), col("pb"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Probe resume FIRST (ADVICE r15): on a resumed run the round-0 rank
    // build is dead work and its eager truncate would strand checkpoint
    // blocks; build it only when no committed round exists. symDeg is
    // needed only if the loop actually runs (a fully-converged resume
    // skips it), hence lazily built on first loop entry.
    val resumed = resumeDir.flatMap(IterResume.resume(s, _))
    var symDegCache: DataFrame = null
    def symDeg: DataFrame = {
      if (symDegCache == null) symDegCache = Checkpoints.truncate(
        e.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
          .join(deg.withColumnRenamed("n", "src"), Seq("src")))
      symDegCache
    }
    var trace = Vector.empty[(Long, Long, Long, Long, Long)]
    var rounds = 0
    var executed = 0
    var converged = false
    var ranks: DataFrame = null
    resumed match {
      case Some((k, saved, rows)) =>
        rounds = k
        ranks = saved
        trace = rows.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        converged = trace.last._5 == 1L
      case None =>
        ranks = Checkpoints.truncate(
          deg.select(col("n"), lit(1000000L).as("r")))
    }
    while (!converged && rounds < PrCap) {
      val obs = org.apache.spark.sql.Observation()
      // One exchange fewer per round (r16, guide §2.4): instead of
      // aggregating contributions and re-JOINING the previous ranks to
      // read r_prev (a third exchange), the previous rank rides the same
      // union-aggregate as the contributions — every node holds degree
      // ≥ 1 in the symmetric graph, so the contribution group set equals
      // the rank node set and the inner-join semantics are preserved
      // exactly (same groups, same integer sums; oracle-verified).
      val next0 = symDeg
        .join(ranks.withColumnRenamed("n", "src"), Seq("src"))
        .select(col("dst").as("n"), expr("r div d").as("c"),
          lit(null).cast("long").as("rp"))
        .unionAll(ranks.select(col("n"),
          lit(null).cast("long").as("c"), col("r").as("rp")))
        .groupBy(col("n"))
        .agg(sum(col("c")).as("sc"), max(col("rp")).as("r_prev"))
        .select(col("n"),
          (lit(150000L) + expr("(85 * sc) div 100")).as("r"), col("r_prev"))
        .observe(obs,
          max(abs(col("r") - col("r_prev"))).as("md"),
          sum(col("r")).as("sr"), count(lit(1)).as("nn"),
          // Invariant guard (ADVICE r16): the union-aggregate assumes every
          // node receives ≥1 contribution (degree ≥ 1 in the symmetric
          // graph). A break — e.g. resume state from a different builder —
          // would make sum(c) null, hence r = 150000 + null = null, and the
          // max(md) observe would swallow it silently; count the breaks so
          // the check below fails LOUDLY. (sc itself is projected away
          // before the observe; r.isNull is its exact alias.)
          sum(when(col("r").isNull, 1L).otherwise(0L)).as("null_sc"))
        .select(col("n"), col("r"))
      // Resumable tier: the parquet commit IS the round's materialization
      // and lineage cut; otherwise the configured Checkpoints tier cuts.
      val next = resumeDir match {
        case Some(rd) => IterResume.commitState(next0, rd, rounds + 1)
        case None     => Checkpoints.truncate(next0)
      }
      val m = obs.get
      val nullSc = m("null_sc").asInstanceOf[Long]
      require(nullSc == 0L,
        s"pagerank round ${rounds + 1}: $nullSc node(s) received no " +
          "contribution — degree>=1 invariant broken (stale resume state?)")
      val md = m("md").asInstanceOf[Long]
      val sr = m("sr").asInstanceOf[Long]
      val nn = m("nn").asInstanceOf[Long]
      converged = md == 0L
      rounds += 1
      executed += 1
      val row = (rounds.toLong, nn, sr, md, if (converged) 1L else 0L)
      trace :+= row
      resumeDir.foreach(rd => IterResume.commitTrace(
        Seq(row).toDF("round", "n_nodes", "sum_rank_ppm", "max_delta_ppm",
          "converged"), rd, rounds))
      ranks.unpersist()
      ranks = next
    }
    ranks.unpersist()
    e.unpersist()
    if (symDegCache != null) symDegCache.unpersist()
    val tail = trace.last
    val full = trace ++ (rounds + 1 to PrCap)
      .map(i => (i.toLong, tail._2, tail._3, 0L, 1L))
    (full.toDF("round", "n_nodes", "sum_rank_ppm", "max_delta_ppm",
      "converged"), executed)
  }

  /** Modularity of the brand partition on the co-purchase graph — the
    * community-QUALITY readout that scores what [[qLabelProp]] proposes:
    * `Q = Σ_c (e_c/m − (a_c/2m)²)` decomposed per community, every term
    * an exact integer ratio (the squared degree-mass term in
    * DECIMAL(38,0)/HUGEINT — it passes 2⁶³ at fleet scale). One edge
    * census with the bounded brand dim broadcast onto both endpoints,
    * one degree census — bounded |brands| output. */
  def qGraphModularity(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    val brand = broadcast(Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand")))
    val labeled = e
      .join(brand.select(col("p_partkey").as("pa"), col("p_brand").as("ba")), Seq("pa"))
      .join(brand.select(col("p_partkey").as("pb"), col("p_brand").as("bb")), Seq("pb"))
    val m = e.agg(count(lit(1)).as("m"))
    val eIn = labeled.where(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_in"))
    val aC = deg
      .join(brand.select(col("p_partkey").as("n"), col("p_brand").as("brand")), Seq("n"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("a_c"))
    aC.join(eIn, Seq("brand"), "left")
      .crossJoin(broadcast(m))
      .select(col("brand"), col("n_nodes"), col("a_c"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"),
        expr("CAST((coalesce(e_in, CAST(0 AS BIGINT)) * 1000000) div m AS BIGINT) " +
          "- CAST((CAST(a_c AS DECIMAL(38,0)) * CAST(a_c AS DECIMAL(38,0)) " +
          "* 1000000) div (4 * CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))) " +
          "AS BIGINT)").as("q_contrib_ppm"))
      .drop("m")
      .transform(ps(col("brand")))
  }

  /** Degree assortativity of the co-purchase graph — do hub parts link
    * to hubs? Pearson correlation of endpoint degrees over the
    * symmetric edge list (each direction counted, the standard Newman
    * formulation): two item-keyed degree joins onto the edge stream,
    * exact centered sums in DECIMAL(38,0)/HUGEINT, presented through
    * the shared `num / sqrt(d1·d2)` double. One row. */
  def qAssortativity(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    val dec = "CAST(%s AS DECIMAL(38,0))"
    // r17 (guide §2.3/§2.4): the symmetric-edge expansion is ALGEBRAIC, not
    // physical — over sym each undirected edge contributes (da,db) AND
    // (db,da), so m2 = 2·|e|, sx = sy = Σ(da+db), sxx = syy = Σ(da²+db²),
    // sxy = 2·Σ(da·db). Joining deg onto e ONCE computes the identical
    // integer moments with half the join rows and one fewer e build (e is
    // declarative; the old sym unionAll re-executed the 3-shuffle edge
    // build twice — zero runtime stage reuse). Downstream expressions
    // unchanged; oracle re-proves equality.
    e
      .join(deg.select(col("n").as("pa"), col("d").as("x")), Seq("pa"))
      .join(deg.select(col("n").as("pb"), col("d").as("y")), Seq("pb"))
      .agg((count(lit(1)) * 2L).as("m2"),
        sum(col("x") + col("y")).as("sx"),
        sum(expr(s"${dec.format("x")} * ${dec.format("x")} + " +
          s"${dec.format("y")} * ${dec.format("y")}")).as("sxx"),
        sum(expr(s"2 * ${dec.format("x")} * ${dec.format("y")}")).as("sxy"))
      .select(col("m2"), col("sx"), col("sx").as("sy"),
        col("sxx"), col("sxx").as("syy"), col("sxy"))
      .select(col("m2"),
        expr(s"${dec.format("m2")} * sxy - ${dec.format("sx")} * ${dec.format("sy")}").as("num"),
        expr(s"${dec.format("m2")} * sxx - ${dec.format("sx")} * ${dec.format("sx")}").as("d1"),
        expr(s"${dec.format("m2")} * syy - ${dec.format("sy")} * ${dec.format("sy")}").as("d2"))
      .select(col("m2").as("m_directed_edges"),
        expr("CASE WHEN d1 = 0 OR d2 = 0 THEN 0 ELSE " +
          "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) " +
          "* CAST(d2 AS DOUBLE)) * 1000000, 0) AS BIGINT) END").as("r_e6"))
  }

  /** Wilcoxon-Mann-Whitney rank-sum test — the nonparametric two-sample
    * location test beside [[qKsDrift]]'s distribution distance and
    * [[qAbtestChi2]]'s categorical test: order-total cents by arm
    * (orderkey parity). Exact path: one distinct-value census (n₀, n₁
    * per cent value), the scalable two-phase prefix sum supplies each
    * value's rank-before count (never a single-task window over the
    * value frame), tie-averaged ranks carried ×2 so everything stays
    * integer (`2·avgrank = 2·before + t + 1`), and the tie-corrected
    * normal approximation presents z through shared double expressions
    * from DECIMAL(38,0)/HUGEINT moments (`Σ(t³−t)` passes 2⁶³ under
    * heavy ties at fleet scale). One row. */
  def qMannWhitney(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.orders(s, d).select(
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("v"),
      (col("o_orderkey") % 2).as("arm"))
    val census = vals.groupBy(col("v"))
      .agg(count(lit(1)).as("t"), sum(col("arm")).as("n1v"))
    val ranked = Ops.runningSums(census, Nil, Seq("v"), "cum" -> col("t"))
      .withColumn("before", col("cum") - col("t"))
    val dec = "CAST(%s AS DECIMAL(38,0))"
    ranked
      .agg(sum(col("t") - col("n1v")).as("n0"), sum(col("n1v")).as("n1"),
        sum(expr("n1v * (2 * before + t + 1)")).as("r1_x2"),
        sum(expr(s"(${dec.format("t")} * ${dec.format("t")} * ${dec.format("t")}) - ${dec.format("t")}"))
          .as("tie3"))
      .select(col("n0"), col("n1"),
        expr("r1_x2 - n1 * (n1 + 1)").as("u1_x2"), col("tie3"),
        expr(s"${dec.format("n0")} + ${dec.format("n1")}").as("nn"))
      .select(col("n0"), col("n1"), col("u1_x2"),
        expr("CASE WHEN n0 = 0 OR n1 = 0 THEN 0 ELSE CAST(round(" +
          "(CAST(u1_x2 AS DOUBLE) / 2.0D - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 2.0D) " +
          "/ nullif(sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0D " +
          "* ((CAST(nn AS DOUBLE) + 1.0D) - CAST(tie3 AS DOUBLE) " +
          "/ (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0D)))), 0) " +
          "* 1000000, 0) AS BIGINT) END").as("z_e6"))
  }

  /** Directed association rules with confidence and conviction — the
    * rule-emission step past [[qPartAffinity]]'s symmetric lift and
    * [[qFrequentTriples]]' itemsets: each frequent pair yields both
    * directions, `conf(i→j) = n_ij/n_i` exact ppm and
    * `conviction(i→j) = n_i·(N − n_j) / (N·(n_i − n_ij))` exact e6 in
    * DECIMAL(38,0)/HUGEINT (∞ when conf = 1 → sentinel 999999999).
    * Basket-bounded pair census + broadcast item counts; top-20 rules by
    * (confidence, support) — no absolute confidence floor, because random
    * baskets dilute item supports as the corpus grows and a fixed floor
    * would empty the readout at scale. */
  def qRuleConfidence(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    val nOrders = op.select(col("k")).distinct().agg(count(lit(1)).as("nn"))
    val item = op.groupBy(col("p")).agg(count(lit(1)).as("np"))
    val pair = op.as("a").join(op.as("b"), expr("a.k = b.k AND a.p < b.p"))
      .groupBy(col("a.p").as("i"), col("b.p").as("j"))
      .agg(count(lit(1)).as("n_ij"))
      .where(col("n_ij") >= 5L)
    // r17 note: explode-struct rule emission (one census pass) plus a
    // truncate of the item census were tried and measured WORSE together
    // (1.80 → 2.61 s quiet min-of-4): the duplicated declarative branches
    // schedule as CONCURRENT stages over idle cores, while the eager
    // truncate serializes the whole census into a blocking step. Kept
    // declarative — same lesson as the coPurchaseGraph experiment.
    val rules = pair.select(col("i"), col("j"), col("n_ij"))
      .unionAll(pair.select(col("j").as("i"), col("i").as("j"), col("n_ij")))
    rules
      .join(broadcast(item.select(col("p").as("i"), col("np").as("n_i"))), Seq("i"))
      .join(broadcast(item.select(col("p").as("j"), col("np").as("n_j"))), Seq("j"))
      .crossJoin(broadcast(nOrders))
      .select(col("i"), col("j"), col("n_ij"), col("n_i"), col("n_j"),
        expr(s"CAST(${ppmDiv("n_ij", "n_i")} AS BIGINT)").as("conf_ppm"),
        expr("CASE WHEN n_i = n_ij THEN CAST(999999999 AS BIGINT) ELSE " +
          "CAST((CAST(n_i AS DECIMAL(38,0)) * (CAST(nn AS DECIMAL(38,0)) " +
          "- CAST(n_j AS DECIMAL(38,0))) * 1000000) div " +
          "(CAST(nn AS DECIMAL(38,0)) * (CAST(n_i AS DECIMAL(38,0)) " +
          "- CAST(n_ij AS DECIMAL(38,0)))) AS BIGINT) END").as("conviction_e6"))
      .orderBy(col("conf_ppm").desc, col("n_ij").desc, col("i"), col("j"))
      .limit(20)
  }

  /** Benjamini-Hochberg FDR control over per-brand permutation p-values —
    * the multiple-testing discipline a 25-brand screen needs before
    * acting on [[qSimpsonReversal]]-style per-group contrasts, EXACT end
    * to end: per brand, the observed return-rate arm contrast and 64
    * Knuth-hash null contrasts give an add-one permutation p = e/65 with
    * integer numerator e; the BH step-up `p_(k) ≤ k·α/m` (α = 0.1)
    * cross-multiplies to `e·10·m ≤ k·65` with m COUNTED from the ranked
    * brand frame — not hardcoded, so the realized FDR level adapts if the
    * brand universe ever differs from TPC-H's 25. No float ever decides
    * a rejection. The 65-arm census is EXPANSION-FREE: one fact scan
    * emits 2 + 2·64 conditional sums per brand (each replicate's (n1, s1);
    * the shared (n, Σy) gives its complement arm by subtraction), so no
    * 64×-materialized row ever exists — the r11 form expanded 600 k rows
    * to 38 M through the aggregate and cost 8.3 s at sf0.1 / 109 s at
    * 100×; this form is the same map-side census on 1/64th the rows
    * (measured 3.9 s / 24.9 s, total shuffle 3.7 MB → 0.2 MB). The
    * 25-row census then unpivots via `stack`
    * to the (brand, rep) grid and the step-up runs on the bounded brand
    * frame, unchanged. */
  def qFdrBh(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_orderkey").as("k"),
        expr("CAST(l_returnflag = 'R' AS BIGINT)").as("y"))
    // r17 (guide §1.1 first-principles): the declared replicate arm
    //   (((k·131 + r·2654435761 + 17) mod 2³¹) · 2654435761) mod 2³² mod 2
    // is EXACTLY (k + r + 1) mod 2 for every k ≥ 0, r ≥ 0 — the two mods
    // are by powers of two (they keep bit 0), and 131, 2654435761 and 17
    // are all odd (multiplying by an odd number keeps parity; verified
    // numerically over 2·10⁵ random (k, r) at round 17). So replicate r
    // assigns arm = k%2 when r is odd (the OBSERVED split) and its exact
    // complement when r is even; the floored-ppm contrast of the
    // complement split is the exact negation (same two terms swapped),
    // hence |d_rep| = |obs_d| for ALL 64 replicates on ANY input and the
    // add-one count is the constant e = 65 (ties count, per the declared
    // `abs(d) >= abs(obs)`; the n1 ∈ {0, n} degenerate arms zero BOTH
    // sides). The 64-replicate census therefore collapses to the 4-sum
    // observed census — ~130 aggregate buffers × |fact| evaluations
    // removed; the oracle keeps the full declared enumeration, so the
    // hash match re-proves the identity on every fixture.
    val census = cells.groupBy(col("brand")).agg(
      count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(expr("CAST(k % 2 AS BIGINT)")).as("obs_n1"),
      sum(expr("(k % 2) * y")).as("obs_s1"))
    // d_ppm from an arm's (n1, s1) against the shared totals: s0 = sy − s1,
    // n0 = n − n1 (y and arm are 0/1 indicators, so the subtraction is the
    // exact complement census)
    def dPpm(n1: String, s1: String): String =
      s"CASE WHEN $n1 = 0 OR n - $n1 = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST(${ppmDiv(s1, n1)} AS BIGINT) - " +
        s"CAST(${ppmDiv(s"(sy - $s1)", s"(n - $n1)")} AS BIGINT) END"
    val e = census
      .select(col("brand"), expr(dPpm("obs_n1", "obs_s1")).as("obs_d_ppm"),
        lit(65L).as("e"))
    val ranked = e.withColumn("rank",
      row_number().over(Window.orderBy(col("e"), col("brand"))).cast("bigint"))
    val m = ranked.agg(count(lit(1)).as("m"))
    val kmax = ranked.crossJoin(broadcast(m)).agg(coalesce(max(when(
      col("e") * 10L * col("m") <= col("rank") * 65L, col("rank"))), lit(0L)).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("brand"), col("obs_d_ppm"), col("e"),
        expr(s"CAST(${ppmDiv("e", "65")} AS BIGINT)").as("p_ppm"),
        col("rank"),
        (col("rank") <= col("kmax")).cast("bigint").as("rejected"))
      .transform(ps(col("brand")))
  }

  /** Power analysis for the next experiment — the design-of-experiments
    * readout that closes the loop the [[qAbtestChi2]]/[[qCuped]]/
    * [[qSprt]] tier opens: per-arm sample size to detect a 2 % relative
    * lift of the event-value mean at α = 0.05, power 0.80,
    * `n = (z_{α/2}+z_β)²·2σ²/δ²` with the z-sum HARDCODED e9
    * (1.959963985 + 0.841621234 — no cross-engine quantile function).
    * Pooled variance from one exact e3-snapped census; the final n and
    * the achieved-power-at-current-n inputs present through shared
    * double expressions. One row. */
  def qPowerAnalysis(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(expr("CAST(round(value * 1000, 0) AS BIGINT)").as("v"))
    val dec = "CAST(%s AS DECIMAL(38,0))"
    cells.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(expr(s"${dec.format("v")} * ${dec.format("v")}")).as("svv"))
      .select(col("n"), col("sv"),
        expr(s"${dec.format("n")} * svv - ${dec.format("sv")} * ${dec.format("sv")}").as("cvv"))
      .select(col("n"),
        // σ² and δ = 0.02·mean, both in e3 units, exact inputs → doubles
        expr("CAST(round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 0) AS BIGINT)")
          .as("mean_e3"),
        expr("CAST(round(CAST(cvv AS DOUBLE) / (CAST(n AS DOUBLE) " +
          "* CAST(n AS DOUBLE)), 0) AS BIGINT)").as("var_e6"),
        expr("CAST(round(2.801585219 * 2.801585219 * 2.0D " +
          "* (CAST(cvv AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) " +
          "/ ((0.02D * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) " +
          "* (0.02D * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))), 0) AS BIGINT)")
          .as("n_per_arm"))
  }

  /** Effective sample size of the length-proportional importance weights
    * per source — the resampling-health check a [[qDsirWeights]]-style
    * reweighting needs before training on it: `ESS = (Σw)²/Σw²` with
    * w = n_chars (exact longs; squares in DECIMAL(38,0)/HUGEINT),
    * reported as exact-ppm efficiency `ESS/n` per source and pooled.
    * One |sources|-row census — a weight distribution whose efficiency
    * collapses says the reweighting is a subsample in disguise. */
  def qEssWeights(s: SparkSession, d: String): DataFrame = {
    val dec = "CAST(%s AS DECIMAL(38,0))"
    val bySrc = Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sw"),
        sum(expr(s"${dec.format("n_chars")} * ${dec.format("n_chars")}")).as("sww"))
    val pooled = bySrc.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sw")).as("sw"), sum(col("sww")).as("sww"))
      .select(lit("__all__").as("source"), col("n_docs"), col("sw"), col("sww"))
    bySrc.unionByName(pooled)
      .select(col("source"), col("n_docs"),
        expr("CAST(round(CAST(CAST(sw AS DECIMAL(38,0)) " +
          "* CAST(sw AS DECIMAL(38,0)) AS DOUBLE) / CAST(sww AS DOUBLE), 0) " +
          "AS BIGINT)").as("ess"),
        expr("CAST(round(CAST(CAST(sw AS DECIMAL(38,0)) " +
          "* CAST(sw AS DECIMAL(38,0)) AS DOUBLE) / CAST(sww AS DOUBLE) " +
          "/ CAST(n_docs AS DOUBLE) * 1000000, 0) AS BIGINT)").as("efficiency_ppm"))
      .transform(ps(col("source")))
  }

  /** Stratified treatment-effect estimate — the observational-causal
    * adjustment tier ([[qAbtestChi2]] assumes randomization; this
    * adjusts for a confounder when there wasn't any): treatment = the
    * order was expedited (priority 1-2), outcome = any line returned,
    * strata = declared account-balance bands of the ordering customer
    * (`floor(bal) div 2000` — banding identical in both engines by the
    * shared truncate-toward-zero division). Per-stratum risk differences
    * and the n-weighted pooled ATE are exact ppm integers. One order
    * census (per-order outcome flag), one customer equi-join, one
    * bounded strata frame. */
  def qPropensityStrata(s: SparkSession, d: String): DataFrame = {
    val outcome = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(max(expr("CAST(l_returnflag = 'R' AS BIGINT)")).as("y"))
    val cells = Tables.orders(s, d)
      .join(outcome, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"),
        expr("CAST(floor(c_acctbal) AS BIGINT) div 2000").as("stratum")),
        col("o_custkey") === col("c_custkey"))
      .select(col("stratum"),
        expr("CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT)").as("t"),
        col("y"))
    val byStratum = cells.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("nt"),
        sum(expr("t * y")).as("nty"), sum(expr("(1 - t) * y")).as("ncy"))
      .withColumn("d_ppm", expr("CASE WHEN nt = 0 OR n - nt = 0 THEN " +
        s"CAST(0 AS BIGINT) ELSE CAST(${ppmDiv("nty", "nt")} AS BIGINT) - " +
        s"CAST(${ppmDiv("ncy", "(n - nt)")} AS BIGINT) END"))
    val pooled = byStratum
      .agg(sum(col("n")).as("nn"), sum(expr("n * d_ppm")).as("wd"))
      .select(expr("CAST(wd div nn AS BIGINT)").as("ate_ppm"))
    byStratum.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("n"), col("nt"), col("d_ppm"), col("ate_ppm"))
      .transform(ps(col("stratum")))
  }

  /** Kneser-Ney smoothed bigram model — the LM-smoothing tier past
    * [[qBigramPpx]]'s MLE surprisal and [[qLmPerplexity]]'s add-one:
    * absolute discount d = 3/4 (an exact rational, so the whole
    * probability is the exact integer ratio
    * `[(4c12-3)·T + 3·N1+(w1·)·N1+(·w2)] / (4·c1·T)` — no float ever
    * enters), with continuation counts `N1+` from the same bigram
    * census. Shapes at 100 TB: token-keyed map-side censuses only
    * (bigram counts, left/right continuation counts, one scalar T);
    * readout is TakeOrdered top-20 by bigram frequency. */
  def qKnSmooth(s: SparkSession, d: String): DataFrame = {
    val bigrams = Tables.documents(s, d)
      .select(split(lower(Ops.normalizeWs(col("text"))), " ").as("toks"))
      .select(posexplode(col("toks")).as(Seq("pos", "w1")), col("toks"))
      .where(col("pos") < size(col("toks")) - 1)
      .select(col("w1"), expr("toks[pos + 1]").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1fw"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val tTypes = c12.agg(count(lit(1)).as("tt"))
    c12.join(c1, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(tTypes))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        expr(s"CAST(${ppmDiv(
          "((4 * c12 - 3) * tt + 3 * n1fw * ncont)", "(4 * c1 * tt)")} AS BIGINT)")
          .as("p_kn_ppm"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Wilson score interval for each arm's purchase rate — the interval
    * tier the point-estimate A/B readouts lack (a CI communicates what
    * [[qAbtestChi2]]'s p-value cannot): `z = 1.959963985` HARDCODED (no
    * cross-engine quantile), bounds presented through shared double
    * expressions from the exact per-arm (n, k) census. Wilson, not Wald,
    * because it never exits [0,1] and behaves at small k — the interval
    * a rate dashboard should ship. Two rows from one census. */
  def qWilsonCi(s: SparkSession, d: String): DataFrame = {
    val z = "1.959963985D"
    Tables.events(s, d)
      .groupBy((col("user_id") % 2).as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(event_type = 'purchase' AS BIGINT)")).as("k"))
      .select(col("arm"), col("n"), col("k"),
        expr(s"CAST(round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) " +
          s"+ $z * $z / (2.0D * CAST(n AS DOUBLE)) - $z * sqrt(" +
          s"CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1.0D - CAST(k AS DOUBLE) " +
          s"/ CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + $z * $z / (4.0D " +
          s"* CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / (1.0D + $z * $z " +
          s"/ CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)").as("lo_ppm"),
        expr(s"CAST(round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) " +
          s"+ $z * $z / (2.0D * CAST(n AS DOUBLE)) + $z * sqrt(" +
          s"CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1.0D - CAST(k AS DOUBLE) " +
          s"/ CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + $z * $z / (4.0D " +
          s"* CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / (1.0D + $z * $z " +
          s"/ CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)").as("hi_ppm"))
      .transform(ps(col("arm")))
  }

  /** Cohen's kappa between a thresholded model signal and the gold label
    * — chance-corrected agreement, the metric [[qAucPerClass]]'s ranking
    * view and [[qBrierCalibration]]'s probability view both miss: rater
    * A = first embedding dim positive, rater B = label < 5. The whole
    * statistic is ONE exact integer ratio
    * `κ = (n·agree − (a₁b₁ + a₀b₀)) / (n² − (a₁b₁ + a₀b₀))` from a
    * single map-side census, presented e6 through one shared double
    * division (numerator may be negative — κ < 0 means worse than
    * chance). The census products run in DECIMAL(38,0) like the sibling
    * moment queries — n·n passes 2⁶³ at ~3.04e9 rows, where BIGINT would
    * wrap silently in non-ANSI Spark while DuckDB errors. One row. */
  def qCohensKappa(s: SparkSession, d: String): DataFrame = {
    val dec = "CAST(%s AS DECIMAL(38,0))"
    Tables.embeddings(s, d)
      .select(expr("CAST(embedding[0] > CAST(0.0 AS FLOAT) AS BIGINT)").as("a"),
        expr("CAST(label < 5 AS BIGINT)").as("b"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("a1"), sum(col("b")).as("b1"),
        sum(expr("CAST(a = b AS BIGINT)")).as("agree"))
      .select(col("n"), col("a1"), col("b1"), col("agree"),
        expr(s"CAST(round(CAST(${dec.format("n")} * agree - " +
          s"(${dec.format("a1")} * b1 + ${dec.format("(n - a1)")} * (n - b1)) " +
          s"AS DOUBLE) / nullif(CAST(${dec.format("n")} * n - " +
          s"(${dec.format("a1")} * b1 + ${dec.format("(n - a1)")} * (n - b1)) " +
          "AS DOUBLE), 0) * 1000000, 0) AS BIGINT)").as("kappa_e6"))
  }

  /** Kendall tau-b between the revenue ranking and the volume ranking of
    * the top-20 revenue parts — rank correlation, the ordinal
    * association tier ([[qRollingCorr]] is Pearson on values,
    * [[qTopkChurn]] is set overlap; neither asks "do the two metrics
    * ORDER the catalog the same way?"). The corpus pass is one
    * TakeOrdered top-20; concordance counting is the 190-pair
    * self-join of that bounded broadcast frame in exact integers (ties
    * handled by the tau-b correction), with tau presented through the
    * shared `.. / sqrt(d1·d2)` double. One row. */
  def qKendallTau(s: SparkSession, d: String): DataFrame = {
    val top = Tables.lineitem(s, d).groupBy(col("l_partkey").as("p"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("rev"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
      .orderBy(col("rev").desc, col("p"))
      .limit(20)
    val pairs = broadcast(top.as("a"))
      .join(broadcast(top.as("b")), expr("a.p < b.p"))
      .select(
        expr("CAST(sign(a.rev - b.rev) AS BIGINT)").as("sx"),
        expr("CAST(sign(a.qty - b.qty) AS BIGINT)").as("sy"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(sx * sy > 0 AS BIGINT)")).as("nc"),
        sum(expr("CAST(sx * sy < 0 AS BIGINT)")).as("nd"),
        sum(expr("CAST(sx = 0 AS BIGINT)")).as("tx"),
        sum(expr("CAST(sy = 0 AS BIGINT)")).as("ty"))
      .select(col("n_pairs"), col("nc"), col("nd"),
        expr("CASE WHEN n_pairs = tx OR n_pairs = ty THEN 0 ELSE " +
          "CAST(round(CAST(nc - nd AS DOUBLE) / sqrt(CAST(n_pairs - tx AS DOUBLE) " +
          "* CAST(n_pairs - ty AS DOUBLE)) * 1000000, 0) AS BIGINT) END")
          .as("tau_e6"))
  }

  /** Simplified (centroid-based) silhouette per k-means cluster — the
    * geometric cluster-quality readout beside [[qClusterPurity]]'s
    * label-based view: with argmin assignment, a = distance to own
    * centroid is the row's smallest centroid distance and b = the
    * second-smallest, so `s = 1 − d₁/d₂`. Every squared per-element
    * deviation snaps to e9 BEFORE summing, making each centroid distance
    * an exact long and s an exact ppm ratio — no float ever crosses the
    * engines (the full-pairwise silhouette is O(n²) by definition; the
    * centroid form is the one that scales, one broadcast-expression scan).
    * Same deterministic k = 8 seed centroids as [[qKmeansStep]]. */
  def qSilhouette(s: SparkSession, d: String): DataFrame = {
    val cents0 = cachedSeedCentroids(s, d, 8)
    // An empty corpus yields no seed centroids; keep the plan buildable
    // with one dummy centroid and gate the scan to false — schema
    // unchanged, no row ever scored against the dummy (inert otherwise).
    val found = cents0.nonEmpty
    val cents = if (found) cents0 else Array((0L, Array(0.0)))
    val vecD = col("embedding").cast("array<double>")
    def dist2e9(c: Array[Double]): Column =
      aggregate(
        zip_with(vecD, array(c.map(lit): _*),
          (a, b) => round((a - b) * (a - b) * lit(1000000000.0), 0).cast("bigint")),
        lit(0L), (acc, x) => acc + x)
    val packed = cents.map { case (cid, c) =>
      struct(dist2e9(c).as("d"), lit(cid).as("cid"))
    }
    val sorted = array_sort(array(packed.toSeq: _*))
    // One seed centroid has no second-nearest: d2 (and so s) is NULL.
    val d2 = if (cents.length > 1) sorted.getItem(1).getField("d") else lit(null).cast("bigint")
    Tables.embeddings(s, d)
      .where(lit(found))
      .select(sorted.getItem(0).getField("cid").as("cluster_id"),
        sorted.getItem(0).getField("d").as("d1"),
        d2.as("d2"))
      .select(col("cluster_id"),
        expr("CASE WHEN d2 = 0 THEN CAST(0 AS BIGINT) ELSE " +
          s"CAST(1000000 - (${ppmDiv("d1", "d2")}) AS BIGINT) END").as("s_ppm"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("s_sum_ppm"))
      .select(col("cluster_id"), col("n"),
        expr(s"CAST(${roundDiv("s_sum_ppm", "n", 1L)} AS BIGINT)").as("mean_s_ppm"))
      .transform(ps(col("cluster_id")))
  }

  private[graft] val registryEval: Map[String, Q] = Map(
    "q_xcorr_leadlag" -> (qXcorrLeadlag _),
    "q_mcnemar" -> (qMcnemar _),
    "q_jackknife_sources" -> (qJackknifeSources _),
    "q_bradley_terry" -> (qBradleyTerry _),
    "q_simpson_reversal" -> (qSimpsonReversal _),
    "q_crossval_ols" -> (qCrossvalOls _),
    "q_uncertainty_sample" -> (qUncertaintySample _),
    "q_bom_rollup" -> (qBomRollup _),
    "q_permutation_test" -> (qPermutationTest _),
    "q_pagerank_iter" -> (qPagerankIter _),
    "q_graph_modularity" -> (qGraphModularity _),
    "q_assortativity" -> (qAssortativity _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_rule_confidence" -> (qRuleConfidence _),
    "q_fdr_bh" -> (qFdrBh _),
    "q_power_analysis" -> (qPowerAnalysis _),
    "q_ess_weights" -> (qEssWeights _),
    "q_propensity_strata" -> (qPropensityStrata _),
    "q_kn_smooth" -> (qKnSmooth _),
    "q_wilson_ci" -> (qWilsonCi _),
    "q_cohens_kappa" -> (qCohensKappa _),
    "q_kendall_tau" -> (qKendallTau _),
    "q_silhouette" -> (qSilhouette _),
  )

  private[graft] val oraclesEval: Map[String, String] = Map(
    "q_xcorr_leadlag" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS x, " +
        "CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT) // 1000) AS BIGINT) AS y " +
        "FROM orders GROUP BY 1), " +
        "lg AS (SELECT CAST(i AS BIGINT) AS lag FROM range(-7, 8) t(i)), " +
        "j AS (SELECT lag, a.x AS x, b.y AS y FROM daily a CROSS JOIN lg " +
        "JOIN daily b ON b.day = a.day + CAST(lag AS INT)), " +
        "g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx, " +
        "sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy, " +
        "sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy FROM j GROUP BY 1), " +
        "c AS (SELECT lag, n_days, CAST(n_days AS HUGEINT) * sxy " +
        "- CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num, " +
        "CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS d1, " +
        "CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS d2 " +
        "FROM g) " +
        "SELECT lag, n_days, CASE WHEN d1 = 0 OR d2 = 0 THEN 0 ELSE " +
        "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) " +
        "* CAST(d2 AS DOUBLE)) * 1000000, 0) AS BIGINT) END AS r_e6 " +
        "FROM c ORDER BY lag"),
    "q_mcnemar" ->
      ("WITH u AS (SELECT user_id, max(CASE WHEN event_type = 'error' AND " +
        "ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS a, " +
        "max(CASE WHEN event_type = 'error' AND " +
        "ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS b " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ab, " +
        "CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ba " +
        "FROM u) " +
        "SELECT n_users, n_ab, n_ba, " +
        "CASE WHEN n_ab + n_ba = 0 THEN 0 ELSE " +
        s"CAST(${roundDivSql("((n_ab - n_ba) * (n_ab - n_ba))", "(n_ab + n_ba)", 1000000L)} " +
        "AS BIGINT) END AS mcnemar_e6, " +
        "CASE WHEN n_ab + n_ba = 0 THEN 0 ELSE " +
        s"CAST(${roundDivSql("(greatest(abs(n_ab - n_ba) - 1, 0) * greatest(abs(n_ab - n_ba) - 1, 0))",
          "(n_ab + n_ba)", 1000000L)} AS BIGINT) END AS mcnemar_cc_e6 FROM g"),
    "q_jackknife_sources" ->
      ("WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1), " +
        "p AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn, " +
        "CAST(sum(chars) AS BIGINT) AS ss FROM s) " +
        "SELECT source, n_docs, " +
        s"CAST(${roundDivSql("ss", "nn", 1000L)} AS BIGINT) AS pooled_mean_e3, " +
        s"CAST(${roundDivSql("(ss - chars)", "(nn - n_docs)", 1000L)} AS BIGINT) " +
        "AS loo_mean_e3, " +
        s"CAST(${roundDivSql("(ss - chars)", "(nn - n_docs)", 1000L)} AS BIGINT) " +
        s"- CAST(${roundDivSql("ss", "nn", 1000L)} AS BIGINT) AS influence_e3 " +
        "FROM s CROSS JOIN p ORDER BY source"),
    "q_bradley_terry" -> btOracleSql,
    "q_simpson_reversal" -> {
      val dppm = (nxy: String, nx: String, nny: String, n: String) =>
        s"CASE WHEN $nx = 0 OR $n - $nx = 0 THEN CAST(0 AS BIGINT) ELSE " +
          s"CAST(${ppmDivSql(nxy, nx)} AS BIGINT) - " +
          s"CAST(${ppmDivSql(nny, s"($n - $nx)")} AS BIGINT) END"
      "WITH cells AS (SELECT p.p_brand AS brand, " +
        "CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS x, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), " +
        "g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS nx, CAST(sum(x * y) AS BIGINT) AS nxy, " +
        "CAST(sum((1 - x) * y) AS BIGINT) AS nny FROM cells GROUP BY 1), " +
        "pl AS (SELECT CAST(sum(n) AS BIGINT) AS pn, CAST(sum(nx) AS BIGINT) AS pnx, " +
        "CAST(sum(nxy) AS BIGINT) AS pnxy, CAST(sum(nny) AS BIGINT) AS pnny FROM g) " +
        "SELECT brand, n, " + dppm("nxy", "nx", "nny", "n") + " AS d_ppm, " +
        dppm("pnxy", "pnx", "pnny", "pn") + " AS pooled_d_ppm, " +
        "CAST((" + dppm("nxy", "nx", "nny", "n") + ") * (" +
        dppm("pnxy", "pnx", "pnny", "pn") + ") < 0 AS BIGINT) AS reversed " +
        "FROM g CROSS JOIN pl ORDER BY brand"
    },
    "q_uncertainty_sample" -> uncertaintyOracleSql,
    "q_crossval_ols" ->
      ("WITH cells AS (SELECT (((l_orderkey * 10 + l_linenumber) % 2147483648) " +
        "* 2654435761) % 4294967296 % 5 AS fold, " +
        "CAST(l_quantity AS BIGINT) AS x1, " +
        "CAST(round(l_discount * 100, 0) AS BIGINT) AS x2, " +
        "CAST(round(l_extendedprice, 0) AS BIGINT) AS y FROM lineitem), " +
        "bf AS (SELECT fold, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2, " +
        "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1 * x1) AS BIGINT) AS s11, " +
        "CAST(sum(x1 * x2) AS BIGINT) AS s12, CAST(sum(x2 * x2) AS BIGINT) AS s22, " +
        "CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y, " +
        "CAST(sum(y * y) AS BIGINT) AS syy FROM cells GROUP BY 1), " +
        "pl AS (SELECT CAST(sum(n) AS BIGINT) AS pn, CAST(sum(s1) AS BIGINT) AS p1, " +
        "CAST(sum(s2) AS BIGINT) AS p2, CAST(sum(sy) AS BIGINT) AS py, " +
        "CAST(sum(s11) AS BIGINT) AS p11, CAST(sum(s12) AS BIGINT) AS p12, " +
        "CAST(sum(s22) AS BIGINT) AS p22, CAST(sum(s1y) AS BIGINT) AS p1y, " +
        "CAST(sum(s2y) AS BIGINT) AS p2y FROM bf), " +
        "tr AS (SELECT fold, n AS n_test, sy AS tsy, syy AS tsyy, " +
        "pn - n AS tn, p1 - s1 AS t1, p2 - s2 AS t2, py - sy AS ty, " +
        "p11 - s11 AS t11, p12 - s12 AS t12, p22 - s22 AS t22, " +
        "p1y - s1y AS t1y, p2y - s2y AS t2y FROM bf CROSS JOIN pl), " +
        "cmo AS (SELECT fold, n_test, tsy, tsyy, tn, t1, t2, ty, " +
        "CAST(tn AS HUGEINT) * t11 - CAST(t1 AS HUGEINT) * CAST(t1 AS HUGEINT) AS a11, " +
        "CAST(tn AS HUGEINT) * t12 - CAST(t1 AS HUGEINT) * CAST(t2 AS HUGEINT) AS a12, " +
        "CAST(tn AS HUGEINT) * t22 - CAST(t2 AS HUGEINT) * CAST(t2 AS HUGEINT) AS a22, " +
        "CAST(tn AS HUGEINT) * t1y - CAST(t1 AS HUGEINT) * CAST(ty AS HUGEINT) AS b1, " +
        "CAST(tn AS HUGEINT) * t2y - CAST(t2 AS HUGEINT) * CAST(ty AS HUGEINT) AS b2 " +
        "FROM tr), " +
        "md AS (SELECT *, CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE) AS det FROM cmo), " +
        "md2 AS (SELECT *, (CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE)) / det AS beta1d, " +
        "(CAST(b2 AS DOUBLE) * CAST(a11 AS DOUBLE) " +
        "- CAST(b1 AS DOUBLE) * CAST(a12 AS DOUBLE)) / det AS beta2d FROM md), " +
        "md3 AS (SELECT *, (CAST(ty AS DOUBLE) - beta1d * CAST(t1 AS DOUBLE) " +
        "- beta2d * CAST(t2 AS DOUBLE)) / CAST(tn AS DOUBLE) AS b0d FROM md2), " +
        "sse AS (SELECT cells.fold, CAST(sum(CAST(round((CAST(y AS DOUBLE) - b0d " +
        "- beta1d * CAST(x1 AS DOUBLE) - beta2d * CAST(x2 AS DOUBLE)) " +
        "* (CAST(y AS DOUBLE) - b0d - beta1d * CAST(x1 AS DOUBLE) " +
        "- beta2d * CAST(x2 AS DOUBLE)), 0) AS BIGINT)) AS BIGINT) AS sse " +
        "FROM cells JOIN md3 ON cells.fold = md3.fold GROUP BY 1) " +
        "SELECT md3.fold, n_test, " +
        "CAST(round(beta1d * 1000000, 0) AS BIGINT) AS beta_qty_e6, " +
        "CAST(round(beta2d * 1000000, 0) AS BIGINT) AS beta_disc_e6, " +
        "CAST(round((1.0 - CAST(sse AS DOUBLE) * CAST(n_test AS DOUBLE) " +
        "/ (CAST(n_test AS DOUBLE) * CAST(tsyy AS DOUBLE) " +
        "- CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE))) * 1000000, 0) AS BIGINT) " +
        "AS oof_r2_ppm FROM md3 JOIN sse ON md3.fold = sse.fold ORDER BY md3.fold"),
    "q_pagerank_iter" -> pagerankOracleSql,
    "q_silhouette" ->
      ("WITH cents AS (SELECT vec_id AS cluster_id, embedding::DOUBLE[] AS centroid " +
        "FROM embeddings ORDER BY vec_id LIMIT 8), " +
        "dd AS (SELECT e.vec_id, c.cluster_id, " +
        "CAST(sum(CAST(round((u.val - c.centroid[u.pos]) * (u.val - c.centroid[u.pos]) " +
        "* 1000000000, 0) AS BIGINT)) AS BIGINT) AS d2e9 " +
        "FROM embeddings e CROSS JOIN cents c, " +
        "LATERAL (SELECT unnest(e.embedding::DOUBLE[]) AS val, " +
        "generate_subscripts(e.embedding, 1) AS pos) u GROUP BY 1, 2), " +
        "rk AS (SELECT vec_id, cluster_id, d2e9, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY d2e9, cluster_id) AS rn FROM dd), " +
        "sil AS (SELECT vec_id, max(CASE WHEN rn = 1 THEN cluster_id END) AS cluster_id, " +
        "max(CASE WHEN rn = 1 THEN d2e9 END) AS d1, " +
        "max(CASE WHEN rn = 2 THEN d2e9 END) AS d2 FROM rk GROUP BY 1), " +
        "sc AS (SELECT cluster_id, CASE WHEN d2 = 0 THEN CAST(0 AS BIGINT) ELSE " +
        "CAST(1000000 - (((d1 * 1000) // d2) * 1000 + (((d1 * 1000) % d2) * 1000) // d2) AS BIGINT) END AS s_ppm FROM sil) " +
        "SELECT cluster_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST((((CAST(sum(s_ppm) AS BIGINT)) // (CAST(count(*) AS BIGINT))) * 1 + (2 * ((CAST(sum(s_ppm) AS BIGINT)) % (CAST(count(*) AS BIGINT))) * 1 + (CAST(count(*) AS BIGINT))) // (2 * (CAST(count(*) AS BIGINT)))) AS BIGINT) " +
        "AS mean_s_ppm FROM sc GROUP BY 1 ORDER BY cluster_id"),
    "q_kendall_tau" ->
      ("WITH top AS (SELECT l_partkey AS p, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem " +
        "GROUP BY 1 ORDER BY rev DESC, p LIMIT 20), " +
        "pr AS (SELECT CAST(sign(a.rev - b.rev) AS BIGINT) AS sx, " +
        "CAST(sign(a.qty - b.qty) AS BIGINT) AS sy " +
        "FROM top a JOIN top b ON a.p < b.p), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc, " +
        "CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd, " +
        "CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx, " +
        "CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty FROM pr) " +
        "SELECT n_pairs, nc, nd, CASE WHEN n_pairs = tx OR n_pairs = ty THEN 0 " +
        "ELSE CAST(round(CAST(nc - nd AS DOUBLE) / sqrt(CAST(n_pairs - tx AS DOUBLE) " +
        "* CAST(n_pairs - ty AS DOUBLE)) * 1000000, 0) AS BIGINT) END AS tau_e6 " +
        "FROM g"),
    "q_wilson_ci" ->
      ("WITH g AS (SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS k FROM events GROUP BY 1) " +
        "SELECT arm, n, k, " +
        "CAST(round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 1.959963985 * 1.959963985 / (2.0 * CAST(n AS DOUBLE)) - 1.959963985 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + 1.959963985 * 1.959963985 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE))) * 1000000, 0) AS BIGINT) AS lo_ppm, " +
        "CAST(round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 1.959963985 * 1.959963985 / (2.0 * CAST(n AS DOUBLE)) + 1.959963985 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + 1.959963985 * 1.959963985 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE))) * 1000000, 0) AS BIGINT) AS hi_ppm " +
        "FROM g ORDER BY arm"),
    "q_cohens_kappa" ->
      ("WITH c AS (SELECT CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN label < 5 THEN 1 ELSE 0 END AS b FROM embeddings), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS a1, " +
        "CAST(sum(b) AS BIGINT) AS b1, " +
        "CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree FROM c) " +
        "SELECT n, a1, b1, agree, " +
        "CAST(round(CAST(CAST(n AS HUGEINT) * agree - (CAST(a1 AS HUGEINT) * b1 " +
        "+ CAST(n - a1 AS HUGEINT) * (n - b1)) AS DOUBLE) " +
        "/ CAST(CAST(n AS HUGEINT) * n - (CAST(a1 AS HUGEINT) * b1 " +
        "+ CAST(n - a1 AS HUGEINT) * (n - b1)) AS DOUBLE) * 1000000, 0) " +
        "AS BIGINT) AS kappa_e6 FROM g"),
    "q_propensity_strata" ->
      ("WITH oc AS (SELECT l_orderkey, CAST(max(CASE WHEN l_returnflag = 'R' " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS y FROM lineitem GROUP BY 1), " +
        "cells AS (SELECT CAST(floor(c_acctbal) AS BIGINT) // 2000 AS stratum, " +
        "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END " +
        "AS t, y FROM orders o JOIN oc ON o.o_orderkey = oc.l_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey), " +
        "g AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(t) AS BIGINT) AS nt, CAST(sum(t * y) AS BIGINT) AS nty, " +
        "CAST(sum((1 - t) * y) AS BIGINT) AS ncy FROM cells GROUP BY 1), " +
        "g2 AS (SELECT stratum, n, nt, CASE WHEN nt = 0 OR n - nt = 0 THEN " +
        "CAST(0 AS BIGINT) ELSE CAST(((nty * 1000) // nt) * 1000 + (((nty * 1000) % nt) * 1000) // nt AS BIGINT) - " +
        "CAST(((ncy * 1000) // (n - nt)) * 1000 + (((ncy * 1000) % (n - nt)) * 1000) // (n - nt) AS BIGINT) END AS d_ppm FROM g), " +
        "pl AS (SELECT CAST(sum(n * d_ppm) // sum(n) AS BIGINT) AS ate_ppm FROM g2) " +
        "SELECT stratum, n, nt, d_ppm, ate_ppm FROM g2 CROSS JOIN pl " +
        "ORDER BY stratum"),
    "q_kn_smooth" ->
      ("""WITH norm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents)""" +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm WHERE t <> '')" +
        ", bi AS (SELECT token AS w1, lead(token) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok)" +
        ", c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi " +
        "WHERE w2 IS NOT NULL GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, " +
        "CAST(count(*) AS BIGINT) AS n1fw FROM c12 GROUP BY 1), " +
        "ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM c12 GROUP BY 1), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM c12) " +
        "SELECT c12.w1, c12.w2, c12.c12, c1.c1, " +
        "CAST(((((4 * c12 - 3) * tt + 3 * n1fw * ncont) * 1000) // (4 * c1 * tt)) * 1000 + (((((4 * c12 - 3) * tt + 3 * n1fw * ncont) * 1000) % (4 * c1 * tt)) * 1000) // (4 * c1 * tt) AS BIGINT) " +
        "AS p_kn_ppm FROM c12 JOIN c1 ON c1.w1 = c12.w1 " +
        "JOIN ct ON ct.w2 = c12.w2 CROSS JOIN tt " +
        "ORDER BY c12.c12 DESC, c12.w1, c12.w2 LIMIT 20"),
    "q_power_analysis" ->
      ("WITH cells AS (SELECT CAST(round(value * 1000, 0) AS BIGINT) AS v " +
        "FROM events), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv, " +
        "sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS svv FROM cells), " +
        "c AS (SELECT n, sv, CAST(n AS HUGEINT) * svv - CAST(sv AS HUGEINT) " +
        "* CAST(sv AS HUGEINT) AS cvv FROM m) " +
        "SELECT n, CAST(round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 0) AS BIGINT) " +
        "AS mean_e3, CAST(round(CAST(cvv AS DOUBLE) / (CAST(n AS DOUBLE) " +
        "* CAST(n AS DOUBLE)), 0) AS BIGINT) AS var_e6, " +
        "CAST(round(2.801585219 * 2.801585219 * 2.0 " +
        "* (CAST(cvv AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) " +
        "/ ((0.02 * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "* (0.02 * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))), 0) AS BIGINT) " +
        "AS n_per_arm FROM c"),
    "q_ess_weights" ->
      ("WITH b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sw, " +
        "sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sww " +
        "FROM documents GROUP BY 1), " +
        "u AS (SELECT source, n_docs, sw, sww FROM b UNION ALL " +
        "SELECT '__all__' AS source, CAST(sum(n_docs) AS BIGINT), " +
        "CAST(sum(sw) AS BIGINT), CAST(sum(sww) AS HUGEINT) FROM b) " +
        "SELECT source, n_docs, " +
        "CAST(round(CAST(CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) AS DOUBLE) " +
        "/ CAST(sww AS DOUBLE), 0) AS BIGINT) AS ess, " +
        "CAST(round(CAST(CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) AS DOUBLE) " +
        "/ CAST(sww AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000, 0) AS BIGINT) " +
        "AS efficiency_ppm FROM u ORDER BY source"),
    "q_rule_confidence" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), " +
        "nn AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS nn FROM op), " +
        "item AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM op GROUP BY 1), " +
        "pair AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS n_ij " +
        "FROM op a JOIN op b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2 " +
        "HAVING count(*) >= 5), " +
        "rules AS (SELECT i, j, n_ij FROM pair " +
        "UNION ALL SELECT j AS i, i AS j, n_ij FROM pair), " +
        "r2 AS (SELECT r.i, r.j, r.n_ij, ii.np AS n_i, jj.np AS n_j FROM rules r " +
        "JOIN item ii ON ii.p = r.i JOIN item jj ON jj.p = r.j), " +
        "r3 AS (SELECT i, j, n_ij, n_i, n_j, " +
        "CAST(((n_ij * 1000) // n_i) * 1000 + (((n_ij * 1000) % n_i) * 1000) // n_i AS BIGINT) AS conf_ppm, " +
        "CASE WHEN n_i = n_ij THEN CAST(999999999 AS BIGINT) ELSE " +
        "CAST((CAST(n_i AS HUGEINT) * (CAST(nn AS HUGEINT) - CAST(n_j AS HUGEINT)) " +
        "* 1000000) // (CAST(nn AS HUGEINT) * (CAST(n_i AS HUGEINT) " +
        "- CAST(n_ij AS HUGEINT))) AS BIGINT) END AS conviction_e6 " +
        "FROM r2 CROSS JOIN nn) " +
        "SELECT i, j, n_ij, n_i, n_j, conf_ppm, conviction_e6 FROM r3 " +
        "ORDER BY conf_ppm DESC, n_ij DESC, i, j LIMIT 20"),
    "q_fdr_bh" ->
      ("WITH cells AS (SELECT p.p_brand AS brand, l_orderkey AS k, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), " +
        "ob AS (SELECT brand, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(k % 2) AS BIGINT) AS n1, " +
        "CAST(sum((k % 2) * y) AS BIGINT) AS s1, " +
        "CAST(sum((1 - (k % 2)) * y) AS BIGINT) AS s0 FROM cells GROUP BY 1), " +
        "obd AS (SELECT brand, CASE WHEN n1 = 0 OR n - n1 = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(((s1 * 1000) // n1) * 1000 + (((s1 * 1000) % n1) * 1000) // n1 AS BIGINT) - " +
        "CAST(((s0 * 1000) // (n - n1)) * 1000 + (((s0 * 1000) % (n - n1)) * 1000) // (n - n1) AS BIGINT) END " +
        "AS obs_d_ppm FROM ob), " +
        "nl AS (SELECT brand, CAST(r.i AS BIGINT) AS rep, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum((((k * 131 + CAST(r.i AS BIGINT) * 2654435761 + 17) " +
        "% 2147483648) * 2654435761) % 4294967296 % 2) AS BIGINT) AS n1, " +
        "CAST(sum(((((k * 131 + CAST(r.i AS BIGINT) * 2654435761 + 17) " +
        "% 2147483648) * 2654435761) % 4294967296 % 2) * y) AS BIGINT) AS s1, " +
        "CAST(sum((1 - ((((k * 131 + CAST(r.i AS BIGINT) * 2654435761 + 17) " +
        "% 2147483648) * 2654435761) % 4294967296 % 2)) * y) AS BIGINT) AS s0 " +
        "FROM cells CROSS JOIN range(64) r(i) GROUP BY 1, 2), " +
        "nld AS (SELECT brand, CASE WHEN n1 = 0 OR n - n1 = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(((s1 * 1000) // n1) * 1000 + (((s1 * 1000) % n1) * 1000) // n1 AS BIGINT) - " +
        "CAST(((s0 * 1000) // (n - n1)) * 1000 + (((s0 * 1000) % (n - n1)) * 1000) // (n - n1) AS BIGINT) END AS d_ppm " +
        "FROM nl), " +
        "e AS (SELECT nld.brand, CAST(min(obs_d_ppm) AS BIGINT) AS obs_d_ppm, " +
        "CAST(sum(CASE WHEN abs(d_ppm) >= abs(obs_d_ppm) THEN 1 ELSE 0 END) + 1 " +
        "AS BIGINT) AS e FROM nld JOIN obd ON obd.brand = nld.brand GROUP BY 1), " +
        "rk AS (SELECT *, CAST(row_number() OVER (ORDER BY e, brand) AS BIGINT) " +
        "AS rank FROM e), " +
        "km AS (SELECT CAST(coalesce(max(CASE WHEN e * 10 * " +
        "(SELECT count(*) FROM rk) <= rank * 65 " +
        "THEN rank END), 0) AS BIGINT) AS kmax FROM rk) " +
        "SELECT brand, obs_d_ppm, e, " +
        "CAST(((e * 1000) // 65) * 1000 + (((e * 1000) % 65) * 1000) // 65 AS BIGINT) AS p_ppm, rank, " +
        "CAST(rank <= kmax AS BIGINT) AS rejected FROM rk CROSS JOIN km " +
        "ORDER BY brand"),
    "q_mann_whitney" ->
      ("WITH vals AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v, " +
        "o_orderkey % 2 AS arm FROM orders), " +
        "census AS (SELECT v, CAST(count(*) AS BIGINT) AS t, " +
        "CAST(sum(arm) AS BIGINT) AS n1v FROM vals GROUP BY 1), " +
        "rk AS (SELECT v, t, n1v, CAST(coalesce(sum(t) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS before FROM census), " +
        "g AS (SELECT CAST(sum(t - n1v) AS BIGINT) AS n0, " +
        "CAST(sum(n1v) AS BIGINT) AS n1, " +
        "CAST(sum(n1v * (2 * before + t + 1)) AS BIGINT) AS r1_x2, " +
        "sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT) " +
        "- CAST(t AS HUGEINT)) AS tie3 FROM rk), " +
        "h AS (SELECT n0, n1, r1_x2 - n1 * (n1 + 1) AS u1_x2, tie3, " +
        "CAST(n0 AS HUGEINT) + CAST(n1 AS HUGEINT) AS nn FROM g) " +
        "SELECT n0, n1, u1_x2, CASE WHEN n0 = 0 OR n1 = 0 THEN 0 ELSE " +
        "CAST(round((CAST(u1_x2 AS DOUBLE) / 2.0 - CAST(n0 AS DOUBLE) " +
        "* CAST(n1 AS DOUBLE) / 2.0) / sqrt(CAST(n0 AS DOUBLE) " +
        "* CAST(n1 AS DOUBLE) / 12.0 * ((CAST(nn AS DOUBLE) + 1.0) " +
        "- CAST(tie3 AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) " +
        "- 1.0)))) * 1000000, 0) AS BIGINT) END AS z_e6 FROM h"),
    "q_graph_modularity" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "dg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e) GROUP BY 1), " +
        "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e), " +
        "ein AS (SELECT pa_b.p_brand AS brand, CAST(count(*) AS BIGINT) AS e_in " +
        "FROM e JOIN part pa_b ON pa_b.p_partkey = e.pa " +
        "JOIN part pb_b ON pb_b.p_partkey = e.pb " +
        "WHERE pa_b.p_brand = pb_b.p_brand GROUP BY 1), " +
        "ac AS (SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(d) AS BIGINT) AS a_c FROM dg JOIN part p ON p.p_partkey = dg.n " +
        "GROUP BY 1) " +
        "SELECT ac.brand, n_nodes, a_c, CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, " +
        "CAST((coalesce(e_in, 0) * 1000000) // m AS BIGINT) " +
        "- CAST((CAST(a_c AS HUGEINT) * CAST(a_c AS HUGEINT) * 1000000) " +
        "// (4 * CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS BIGINT) " +
        "AS q_contrib_ppm FROM ac LEFT JOIN ein ON ein.brand = ac.brand " +
        "CROSS JOIN mm ORDER BY ac.brand"),
    "q_assortativity" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "sym AS (SELECT pa AS src, pb AS dst FROM e " +
        "UNION ALL SELECT pb AS src, pa AS dst FROM e), " +
        "dg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e) GROUP BY 1), " +
        "j AS (SELECT dx.d AS x, dy.d AS y FROM sym " +
        "JOIN dg dx ON dx.n = sym.src JOIN dg dy ON dy.n = sym.dst), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS m2, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx, " +
        "sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy, " +
        "sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy FROM j), " +
        "c AS (SELECT m2, CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) " +
        "* CAST(sy AS HUGEINT) AS num, CAST(m2 AS HUGEINT) * sxx " +
        "- CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS d1, " +
        "CAST(m2 AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) " +
        "AS d2 FROM g) " +
        "SELECT m2 AS m_directed_edges, CASE WHEN d1 = 0 OR d2 = 0 THEN 0 ELSE " +
        "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) " +
        "* CAST(d2 AS DOUBLE)) * 1000000, 0) AS BIGINT) END AS r_e6 FROM c"),
    "q_bom_rollup" ->
      ("WITH rev AS (SELECT l_partkey AS p, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) " +
        "AS cents FROM lineitem GROUP BY 1), " +
        "lv AS (SELECT CAST(i AS BIGINT) AS k FROM range(5) t(i)), " +
        "x AS (SELECT p // CAST(pow(10, k) AS BIGINT) AS anc, k, cents " +
        "FROM rev CROSS JOIN lv), " +
        "g AS (SELECT anc, CAST(count(*) AS BIGINT) AS n_contrib, " +
        "CAST(sum(cents) AS BIGINT) AS subtree_cents, " +
        "CAST(max(k) AS BIGINT) AS max_depth FROM x WHERE anc > 0 GROUP BY 1) " +
        "SELECT anc, n_contrib, subtree_cents, max_depth FROM g " +
        "ORDER BY subtree_cents DESC, anc LIMIT 20"),
    "q_permutation_test" ->
      ("WITH u AS (SELECT user_id, CAST(sum(CAST(round(value * 1000, 0) " +
        "AS BIGINT)) AS BIGINT) AS m FROM events GROUP BY 1), " +
        "a AS (SELECT CAST(r.i AS BIGINT) AS rep, m, " +
        "(((user_id * 131 + CAST(r.i AS BIGINT) * 2654435761 + 17) % 2147483648) " +
        "* 2654435761) % 4294967296 % 2 AS g FROM u CROSS JOIN range(64) r(i)), " +
        "nl AS (SELECT rep, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(g) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN g = 1 THEN m ELSE 0 END) AS BIGINT) AS s1, " +
        "CAST(sum(CASE WHEN g = 0 THEN m ELSE 0 END) AS BIGINT) AS s0 " +
        "FROM a GROUP BY 1), " +
        "nd AS (SELECT rep, CASE WHEN n1 = 0 OR n - n1 = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST(${roundDivSql("s1", "n1", 1000L)} AS BIGINT) - " +
        s"CAST(${roundDivSql("s0", "(n - n1)", 1000L)} AS BIGINT) END AS d_e6 " +
        "FROM nl), " +
        "ob AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(user_id % 2) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN user_id % 2 = 1 THEN m ELSE 0 END) AS BIGINT) AS s1, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN m ELSE 0 END) AS BIGINT) AS s0 " +
        "FROM u), " +
        s"ob2 AS (SELECT CAST(${roundDivSql("s1", "n1", 1000L)} AS BIGINT) - " +
        s"CAST(${roundDivSql("s0", "(n - n1)", 1000L)} AS BIGINT) AS obs_d_e6 FROM ob) " +
        "SELECT obs_d_e6, CAST(count(*) AS BIGINT) AS n_reps, " +
        "CAST(sum(CASE WHEN abs(d_e6) >= abs(obs_d_e6) THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_extreme, " +
        s"CAST(${ppmDivSql("(CAST(sum(CASE WHEN abs(d_e6) >= abs(obs_d_e6) THEN 1 ELSE 0 END) AS BIGINT) + 1)",
          "(CAST(count(*) AS BIGINT) + 1)")} AS BIGINT) AS p_ppm " +
        "FROM nd CROSS JOIN ob2 GROUP BY obs_d_e6"),
  )
}
