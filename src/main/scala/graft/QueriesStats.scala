package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Stats` — resampling, divergence, GLM steps, experiment and audit statistics.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesStats { this: Queries.type =>


  /** Poisson-bootstrap confidence interval — the resampling method that
    * actually works at 100 TB (Chamandy et al.'s large-scale bootstrap):
    * a classical resample needs global coordination, but drawing each
    * row's multiplicity in resample b as an independent Poisson(1) —
    * here via inverse-CDF thresholds on a SEEDED uniform from portable
    * md5, so both engines draw the identical resamples — makes
    * every replicate a map-side weighted sum. B = 64 replicates expand
    * row-locally, combining map-side before any shuffle — the exchange
    * carries 64 rows per partition, not 64× the data; values snap to e4
    * so replicate sums are exact integers, each replicate mean is a
    * round-half-up integer division, and the 95 % percentile interval
    * reads ranks 2 and 63 of the 64-row replicate frame. The uniforms
    * use the MinHash kernel's one-digest-many-families trick: 8 md5
    * digests per row (materialized in a projection BELOW the slice
    * explode, so each is computed once), each feeding 8 independent
    * 16-bit slices — 8× fewer digests than a per-(row, b) hash, measured
    * 7.6 s → ~1 s at sf0.1. ONE output row at any corpus size. */
  def qBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .select(col("event_id"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("ve4"))
    // r17 (guide §2.5): the 64× md5 resample pass ran as ONE task — the
    // event scan is a single byte-tiny split, and everything from explode
    // through the partial aggregate fused into that scan stage (job profile:
    // one 2.88 s 1-task job carried the whole wall). Re-spread the rows
    // across 2× the cluster's default parallelism with an EXPLICIT
    // hash-keyed width (user-specified numPartitions is exempt from AQE
    // coalescing; event_id is unique so the spread is even and
    // deterministic — guide §2.5 warns off rand-derived keys). The `tot`
    // pass below stays on the raw scan — it has no CPU amplification.
    val reps = ev
      .repartition(s.sparkContext.defaultParallelism * 2, col("event_id"))
      .select(col("event_id"), col("ve4"), explode(expr("sequence(0, 7)")).as("g"))
      .withColumn("dig",
        expr("md5(concat(CAST(event_id AS STRING), '#', CAST(g AS STRING)))"))
      .select(col("ve4"), col("g"), col("dig"), explode(expr("sequence(0, 7)")).as("sl"))
      .withColumn("b", col("g") * 8 + col("sl"))
      // 0.5D/65536.0D: double literals — a bare 0.5 parses as DECIMAL in
      // Spark SQL, dragging u into decimal arithmetic (slow) and the CDF
      // thresholds into truncated decimal literals
      .withColumn("u", expr(
        "(CAST(conv(substr(dig, sl * 4 + 1, 4), 16, 10) AS BIGINT) + 0.5D) / 65536.0D"))
      .withColumn("k", expr(
        "CASE WHEN u < 0.36787944117144233 THEN 0L WHEN u < 0.7357588823428847 THEN 1L " +
          "WHEN u < 0.9196986029286058 THEN 2L WHEN u < 0.9810118431238462 THEN 3L " +
          "WHEN u < 0.9963401531726563 THEN 4L WHEN u < 0.9994058151824183 THEN 5L " +
          "ELSE 6L END"))
      .groupBy("b")
      .agg(sum(col("k")).as("n_b"), sum(col("ve4") * col("k")).as("s_b"))
      .withColumn("mean_b", expr(
        s"CASE WHEN n_b = 0 THEN 0L ELSE ${roundDiv("s_b", "n_b", 1L)} END"))
    val ranked = reps.withColumn("rn",
      row_number().over(Window.orderBy(col("mean_b"), col("b"))))
    val ci = ranked.agg(
      max(when(col("rn") === 2, col("mean_b"))).as("ci_lo_e4"),
      max(when(col("rn") === 63, col("mean_b"))).as("ci_hi_e4"))
    val tot = ev.agg(count(lit(1)).as("n"), sum(col("ve4")).as("sv"))
      .select(col("n"), expr(roundDiv("sv", "n", 1L)).as("mean_e4"))
    tot.crossJoin(broadcast(ci))
  }

  /** Additive seasonal decomposition (STL-lite) of the daily revenue
    * series — `y = trend + seasonal + residual`, every component EXACT
    * integer cents: the trend is a centered 7-observed-day moving
    * average (round-half-up integer division; null at the 3-row series
    * edges, the standard convention), the seasonal component is the
    * per-ISO-weekday mean of the detrended series (sign-adjusted
    * round-half-away division — detrended values go negative), and the
    * residual closes the identity exactly where the trend exists. Every
    * window runs over the DISTINCT-day frame — calendar-bounded at any
    * corpus size — and the day census itself combines map-side over the
    * scan. */
  def qSeasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(col("o_orderdate").cast("date").as("dte"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("dte").agg(sum(col("cents")).as("y_c"))
    val wMa = Window.orderBy(col("dte")).rowsBetween(-3, 3)
    val wCnt = Window.orderBy(col("dte"))
    val trended = daily
      .withColumn("ma_n", count(lit(1)).over(wMa))
      .withColumn("ma_s", sum(col("y_c")).over(wMa))
      .withColumn("trend_c",
        when(col("ma_n") === 7, expr(roundDiv("ma_s", "7", 1L))))
      .withColumn("dow", expr("CAST(weekday(dte) AS BIGINT) + 1"))
      .withColumn("detr", col("y_c") - col("trend_c"))
    val seasonal = trended.where(col("detr").isNotNull)
      .groupBy("dow").agg(sum(col("detr")).as("sd"), count(lit(1)).as("nd"))
      .select(col("dow"), expr(
        "(2 * sd + (CASE WHEN sd < 0 THEN -1L ELSE 1L END) * nd) div (2 * nd)")
        .as("seasonal_c"))
    trended.join(broadcast(seasonal), Seq("dow"), "left")
      .select(col("dte"), col("y_c"), col("trend_c"), col("dow"),
        col("seasonal_c"),
        (col("y_c") - col("trend_c") - col("seasonal_c")).as("resid_c"))
      .orderBy("dte")
  }

  /** Per-source KL divergence from the corpus — the domain-divergence
    * statistic behind mixture design and DSIR-style selection: a source
    * whose unigram distribution sits far from the corpus carries novel
    * signal (or noise); one near zero is redundant with the mix.
    * KL(P_s ‖ P_corpus) = Σ_t p ln(p/q) over the source's tokens — finite
    * by construction (every source token is a corpus token), nonnegative
    * by Gibbs. Determinism: each token's term is ROW-LOCAL double
    * arithmetic from exact int64 counts, snapped to e9 fixed-point
    * BEFORE the per-source sum — so the aggregate is integer and
    * aggregation-order-free in both engines (the same snap-then-sum
    * doctrine as MaxSim). Shapes at 100 TB: token-grain map-side counts,
    * one TOKEN-KEYED equi join between the (source, token) and corpus
    * frames (vocab-linear, never broadcast — a 100-TB vocabulary does
    * not fit a broadcast), bounded |sources| and 1-row total broadcasts,
    * |sources| output rows. */
  def qKlDivergence(s: SparkSession, d: String): DataFrame = {
    val tfs = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val ns = tfs.groupBy("source").agg(sum(col("tf")).as("n_s"))
    val uni = tfs.groupBy("token").agg(sum(col("tf")).as("ct"))
    val tot = uni.agg(sum(col("ct")).as("t_tot"))
    tfs.join(uni, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("term_e9", expr(
        "CAST(round((CAST(tf AS DOUBLE) / n_s) * " +
          "ln((CAST(tf AS DOUBLE) / n_s) / (CAST(ct AS DOUBLE) / t_tot)) " +
          "* 1000000000, 0) AS BIGINT)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("term_e9")).as("kl_e9"))
      .transform(ps(col("source")))
  }

  /** Mutual information between the corpus's two metadata dimensions
    * (lang × source) — the association audit behind stratification
    * decisions: MI ≈ 0 means language is independent of source (stratify
    * on either); high normalized MI means per-source language skew (a
    * mixture must stratify on both). MI, both marginal entropies, and
    * NMI = MI/min(H_lang, H_source) in exact ppm — every logarithmic
    * term is row-local double work from exact int64 counts snapped to e9
    * before summation (order-free), and the grids involved are bounded
    * enums (|langs|·|sources| cells), so every join is a broadcast of a
    * bounded frame and the output is ONE row at any corpus size. */
  def qMutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("nls"))
    val nl = cells.groupBy("lang").agg(sum(col("nls")).as("n_l"))
    val nsrc = cells.groupBy("source").agg(sum(col("nls")).as("n_s"))
    val tot = cells.agg(sum(col("nls")).as("n"))
    val hl = nl.crossJoin(broadcast(tot)).agg(sum(expr(
      "CAST(round(-(CAST(n_l AS DOUBLE) / n) * ln(CAST(n_l AS DOUBLE) / n) " +
        "* 1000000000, 0) AS BIGINT)")).as("h_lang_e9"))
    val hs = nsrc.crossJoin(broadcast(tot)).agg(sum(expr(
      "CAST(round(-(CAST(n_s AS DOUBLE) / n) * ln(CAST(n_s AS DOUBLE) / n) " +
        "* 1000000000, 0) AS BIGINT)")).as("h_source_e9"))
    cells.join(broadcast(nl), Seq("lang"))
      .join(broadcast(nsrc), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("mi_t", expr(
        "CAST(round((CAST(nls AS DOUBLE) / n) * " +
          "ln((CAST(n AS DOUBLE) * nls) / (CAST(n_l AS DOUBLE) * n_s)) " +
          "* 1000000000, 0) AS BIGINT)"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("mi_t")).as("mi_e9"))
      .crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(col("n"), col("n_cells"), col("mi_e9"),
        col("h_lang_e9"), col("h_source_e9"),
        expr("CASE WHEN least(h_lang_e9, h_source_e9) <= 0 THEN 0L ELSE " +
          s"${ppmDiv("mi_e9", "least(h_lang_e9, h_source_e9)")} END").as("nmi_ppm"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the redundancy matrix a mixture designer reads
    * (JS ≈ 0: interchangeable sources, JS → ln 2: disjoint): for each of
    * the |sources|·(|sources|−1)/2 pairs, JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M = ½(P+Q), split into the SHARED-token terms (computed exactly per
    * token and snapped to e9 before the pair sum) plus the closed-form
    * exclusive-mass correction `(2 − shared_P − shared_Q)·ln2 / 2` — a
    * token in only one distribution contributes exactly `p·ln2 / 2`, so
    * only the shared support ever joins. The join is TOKEN-KEYED with
    * in-bucket pair expansion bounded by |sources| per token (the
    * LSH-bucket shape, never a cross join); shares snap to e9 so every
    * aggregate is integer and order-free. Output: the bounded pair grid
    * with shared-token counts and js_e9 ∈ [0, ln2·10⁹]. */
  def qJsSources(s: SparkSession, d: String): DataFrame = {
    val tfs = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val ns = tfs.groupBy("source").agg(sum(col("tf")).as("n_s"))
    val p = tfs.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("token"),
        (col("tf").cast("double") / col("n_s")).as("p"),
        expr("CAST(round((CAST(tf AS DOUBLE) / n_s) * 1000000000, 0) AS BIGINT)")
          .as("p_e9"))
    p.as("a").join(p.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.p").as("pa"), col("b.p").as("pb"),
        col("a.p_e9").as("pae9"), col("b.p_e9").as("pbe9"))
      .withColumn("term_e9", expr(
        "CAST(round(0.5 * (pa * ln(2.0 * pa / (pa + pb)) + " +
          "pb * ln(2.0 * pb / (pa + pb))) * 1000000000, 0) AS BIGINT)"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared_tokens"),
        sum(col("term_e9")).as("inner_e9"),
        sum(col("pae9")).as("sp_a"), sum(col("pbe9")).as("sp_b"))
      .select(col("src_a"), col("src_b"), col("shared_tokens"),
        (col("inner_e9") + expr(
          "CAST(round((2000000000.0 - sp_a - sp_b) * 0.5 * ln(2.0), 0) AS BIGINT)"))
          .as("js_e9"))
      .transform(ps(col("src_a"), col("src_b")))
  }

  /** Contrastive triplet mining — the data-prep step behind embedding-
    * model fine-tuning (sentence-transformers style): for each anchor
    * vector, the POSITIVE is its most-similar same-label neighbour and
    * the HARD NEGATIVE its most-similar different-label neighbour — the
    * negative that currently fools the model and therefore carries the
    * gradient; `margin = pos_sim − neg_sim` is the quantity a triplet
    * loss pushes apart. Similarities snap to e4 fixed-point BEFORE the
    * argmax so both engines pick under the identical integer total order
    * (ties to the smaller candidate id), and each argmax is a
    * conditional `max(struct(sim, −id))` — a map-side-combining
    * aggregate, NO window anywhere. Shapes at 100 TB: the 8-row anchor
    * frame broadcasts into the candidate scan (one pass, the per-pair
    * cosines are codegen'd in the scan stage), and the anchor-grain
    * aggregate emits 8 rows at any corpus size. */
  def qTripletMine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("anchor"), col("label").cast("long").as("a_label"),
        col("embedding").as("a_emb"))
    val cands = emb.where(col("vec_id") >= 8)
      .select(col("vec_id").as("cand"), col("label").cast("long").as("c_label"),
        col("embedding").as("c_emb"))
    cands.crossJoin(broadcast(anchors))
      .withColumn("s", cosine_sim(col("c_emb"), col("a_emb")))
      .withColumn("sim_e4", expr("CAST(round(s * 10000, 0) AS BIGINT)"))
      .groupBy("anchor", "a_label")
      .agg(
        max(when(col("c_label") === col("a_label"),
          struct(col("sim_e4"), (-col("cand")).as("nid")))).as("p"),
        max(when(col("c_label") =!= col("a_label"),
          struct(col("sim_e4"), (-col("cand")).as("nid")))).as("n"))
      .select(col("anchor"), col("a_label").as("label"),
        (-col("p.nid")).as("pos_id"), col("p.sim_e4").as("pos_sim_e4"),
        (-col("n.nid")).as("neg_id"), col("n.sim_e4").as("neg_sim_e4"),
        (col("p.sim_e4") - col("n.sim_e4")).as("margin_e4"))
      .transform(ps(col("anchor")))
  }

  /** Preference-pair construction — the RLHF/DPO data-prep step: within
    * each prompt group (here (source, lang)), the CHOSEN response is the
    * highest-scoring document and the REJECTED the lowest, kept only
    * when the scorer actually separates them (margin ≥ 1 ppm — equal-
    * score groups yield no training signal and are dropped). The score
    * is an exact-integer quality composite from the one-pass native
    * TextStats sweep: stopword density minus punctuation density, both
    * in overflow-safe ppm, with degenerate (empty) docs pinned to a
    * sentinel floor. Each group readout is one `max(struct)` /
    * `min(struct)` pair under the (score, id) total order (ties: chosen
    * takes the SMALLER id via the negated-id field, rejected the smaller
    * id directly) — map-side-combining aggregates, no window, |groups|
    * output rows at any corpus size. */
  def qPreferencePairs(s: SparkSession, d: String): DataFrame = {
    val st = graft.functions.TextStats.textStats(
      Ops.normalizeText(col("text")), STOPWORDS)
    val scored = Tables.documents(s, d).select(
      col("source"), col("lang"), col("doc_id"),
      st.getField("n_tokens").cast("long").as("nt"),
      st.getField("n_chars").cast("long").as("nc"),
      st.getField("stop_hits").cast("long").as("sh"),
      st.getField("punct_chars").cast("long").as("pc"))
      .withColumn("score", expr(
        s"CASE WHEN nt = 0 OR nc = 0 THEN -1000000L " +
          s"ELSE (${ppmDiv("sh", "nt")}) - (${ppmDiv("pc", "nc")}) END"))
    scored.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("best"),
        min(struct(col("score"), col("doc_id").as("id"))).as("worst"))
      .select(col("source"), col("lang"), col("n_docs"),
        (-col("best.nid")).as("chosen_id"), col("best.score").as("chosen_score"),
        col("worst.id").as("rejected_id"), col("worst.score").as("rejected_score"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .where(col("margin") >= 1)
      .transform(ps(col("source"), col("lang")))
  }

  /** PII pseudonymization — the governance layer every shared training
    * corpus needs before it leaves the trust boundary: the direct
    * identifier (`c_name`) is masked for display (all but the last 4
    * digits starred, width-agnostic so regenerated wider keys still
    * mask), and the JOIN key is replaced by a salted deterministic token
    * (`md5('graft-pii-v1|' ∥ key)` prefix) — the tokenization pattern
    * that preserves join algebra without raw identifiers ever crossing
    * the join. The event side tokenizes `user_id` under the SAME salt, so
    * the per-customer event rollup joins ON THE TOKEN: one co-keyed
    * shuffle, the raw key never appears in the join or the output. At
    * 100 TB both sides are map-side hash projections; the token join
    * shuffles exactly like the raw-key join it replaces (md5 output is
    * uniform, so no new skew), and the salt rotates by bumping the
    * literal. Mirrors the reference's user-facing export step
    * (spotify_etl_v2.py writes raw ids to the warehouse — this is the
    * op it would need first in a PII regime). */
  def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"),
        expr("concat('Customer#', repeat('*', length(c_name) - 13), " +
          "substring(c_name, length(c_name) - 3, 4))").as("masked_name"),
        expr("substring(md5(concat('graft-pii-v1|', CAST(c_custkey AS STRING))), 1, 16)")
          .as("pseudo"))
    val ev = Tables.events(s, d)
      .select(expr(
        "substring(md5(concat('graft-pii-v1|', CAST(user_id AS STRING))), 1, 16)")
        .as("pseudo"))
      .groupBy("pseudo").agg(count(lit(1)).as("n_events"))
    cust.join(ev, Seq("pseudo"), "left")
      .select(col("c_custkey"), col("masked_name"), col("pseudo"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("c_custkey")
  }

  /** k-anonymity audit over a declared quasi-identifier tuple
    * (nation, market segment, overdrawn flag) — the re-identification
    * risk check run before releasing "anonymized" data: every row in an
    * equivalence class of size k is indistinguishable from k−1 others,
    * so small classes are the leak surface. Output is the class-size
    * census (k → classes, rows) with the k<5 violation flag — the
    * bounded table a governance gate reads to decide suppress /
    * generalize. Two map-side-combinable aggregates (rows → classes →
    * census), no windows, no joins: at 100 TB this is one shuffle at the
    * QI grain and a second at the (bounded) class-size grain. */
  def qKAnonymity(s: SparkSession, d: String): DataFrame = {
    val classes = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        (col("c_acctbal") < 0).cast("int").as("overdrawn"))
      .agg(count(lit(1)).as("k"))
    classes.groupBy("k")
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
      .withColumn("violates_k5", (col("k") < lit(5)).cast("bigint"))
      .transform(ps(col("k")))
  }

  /** Z-order (Morton) layout audit — the multi-dimensional data-layout
    * op behind `OPTIMIZE ZORDER BY`: interleaving the bits of two
    * range-normalized keys makes ONE sort order give BOTH dimensions
    * locality, so per-file zone maps prune range predicates on either
    * column. Each row's (partkey, suppkey) is normalized to 8 bits
    * against the corpus min/max (a 1-row broadcast aggregate — how a
    * real optimizer job ranges its domain; never a collect), bit-
    * interleaved into a 16-bit Morton code by pure div/mod arithmetic
    * (portable to ANSI SQL verbatim), and bucketed by the top 8
    * interleaved bits — ≤256 buckets at ANY scale, each a 16×16 cell of
    * the normalized grid. The output is the bucket zone-map (min/max of
    * both raw keys) plus scan flags for two declared range predicates,
    * one per dimension — the pruning-effectiveness readout: under a
    * linear single-key layout the secondary dimension's flag would be 1
    * for every bucket; under Z-order both columns prune. Row-local map
    * work plus one bounded-grain aggregate — nothing here grows with the
    * corpus except the scan itself. */
  def qZorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").cast("long").as("p"),
        col("l_suppkey").cast("long").as("sk"))
    val stats = li.agg(min("p").as("pmin"), max("p").as("pmax"),
      min("sk").as("smin"), max("sk").as("smax"))
    val norm = li.crossJoin(broadcast(stats))
      .withColumn("pz", expr(
        "CASE WHEN pmax = pmin THEN 0L ELSE ((p - pmin) * 255) div (pmax - pmin) END"))
      .withColumn("sz", expr(
        "CASE WHEN smax = smin THEN 0L ELSE ((sk - smin) * 255) div (smax - smin) END"))
    norm.withColumn("bucket", expr(s"(${zInterleave("div")}) div 256"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("p").as("min_p"), max("p").as("max_p"),
        min("sk").as("min_s"), max("sk").as("max_s"),
        min("pz").as("min_pz"), max("pz").as("max_pz"),
        min("sz").as("min_sz"), max("sz").as("max_sz"))
      .select(col("bucket"), col("n_rows"),
        col("min_p"), col("max_p"), col("min_s"), col("max_s"),
        (!(col("max_pz") < 96 || col("min_pz") > 127)).cast("bigint").as("scan_p"),
        (!(col("max_sz") < 64 || col("min_sz") > 95)).cast("bigint").as("scan_s"))
      .transform(ps(col("bucket")))
  }

  /** The 16-bit Morton interleave of the 8-bit normalized keys `pz`/`sz`
    * as pure integer arithmetic — `dv` is the engine's integer-division
    * token ("div" Spark, "//" DuckDB) so BOTH engines evaluate the
    * byte-identical expression. */
  private[graft] def zInterleave(dv: String): String =
    (0 until 8).map(i =>
      s"((pz $dv ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"((sz $dv ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      .mkString(" + ")

  /** Small-file compaction planner — the table-maintenance op a 100 TB
    * lakehouse runs continuously: given the file listing (modeled as one
    * segment per ship date, bytes = rows × a declared 128-byte row
    * estimate), pack date-ordered segments into target-sized rewrite
    * bins (64 KiB here; 128 MiB in production) by cumulative fill:
    * bin = exclusive-prefix-bytes div target. Contiguity in the sort key
    * is what makes the rewrite also a CLUSTERING pass, which is why the
    * packing is by running total, not best-fit. The prefix sum is the
    * scalable two-phase form ([[Ops.runningSums]] minus the segment's own
    * bytes: in-plan bucket bases + bucket-local windows — never a
    * single-task global window), because a real lakehouse file listing
    * is millions of rows of METADATA: the planner never touches data,
    * only the per-segment stats, and its output is O(total bytes /
    * target) plan rows. */
  def qCompactionPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.lineitem(s, d)
      .groupBy(col("l_shipdate").cast("date").as("fdate"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bytes", col("n_rows") * lit(128L))
      .withColumn("dkey",
        datediff(col("fdate"), lit("1992-01-01").cast("date")).cast("long"))
    Ops.runningSums(files, Nil, Seq("dkey"), "cum" -> col("bytes"))
      .withColumn("bin_id", expr("(cum - bytes) div 65536 + 1"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        sum("bytes").as("bytes"),
        min("fdate").as("from_date"), max("fdate").as("to_date"))
      .orderBy("bin_id")
  }

  // ------------------------------------------- round-11 wave: sketches,
  // tokenizer prep, LM scoring, novelty, calibration, spectral step

  /** Portable HyperLogLog distinct-count — the third cardinality sketch
    * beside KMV ([[qKmvDistinct]]) and the Spark-private
    * `approx_count_distinct`: m = 64 registers, bucket = top 6 bits of
    * the proven-portable 60-bit md5 hash, register = max over the bucket
    * of ρ(remaining 54 bits) (position of the highest set bit from the
    * top: ρ = 55 − length(bin(rem)), an INTEGER both engines compute
    * identically — no float log2 near power-of-two boundaries). The
    * estimate keeps the harmonic sum EXACT: Σ 2^(55−ρ_j) is an int64
    * (≤ 64·2^55), with Flajolet's α₆₄·m²·2^55/S and the small-range
    * linear-counting branch (est ≤ 5m/2 with empty registers →
    * m·ln(m/V)) both taking their single final double op on that exact
    * integer state. Shapes at 100 TB: one map-side-combinable max per
    * (group, bucket) — 64 counters per group at ANY corpus size, the
    * mergeable-sketch shape — then a 64-row-per-group readout; the
    * exact audit side is the same distinct the KMV audit pays. */
  def qHllDistinct(s: SparkSession, d: String): DataFrame = {
    val m = 64
    val regs = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
      .withColumn("bucket", expr("h div 18014398509481984")) // 2^54: top 6 bits
      .withColumn("rem", expr("h % 18014398509481984"))
      .withColumn("rho", expr("CASE WHEN rem = 0 THEN 55L ELSE 55L - length(bin(rem)) END"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("reg"))
    val sk = regs.groupBy("event_type")
      .agg(count(lit(1)).as("n_full"),
        sum(expr("shiftleft(1L, CAST(55 - reg AS INT))")).as("s_full"))
      // empty registers contribute 2^55 each (ρ = 0) — add them without a grid
      .withColumn("s_inv", expr(s"s_full + (${m}L - n_full) * 36028797018963968L"))
      .withColumn("zeros", expr(s"${m}L - n_full"))
    val est = sk.withColumn("est_raw", expr(
        // Flajolet's α₆₄ = 0.709; one double expression over exact ints
        s"0.709D * ${m}D * ${m}D * 36028797018963968.0D / CAST(s_inv AS DOUBLE)"))
      .withColumn("n_hll", expr(
        s"CAST(round(CASE WHEN est_raw <= 2.5D * ${m}D AND zeros > 0 " +
          s"THEN ${m}D * ln(${m}D / CAST(zeros AS DOUBLE)) ELSE est_raw END, 0) AS BIGINT)"))
    val exact = Tables.events(s, d).select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_hll"),
        expr("(abs(n_hll - n_exact) * 1000000L) div n_exact").as("err_ppm"))
      .transform(ps(col("event_type")))
  }

  /** Bigram language-model scoring with ADD-ONE SMOOTHING — the
    * perplexity filter a pretraining curation pass runs when eval text
    * may contain bigrams the reference corpus lacks ([[qBigramPpx]] is
    * the unsmoothed train==eval surprisal; smoothing + true perplexity
    * display are what this adds): context counts derive from the bigram census
    * itself (Σ_w2 c(w1,w2), so final-token edge effects cancel by
    * construction), P(w2|w1) = (c+1)/(ctx+V), and each occurrence's
    * −ln P term is row-local double work from exact int64 counts SNAPPED
    * to e9 before the per-doc sum (order-free integers over the
    * exchange); avg NLL is round-half-up integer division, perplexity
    * `exp` only on the rounded display value. Shapes at 100 TB:
    * bigrams are row-local 2-shingles, both censuses map-side-combine,
    * the scoring join is TOKEN-KEYED (vocab-linear — never a vocab
    * broadcast), V rides a 1-row broadcast. */
  def qLmPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bg = TextOps.explodedShingles(docs, "doc_id", "text", 2)
    val bgc = bg.groupBy("shingle").agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", expr("substring_index(shingle, ' ', 1)"))
    val ctx = bgc.groupBy("w1").agg(sum(col("c_bg")).as("c_ctx"))
    val vocab = TextOps.explodedShingles(docs, "doc_id", "text", 1)
      .select(col("shingle")).distinct().agg(count(lit(1)).as("v"))
    val terms = bg
      .join(bgc.select("shingle", "c_bg", "w1"), "shingle")
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("nll_e9", expr(
        "CAST(round((ln(CAST(c_ctx + v AS DOUBLE)) - ln(CAST(c_bg + 1 AS DOUBLE))) " +
          "* 1000000000, 0) AS BIGINT)"))
    terms.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_e9")).as("nll_sum_e9"))
      .withColumn("avg_nll_e9",
        expr(roundDiv("nll_sum_e9", "n_bigrams", 1L)))
      .withColumn("ppl_r4",
        expr("round(exp(CAST(avg_nll_e9 AS DOUBLE) / 1000000000.0D), 4)"))
      .select("doc_id", "n_bigrams", "avg_nll_e9", "ppl_r4")
      .orderBy("doc_id")
  }

  /** Brier score + reliability diagram — the probabilistic-model
    * calibration audit ([[qAucPerClass]]'s companion; [[qCalibrationBins]]
    * bins by global score DECILE while this bins by predicted
    * PROBABILITY and adds the Brier decomposition — the pair of views a
    * calibration review wants): a deterministic
    * pseudo-probability (sigmoid of the first embedding coordinate,
    * e4-snapped — the continuous-rounding doctrine) against the binary
    * label, bucketed into 10 probability bins; per bin the count, mean
    * predicted probability (exact int avg of e4 units), empirical
    * positive rate (exact ppm), and the Brier contribution
    * Σ(p − y)² in EXACT e8 integers (p, y both in e4 units — no float
    * accumulation anywhere). A calibrated model's mean_p ≈ rate per bin;
    * the gap column is the calibration error a temperature-scaling pass
    * would fix. Shapes: one map-side census into ≤10 groups, dense grid
    * via a 10-row range, bounded output. */
  def qBrierCalibration(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(expr("CAST(round(1.0D / (1.0D + exp(-CAST(embedding[0] AS DOUBLE))) " +
        "* 10000, 0) AS BIGINT)").as("p_e4"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
    val census = e
      .withColumn("bin", expr("least(9L, p_e4 div 1000)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("p_e4")).as("sp"),
        sum(col("y")).as("pos"),
        sum(expr("(p_e4 - y * 10000) * (p_e4 - y * 10000)")).as("brier_e8"))
    s.range(10).toDF("bin")
      .join(census, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, lit(0L))
          .otherwise(expr(roundDiv("sp", "n", 1L))).as("mean_p_e4"),
        when(col("n").isNull, lit(0L))
          .otherwise(expr(ppmDiv("pos", "n"))).as("rate_ppm"),
        coalesce(col("brier_e8"), lit(0L)).as("brier_e8"))
      .withColumn("gap_e4",
        expr("abs(mean_p_e4 - (rate_ppm div 100))"))
      .transform(ps(col("bin")))
  }

  /** One power-iteration step over the embedding COVARIANCE — true PCA
    * needs the centered second moment; [[qPowerIteration]] is the
    * uncentered Gram step with display-rounded doubles, while this one
    * centers at the snapped mean and keeps every sum an exact int64:
    * w = Cov·v₀ with a seeded ±1 start vector (the [[qRandomProjection]]
    * sign family). Exactness doctrine: coordinates
    * snap to e4 at the scan; the covariance is defined ABOUT THE
    * e4-SNAPPED MEAN (round-half-up), so every centered coordinate,
    * every row's centered dot s_r = Σ_d c_rd·v₀_d, and every per-dim
    * product sum Σ_r c_rd·s_r are EXACT int64s (|c| ≤ 2·10⁴,
    * |s| ≤ 64·2·10⁴ → per-row products ≤ 2.6·10¹⁰, safe past the 100×
    * fixture); the per-n normalization is a sign-adjusted round-half-away
    * integer division and only the display value divides once as a
    * double. Shapes at 100 TB: pass 1 is a melted 64-group map-side mean
    * census; the means come back as ONE broadcast 64-element array (an
    * array_sort(collect_list(struct)) readout — 64 rows, never a
    * vec-grain shuffle), the centered dot s_r is a row-local zip fold
    * against the inlined sign family, and the matvec is a second melted
    * 64-group map-side census — two linear passes, zero vec-keyed
    * exchanges. */
  def qPcaPower(s: SparkSession, d: String): DataFrame = {
    val signsArr = "transform(sequence(0, 63), dd -> CASE WHEN CAST(conv(substr(md5(" +
      "concat('pca|', CAST(dd AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2 = 0 " +
      "THEN 1L ELSE -1L END)"
    val e4 = Tables.embeddings(s, d).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))")
      .as("xe4"))
    val mu = e4.select(posexplode(col("xe4")).as(Seq("d", "x")))
      .groupBy("d").agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("mu_e4", expr(
        // sign-adjusted round-half-away: sx may be negative
        "(2 * sx + (CASE WHEN sx < 0 THEN -1 ELSE 1 END) * n) div (2 * n)"))
    val mu1 = mu.agg(expr(
      "transform(array_sort(collect_list(struct(d, mu_e4))), t -> t.mu_e4)").as("mu"))
    e4.crossJoin(broadcast(mu1))
      .withColumn("c", expr("zip_with(xe4, mu, (x, m) -> x - m)"))
      .withColumn("s_r", expr(s"aggregate(zip_with(c, $signsArr, " +
        "(cc, sg) -> cc * sg), 0L, (acc, v) -> acc + v)"))
      .select(col("s_r"), posexplode(col("c")).as(Seq("d", "c_d")))
      .groupBy("d")
      .agg(sum(col("c_d") * col("s_r")).as("w_num"), count(lit(1)).as("n"))
      .withColumn("w_e8", expr(
        "(2 * w_num + (CASE WHEN w_num < 0 THEN -1 ELSE 1 END) * n) div (2 * n)"))
      .withColumn("w_r4", expr("round(CAST(w_e8 AS DOUBLE) / 100000000.0D, 4)"))
      .select(col("d").cast("long").as("d"), col("w_num"), col("w_e8"), col("w_r4"))
      .transform(ps(col("d")))
  }

  /** Watermark-fit audit — the streaming-observability query that SIZES a
    * watermark before you deploy one: with the monotone ingest id
    * (event_id) as the arrival-order proxy, an event's lateness is how far
    * its event time lags the maximum event time already seen FOR ITS KEY
    * (the per-key high-watermark — exactly what `withWatermark` tracks),
    * bucketed into the operational delays (on-time / ≤1m / ≤5m / ≤15m /
    * ≤1h / worse) with cumulative coverage ppm — read the row where
    * coverage crosses your SLA and that bucket IS your watermark. Shapes
    * at 100 TB: the running max is a USER-KEYED window (bounded by one
    * key's history, never a global sort), the census map-side-combines
    * into ≤6 groups, and the cumulative window runs over the 6-row grid. */
  def qWatermarkFit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val census = ev.withColumn("prev_max", max(col("ts_us")).over(w))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(col("prev_max") - col("ts_us"), lit(0L))))
      .withColumn("bucket", expr(
        "CASE WHEN late_us = 0 THEN 0L WHEN late_us <= 60000000L THEN 1L " +
          "WHEN late_us <= 300000000L THEN 2L WHEN late_us <= 900000000L THEN 3L " +
          "WHEN late_us <= 3600000000L THEN 4L ELSE 5L END"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val tot = census.agg(sum(col("n")).as("t"))
    val cw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    s.range(6).toDF("bucket")
      .join(census, Seq("bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("cum_n", sum(col("n")).over(cw))
      .withColumn("cum_ppm", expr(ppmDiv("cum_n", "t")))
      .select("bucket", "n", "cum_n", "cum_ppm")
      .transform(ps(col("bucket")))
  }

  /** Out-of-vocabulary rate — the PER-DOCUMENT tokenizer-coverage audit
    * ([[qVocabCoverage]] gives the corpus-level coverage curve; the
    * per-doc grain is what a curation filter drops on) between
    * [[qBpeMerges]] and a training run: vocabulary = the corpus top-1000
    * tokens under the (count, token) total order, then each doc's OOV
    * share in exact ppm. A capped vocab is WHAT a tokenizer ships, so the corpus
    * must be scored against the cap, not the full type inventory. Shapes
    * at 100 TB: one map-side token census, a TakeOrdered top-1000 (never
    * a global sort), the vocab riding a broadcast into the second pass,
    * and a per-doc map-side aggregate — O(docs) output. */
  def qOovRate(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
    val vocab = toks.groupBy(col("shingle").as("token"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(1000)
      .select(col("token"), lit(1L).as("in_v"))
    toks.select(col("doc_id"), col("shingle").as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr(ppmDiv("n_oov", "n_tokens")))
      .orderBy("doc_id")
  }

  /** The BPE ITERATE step [[qBpeMerges]] feeds (that query is the
    * round-1 COUNT step): apply the winning merge to the vocabulary and
    * re-count symbol pairs — one full train round, the piece the count
    * step alone doesn't exercise. Words become space-separated symbol sequences, the
    * winning pair (a 1-row broadcast argmax under the (weight, pair)
    * total order) is applied as leftmost non-overlapping string
    * replacement (`replace('a a a', 'a a', 'aa')` = 'aa a' — exactly
    * BPE's sequential-scan semantics, identical in both engines), and
    * the post-merge pair census keys on `sym1|sym2` (symbols are now
    * multi-char). Shapes: everything runs on the DISTINCT-word
    * vocabulary (the corpus collapsed once, as in round 1); the
    * winner is a bounded broadcast; TakeOrdered top-20 readout. */
  def qBpeApply(s: SparkSession, d: String): DataFrame = {
    val wc = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("shingle").as("word")).agg(count(lit(1)).as("wf"))
      .where(length(col("word")) >= 2)
    val best = wc
      .select(col("wf"), explode(expr(
        "transform(sequence(0, length(word) - 2), i -> substr(word, i + 1, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("weight"))
      .orderBy(col("weight").desc, col("pair")).limit(1)
      .select(expr("substr(pair, 1, 1)").as("c1"), expr("substr(pair, 2, 1)").as("c2"))
    wc.crossJoin(broadcast(best))
      .withColumn("merged", expr(
        "replace(array_join(split(word, ''), ' '), concat(c1, ' ', c2), concat(c1, c2))"))
      .withColumn("syms", split(col("merged"), " "))
      .where(size(col("syms")) >= 2)
      .select(col("wf"), explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> " +
          "concat(element_at(syms, i + 1), '|', element_at(syms, i + 2)))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("weight"))
      .orderBy(col("weight").desc, col("pair")).limit(20)
  }

  /** Common-neighbor link prediction over the co-purchase graph — the
    * recommender/graph-completion primitive next to the triangle tier:
    * candidate pairs = two parts sharing a wedge center, scored by the
    * Jaccard of their neighborhoods, existing edges anti-joined away,
    * top-50 under the (score, pair) total order. The wedge expansion is
    * the LSH-bucket shape with the SAME degree-cap defense: only centers
    * of degree ≤ 50 pair their neighbors (a hub's wedge set is quadratic
    * pair mass contributing ~0 signal — the df-cap argument), and the
    * score is DEFINED over the capped graph so both engines agree
    * exactly; neighborhood sizes count capped-eligible neighbors,
    * consistent with the common count. */
  def qLinkPredict(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    val adj = Graph.symmetric(e, "pa", "pb").toDF("w", "x")
    val eligible = adj.join(
      deg.where(col("d") <= 50).select(col("n").as("w")), "w")
    val degc = eligible.groupBy("x").agg(count(lit(1)).as("degc"))
    eligible.as("a").join(eligible.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .groupBy(col("a.x").as("xa"), col("b.x").as("xb"))
      .agg(count(lit(1)).as("common"))
      .join(e.select(col("pa").as("xa"), col("pb").as("xb")),
        Seq("xa", "xb"), "left_anti")
      .join(degc.select(col("x").as("xa"), col("degc").as("da")), "xa")
      .join(degc.select(col("x").as("xb"), col("degc").as("db")), "xb")
      .withColumn("jaccard_ppm", expr(ppmDiv("common", "(da + db - common)")))
      .orderBy(col("jaccard_ppm").desc, col("xa"), col("xb"))
      .limit(50)
      .select("xa", "xb", "common", "jaccard_ppm")
  }

  /** Isotonic (PAV) calibration over the [[qBrierCalibration]] reliability
    * grid — the monotone recalibration a probabilistic model actually
    * ships: the isotonic fit at bin i is the minimax
    * `max_{j≤i} min_{k≥i} pooled-rate(j..k)` (the closed form of
    * pool-adjacent-violators), with every pooled rate an EXACT ppm from
    * integer (pos, n) prefix sums, so the fit is deterministic in both
    * engines (PAV over ppm-quantized rates — quantization is the
    * declared semantics, not an approximation). Shapes at 100 TB: the
    * corpus pass is the same single map-side ≤10-bin census as the
    * Brier query; ALL minimax work — (j,k) pooling pairs, the (i,j,k)
    * triples, both extremes — lives on broadcast frames bounded by
    * B = 10 bins (≤ 220 triple rows at any corpus size). */
  def qIsotonicCalibrate(s: SparkSession, d: String): DataFrame = {
    val bins = Tables.embeddings(s, d)
      .select(expr("CAST(round(1.0D / (1.0D + exp(-4.0D * CAST(embedding[0] AS DOUBLE))) " +
        "* 10000, 0) AS BIGINT)").as("p_e4"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
      .withColumn("bin", expr("least(9L, p_e4 div 1000)"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cn", sum(col("n")).over(wcum))
      .withColumn("cp", sum(col("pos")).over(wcum))
    val pairs = cum.as("j").join(broadcast(cum.as("k")),
        col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("j"), col("k.bin").as("k"),
        (col("k.cp") - col("j.cp") + col("j.pos")).as("pp"),
        (col("k.cn") - col("j.cn") + col("j.n")).as("nn"))
      .withColumn("ratio_ppm", expr(ppmDiv("pp", "nn")))
    val fit = bins.select(col("bin").as("i"))
      .join(broadcast(pairs), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("ratio_ppm")).as("mn"))
      .groupBy("i").agg(max(col("mn")).as("iso_ppm"))
    bins.join(fit, col("bin") === col("i"))
      .withColumn("rate_ppm", expr(ppmDiv("pos", "n")))
      .select(col("bin"), col("n"), col("rate_ppm"), col("iso_ppm"))
      .transform(ps(col("bin")))
  }

  /** Fellegi–Sunter record-linkage weights — the probabilistic layer over
    * blocked entity resolution ([[qFuzzyMatch]]'s companion): each
    * field's u-probability is its random-agreement rate Σ(f_v/N)² (one
    * value-frequency census per field, exact ppm), the per-field
    * agree/disagree log-weights `ln(m/u)` / `ln((1−m)/(1−u))` (m = 0.9
    * declared; u clamped into [1, 999999] ppm so a constant or unique
    * field can never drive a log to ±∞ — an infinity would CAST
    * divergently between engines) are CONSTANTS snapped to e9 — so every pair's match score
    * is an exact integer sum of field constants. Candidate pairs come
    * from phone-prefix blocking with the LSH-style bucket cap (blocks
    * over 100 members are skipped BEFORE any pair exists — the quadratic
    * hub defense), and the readout is the top-50 scored pairs under the
    * (score, pair) total order. */
  def qErWeights(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey").as("id"),
      expr("c_custkey div 50").as("blk"),
      col("c_mktsegment").as("seg"),
      expr("c_nationkey").cast("long").as("nat"),
      expr("CAST(floor(c_acctbal / 1000.0D) AS BIGINT)").as("band"))
    val n1 = c.agg(count(lit(1)).as("nt"))
    def uPpm(field: String) = c.groupBy(field).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("s2"))
      .crossJoin(broadcast(n1))
      .select(expr(ppmDiv("s2", "(nt * nt)")).as(s"u_$field"))
    val us = uPpm("seg").crossJoin(uPpm("nat")).crossJoin(uPpm("band"))
      .selectExpr(
        Seq("u_seg", "u_nat", "u_band").flatMap(u =>
          Seq(weightAgree(u), weightDisagree(u))): _*)
    val sizes = c.groupBy("blk").agg(count(lit(1)).as("bn"))
      .where(col("bn").between(2, 100)).select("blk")
    val blocked = c.join(sizes, "blk")
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (col("a.seg") === col("b.seg")).as("ag_seg"),
        (col("a.nat") === col("b.nat")).as("ag_nat"),
        (col("a.band") === col("b.band")).as("ag_band"))
      .crossJoin(broadcast(us))
      .withColumn("score_e9", expr(
        "(CASE WHEN ag_seg THEN wa_u_seg ELSE wd_u_seg END) + " +
          "(CASE WHEN ag_nat THEN wa_u_nat ELSE wd_u_nat END) + " +
          "(CASE WHEN ag_band THEN wa_u_band ELSE wd_u_band END)"))
      .select(col("id_a"), col("id_b"), col("score_e9"))
      .orderBy(col("score_e9").desc, col("id_a"), col("id_b"))
      .limit(50)
  }

  /** e9-snapped agree/disagree weight constants for one field from its
    * u ppm: `wa = round(ln(0.9/u)·1e9)`, `wd = round(ln(0.1/(1−u))·1e9)`
    * — row-local doubles from exact ppm integers, snapped before any
    * sum (the snap-then-sum doctrine). */
  private[graft] def weightAgree(uCol: String): String =
    s"CAST(round(ln(0.9D / (CAST(greatest(least($uCol, 999999L), 1L) AS DOUBLE) " +
      s"/ 1000000.0D)) * 1000000000, 0) AS BIGINT) AS wa_$uCol"
  private[graft] def weightDisagree(uCol: String): String =
    s"CAST(round(ln(0.1D / (1.0D - CAST(greatest(least($uCol, 999999L), 1L) AS DOUBLE) " +
      s"/ 1000000.0D)) * 1000000000, 0) AS BIGINT) AS wd_$uCol"

  /** Batch statement of
    * [[graft.streaming.EventStreams.runningTopKPerUser]]'s contract —
    * the `transformWithState` (Spark 4 arbitrary-state v2, RocksDB)
    * running top-3 of event values per user, as the user-keyed ranking
    * window it converges to after an AvailableNow replay (StreamingSpec
    * asserts the replay's final Update-mode emissions equal this frame).
    * The top-k of a value MULTISET is order-insensitive, so parity needs
    * no tie bookkeeping; cents are exact integers. User-keyed window,
    * O(users·k) output. */
  def qRunningTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("cents").desc, col("event_id"))
    Tables.events(s, d).where(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select("user_id", "rank", "cents")
      .orderBy("user_id", "rank")
  }

  /** Neyman allocation — the survey-sampling DESIGN op behind
    * [[qStratifiedSample]]: a fixed budget of B = 1000 samples split
    * across strata ∝ N_h·S_h (size × spread buys the most variance
    * reduction). Spread is the population stddev from EXACT integer cent
    * moments (`n·Σx² − (Σx)²` — int64-safe past the 100× fixture),
    * rounded to e4 only at the weight; the integer allocation uses
    * LARGEST-REMAINDER apportionment (floor the quotas, hand the
    * leftover seats to the biggest remainders under a total order) so
    * the parts sum to EXACTLY B in both engines — no float rounding can
    * gain or lose a sample. One map-side census per stratum; all
    * apportionment windows on the ≤|strata| frame. */
  def qNeymanAlloc(s: SparkSession, d: String): DataFrame = {
    val B = 1000L
    val st = Tables.customer(s, d)
      .select(col("c_mktsegment").as("stratum"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_h"), sum(col("cents")).as("sx"),
        sum(col("cents") * col("cents")).as("sx2"))
      // weight_e4 = N_h · stddev_pop in e4 cents. The sqrt is continuous
      // (rounding-doctrine-safe) but the INT form n·Σx²−(Σx)² overflows
      // int64 past ~sf0.1, so the variance is composed in doubles with an
      // expression-identical op sequence in both engines (every operand
      // explicitly CAST — an int/int slip would be exact division in
      // Spark and integer division in DuckDB).
      .withColumn("w_e4", expr(
        "CAST(round(sqrt(CAST(sx2 AS DOUBLE) / CAST(n_h AS DOUBLE) - " +
          "(CAST(sx AS DOUBLE) / CAST(n_h AS DOUBLE)) * " +
          "(CAST(sx AS DOUBLE) / CAST(n_h AS DOUBLE))) * " +
          "CAST(n_h AS DOUBLE) * 10000.0D, 0) AS BIGINT)"))
    val tot = st.agg(sum(col("w_e4")).as("wt"))
    val quotas = st.crossJoin(broadcast(tot))
      .withColumn("q_num", col("w_e4") * lit(B))
      .withColumn("base", expr("q_num div nullif(wt, 0)"))
      .withColumn("rem", expr("q_num % nullif(wt, 0)"))
    val wrk = Window.orderBy(col("rem").desc, col("stratum"))
    val short = quotas.agg((lit(B) - sum(col("base"))).as("left1"))
    quotas.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(wrk).cast("long"))
      .withColumn("alloc", col("base") + when(col("rk") <= col("left1"), 1L).otherwise(0L))
      .select("stratum", "n_h", "w_e4", "base", "alloc")
      .transform(ps(col("stratum")))
  }

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * system must beat, evaluated honestly: forecast(day) = revenue(day−7),
    * scored over every day with a 7-day-lag observation by weekday-grouped
    * MAPE and bias (absolute/percentage errors in exact integer cents/ppm;
    * the division is the two-step exact ppm, the means round-half-up).
    * The daily census is map-side; the lag is ONE calendar-bounded window
    * (the day frame, not the fact table); output is the 7 ISO weekdays. */
  def qNaiveForecast(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dte"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("a_c"))
    val wl = Window.orderBy("dte")
    val bt = daily
      .withColumn("f_c", lag(col("a_c"), 7).over(wl))
      .withColumn("dlag", lag(col("dte"), 7).over(wl))
      // the lag-7 ROW must be exactly 7 calendar days back (gaps disqualify)
      .where(col("f_c").isNotNull && expr("date_add(dlag, 7)") === col("dte"))
      .withColumn("ae_c", expr("abs(a_c - f_c)"))
      .withColumn("ape_ppm", expr(ppmDiv("ae_c", "a_c")))
    bt.groupBy(expr("CAST(weekday(dte) + 1 AS BIGINT)").as("isodow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ae_c")).as("sum_ae_c"),
        sum(col("a_c") - col("f_c")).as("bias_c"),
        sum(col("ape_ppm")).as("sum_ape"))
      .withColumn("mape_ppm", expr(roundDiv("sum_ape", "n_days", 1L)))
      .select("isodow", "n_days", "sum_ae_c", "bias_c", "mape_ppm")
      .transform(ps(col("isodow")))
  }

  /** Exponential freshness decay — the recency weighting every trending /
    * feed-ranking surface applies ([[qEwmaDecay]] smooths a per-user
    * SERIES with an 8-tap FIR; this weights the whole log against
    * corpus-now for ranking mass): each event contributes
    * `exp(−age/τ)` (τ = 7 days) against the corpus max timestamp, the
    * per-event term a row-local double from exact µs integers SNAPPED to
    * e9 before the per-type sum (order-free integer aggregation), and the
    * freshness ratio (decayed mass / raw count) in exact ppm of e9 units.
    * The max-ts is a 1-row broadcast; the census map-side-combines. */
  def qFreshnessDecay(s: SparkSession, d: String): DataFrame = {
    val tauUs = 7L * 86400L * 1000000L
    val ev = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val mx = ev.agg(max(col("ts_us")).as("tmax"))
    ev.crossJoin(broadcast(mx))
      .withColumn("w_e9", expr(
        s"CAST(round(exp(-CAST(tmax - ts_us AS DOUBLE) / ${tauUs}.0D) * 1000000000, 0) " +
          "AS BIGINT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("w_e9")).as("decayed_e9"))
      .withColumn("fresh_ppm", expr(ppmDiv("decayed_e9", "(n * 1000000000)")))
      .transform(ps(col("event_type")))
  }

  /** Grouped top-3 shipments per part via the BOUNDED-BUFFER typed
    * aggregator ([[graft.functions.TopKAgg]]) — the scale path beside the
    * window formulation ([[qWindowTopk]]'s `row_number() ≤ k` shape): the
    * window must shuffle AND sort the whole fact table before discarding
    * all but k per group, while the aggregator truncates to k pairs per
    * group IN THE MAP TASKS, so the exchange carries k·|groups| rows at
    * any corpus size (SCALING.md measures the shuffle collapse). Total
    * order (cents desc, row id asc); row id = `orderkey·10 + linenumber`
    * (linenumber ≤ 7 — collision-free and engine-portable). */
  def qPartTopShipments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAgg(3).toColumn
    Tables.lineitem(s, d)
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"),
        expr("l_orderkey * 10 + l_linenumber").as("rid"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.name("top"))
      .toDF("part", "top")
      .select(col("part"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("part"), (col("i") + 1).cast("long").as("rank"),
        col("p._1").as("cents"), col("p._2").as("rid"))
      .orderBy("part", "rank")
  }

  /** DuckDB restatement of [[qIpfRaking]]: the 5 declared raking rounds
    * unrolled as MATERIALIZED CTE pairs (each round's frame is referenced
    * twice — by its own margin sum and by the rescale — and DuckDB
    * re-derives inlined CTEs per reference; see the q_kcore adjudication). */
  /** [[qBradleyTerry]]'s oracle: the two MM iterations replayed as
    * materialized CTEs over the same basket-bounded pair census, all
    * arithmetic in the shared truncate-toward-zero integer division. */
  private[graft] lazy val btOracleSql: String = {
    val iter = (i: Int, prev: String) =>
      s"t$i AS MATERIALIZED (SELECT m.i, m.j, m.n_ij, " +
        s"(m.n_ij * 1000000000000) // (wi.w_e6 + wj.w_e6) AS t_e6 " +
        s"FROM m JOIN $prev wi ON wi.p = m.i JOIN $prev wj ON wj.p = m.j), " +
        s"d$i AS (SELECT p, CAST(sum(t_e6) AS BIGINT) AS d_e6 FROM " +
        s"(SELECT i AS p, t_e6 FROM t$i UNION ALL SELECT j AS p, t_e6 FROM t$i) " +
        s"GROUP BY 1), " +
        s"w$i AS (SELECT wt.p, CASE WHEN d_e6 = 0 THEN 1000000 ELSE " +
        s"(wt.wins * 1000000000000) // d_e6 END AS w_e6 " +
        s"FROM wt JOIN d$i ON d$i.p = wt.p)"
    "WITH li AS (SELECT l_orderkey AS k, l_partkey AS p, " +
      "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) " +
      "AS cents FROM lineitem GROUP BY 1, 2), " +
      "m AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS n_ij, " +
      "CAST(sum(CASE WHEN a.cents < b.cents THEN 0 ELSE 1 END) AS BIGINT) " +
      "AS wins_i FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2), " +
      "wt AS (SELECT p, CAST(sum(w) AS BIGINT) AS wins, " +
      "CAST(count(*) AS BIGINT) AS n_opp FROM " +
      "(SELECT i AS p, wins_i AS w FROM m " +
      "UNION ALL SELECT j AS p, n_ij - wins_i AS w FROM m) GROUP BY 1), " +
      "w0 AS (SELECT p, CAST(1000000 AS BIGINT) AS w_e6 FROM wt), " +
      iter(1, "w0") + ", " + iter(2, "w1") + " " +
      "SELECT wt.p, wt.wins, wt.n_opp, w2.w_e6 FROM wt JOIN w2 ON w2.p = wt.p " +
      "ORDER BY w2.w_e6 DESC, wt.p LIMIT 20"
  }

  /** [[qLogisticStep]]'s oracle: the three GD iterations replayed as
    * materialized CTE chains — per-step census over the embedding scan
    * with the previous weights in scope, update by the shared
    * truncate-toward-zero `//`, weights re-snapped to e9 integers each
    * step so both engines stay bit-identical. */
  /** Shared WITH-fragment: the embedding cells plus the three GD-step
    * CTEs (final weights land in `w4pcte`) — composed by
    * [[logisticOracleSql]] and the [[qUncertaintySample]] oracle. */
  private[graft] lazy val logisticStepsCte: String = {
    val z = "CAST(w0 AS DOUBLE) / 1e9 + CAST(w1 AS DOUBLE) / 1e9 * x1 " +
      "+ CAST(w2 AS DOUBLE) / 1e9 * x2"
    def g(xj: String) =
      s"CAST(round((1.0 / (1.0 + exp(-($z))) - y) * $xj * 1000000000, 0) AS BIGINT)"
    val steps = (1 to 3).map { i =>
      val prev = if (i == 1) "w0cte" else s"w$i${"p"}cte"
      // census over cells with the previous weights in scope
      s"c$i AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(sum(${g("1.0")}) AS BIGINT) AS g0, " +
        s"CAST(sum(${g("x1")}) AS BIGINT) AS g1, " +
        s"CAST(sum(${g("x2")}) AS BIGINT) AS g2, " +
        s"CAST(min(w0) AS BIGINT) AS pw0, CAST(min(w1) AS BIGINT) AS pw1, " +
        s"CAST(min(w2) AS BIGINT) AS pw2 FROM cells CROSS JOIN $prev), " +
        s"w${i + 1}pcte AS (SELECT pw0 - g0 // n AS w0, pw1 - g1 // n AS w1, " +
        s"pw2 - g2 // n AS w2 FROM c$i)"
    }.mkString(", ")
    "cells AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
      "CAST(embedding[1] AS DOUBLE) AS x1, " +
      "CAST(embedding[2] AS DOUBLE) AS x2, " +
      "CAST(CAST(label < 5 AS BIGINT) AS DOUBLE) AS y FROM embeddings), " +
      "w0cte AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, " +
      "CAST(0 AS BIGINT) AS w2), " + steps
  }

  private[graft] lazy val logisticOracleSql: String =
    "WITH " + logisticStepsCte + " " +
      "SELECT step, w0 AS w0_e9, w1 AS w1_e9, w2 AS w2_e9 FROM (" +
      (1 to 3).map(i => s"SELECT CAST($i AS BIGINT) AS step, w0, w1, w2 " +
        s"FROM w${i + 1}pcte").mkString(" UNION ALL ") +
      ") ORDER BY step"

  /** [[qUncertaintySample]]'s oracle: score with the step-3 weights and
    * take the 20 smallest exact-integer margins. */
  private[graft] lazy val uncertaintyOracleSql: String =
    "WITH " + logisticStepsCte + ", " +
      "scored AS (SELECT vec_id, label, CAST(round(1000000000 / (1.0 + " +
      "exp(-(CAST(w0 AS DOUBLE) / 1e9 + CAST(w1 AS DOUBLE) / 1e9 * x1 " +
      "+ CAST(w2 AS DOUBLE) / 1e9 * x2))), 0) AS BIGINT) AS p_e9 " +
      "FROM cells CROSS JOIN w4pcte) " +
      "SELECT vec_id, label, p_e9, abs(p_e9 - 500000000) AS margin_e9 " +
      "FROM scored ORDER BY margin_e9, vec_id LIMIT 20"

  /** [[qPagerankIter]]'s oracle: all [[PrCap]] integer rounds as
    * materialized CTEs; `converged = (max|Δ| = 0)` — for rounds past the
    * engine's early exit the dynamics reproduce identical ranks, so the
    * replay computes the same padded rows. */
  private[graft] lazy val pagerankOracleSql: String = {
    val rounds = (1 to PrCap).map { i =>
      val p = i - 1
      s"r$i AS MATERIALIZED (SELECT dst AS n, CAST(150000 + " +
        s"(85 * CAST(sum(r // d) AS BIGINT)) // 100 AS BIGINT) AS r " +
        s"FROM sym JOIN dg ON dg.src = sym.src JOIN r$p p$i ON p$i.n = sym.src " +
        s"GROUP BY dst), " +
        s"s$i AS (SELECT CAST(count(*) AS BIGINT) AS nn, " +
        s"CAST(sum(a.r) AS BIGINT) AS sr, " +
        s"CAST(max(abs(a.r - b.r)) AS BIGINT) AS md " +
        s"FROM r$i a JOIN r$p b ON a.n = b.n)"
    }.mkString(", ")
    "WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
      "e0 AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
      "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey " +
      "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0 " +
      "UNION ALL SELECT pb AS src, pa AS dst FROM e0), " +
      "dg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d " +
      "FROM sym GROUP BY 1), " +
      "r0 AS (SELECT src AS n, CAST(1000000 AS BIGINT) AS r FROM dg), " +
      rounds + " " +
      (1 to PrCap).map { i =>
        s"SELECT CAST($i AS BIGINT) AS round, nn AS n_nodes, " +
          s"sr AS sum_rank_ppm, md AS max_delta_ppm, " +
          s"CAST(md = 0 AS BIGINT) AS converged FROM s$i"
      }.mkString(" UNION ALL ") + " ORDER BY round"
  }

  private[graft] lazy val ipfOracleSql: String = {
    val rescale = "(w // s) * t + ((w % s) * t) // s"
    val rounds = (1 to 5).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"r$i AS MATERIALIZED (SELECT $prev.seg, nat, $rescale AS w FROM $prev " +
        s"JOIN (SELECT seg, CAST(sum(w) AS BIGINT) AS s FROM $prev GROUP BY 1) rs " +
        s"ON rs.seg = $prev.seg JOIN rt ON rt.seg = $prev.seg), " +
        s"c$i AS MATERIALIZED (SELECT seg, r$i.nat, $rescale AS w FROM r$i " +
        s"JOIN (SELECT nat, CAST(sum(w) AS BIGINT) AS s FROM r$i GROUP BY 1) cs " +
        s"ON cs.nat = r$i.nat JOIN ct ON ct.nat = r$i.nat)"
    }.mkString(", ")
    "WITH cust AS (SELECT c_custkey, c_mktsegment AS seg, " +
      "CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
      "resp AS (SELECT cust.* FROM cust JOIN (SELECT DISTINCT o_custkey FROM orders) o " +
      "ON o.o_custkey = cust.c_custkey), " +
      "c0 AS (SELECT seg, nat, CAST(count(*) * 1000 AS BIGINT) AS w FROM resp GROUP BY 1, 2), " +
      "rt AS (SELECT seg, CAST(count(*) * 1000 AS BIGINT) AS t FROM cust GROUP BY 1), " +
      "ct AS (SELECT nat, CAST(count(*) * 1000 AS BIGINT) AS t FROM cust GROUP BY 1), " +
      rounds + ", " +
      "n0 AS (SELECT seg, nat, CAST(count(*) AS BIGINT) AS n FROM resp GROUP BY 1, 2) " +
      "SELECT c5.seg, c5.nat, n, w AS w_e3, " +
      s"CAST(${ppmDivSql("w", "(n * 1000)")} AS BIGINT) AS factor_ppm " +
      "FROM c5 JOIN n0 ON n0.seg = c5.seg AND n0.nat = c5.nat ORDER BY c5.seg, c5.nat"
  }

  /** Iterative proportional fitting (raking) — the survey-weighting
    * algorithm behind every nonresponse adjustment: the (segment, nation)
    * census of customers WITH orders is reweighted until its margins
    * match the FULL customer population's margins (the subpopulation
    * "responded"; the population margins are known). Five
    * row-scale/column-scale rounds, every step EXACT integer arithmetic:
    * weights live in e3 units, each rescale is the overflow-safe
    * two-step `(w div S)·T + ((w mod S)·T) div S` (floor semantics,
    * declared), and margin sums are int64 — bit-identical in both
    * engines with no float products anywhere. Shapes at 100 TB: the two
    * corpus censuses are map-side; ALL raking rounds run on the bounded
    * ≤|segments|·|nations| cell grid (125 rows) — broadcast joins only.
    * Convergence to ~0.1 % in 5 rounds is typical for well-conditioned
    * margins; the round count is declared, not adaptive (the fixpoint
    * doctrine's materialized-CTE restatement). */
  def qIpfRaking(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"))
    val responded = cust.join(
      Tables.orders(s, d).select(col("o_custkey").as("c_custkey")).distinct(),
      "c_custkey")
    var cells = responded.groupBy("seg", "nat")
      .agg((count(lit(1)) * 1000L).as("w"))
    val rowT = cust.groupBy("seg").agg((count(lit(1)) * 1000L).as("t_row"))
    val colT = cust.groupBy("nat").agg((count(lit(1)) * 1000L).as("t_col"))
    val rescale = "(w div s) * t + ((w % s) * t) div s"
    (1 to 5).foreach { _ =>
      val rs = cells.groupBy("seg").agg(sum(col("w")).as("s"))
      cells = cells.join(broadcast(rs), "seg").join(broadcast(rowT), "seg")
        .withColumn("w", expr(rescale.replace("t", "t_row")))
        .select("seg", "nat", "w")
      val cs = cells.groupBy("nat").agg(sum(col("w")).as("s"))
      cells = cells.join(broadcast(cs), "nat").join(broadcast(colT), "nat")
        .withColumn("w", expr(rescale.replace("t", "t_col")))
        .select("seg", "nat", "w")
        // per-round lineage cut (the fixpoint doctrine): without it the
        // 10-deep chained self-referencing join tree makes Catalyst
        // re-optimize the whole prefix per round — measured 70 s → ~2 s
        // on the 125-row grid
        .transform(Checkpoints.truncate)
    }
    val n0 = responded.groupBy("seg", "nat").agg(count(lit(1)).as("n"))
    cells.join(n0, Seq("seg", "nat"))
      .withColumn("factor_ppm", expr(ppmDiv("w", "(n * 1000)")))
      .select(col("seg"), col("nat"), col("n"), col("w").as("w_e3"),
        col("factor_ppm"))
      .transform(ps(col("seg"), col("nat")))
  }

  /** DuckDB restatement of [[qMarkovAttribution]]: the 16 declared power
    * iterations unrolled as MATERIALIZED CTEs over the (scenario, state)
    * grid (aggregation is illegal in a recursive CTE term, so the
    * fixpoint-as-unrolled-CTEs doctrine applies; each p_k is referenced
    * by the next round's join). Integer formula identical to the driver
    * loop: `Σ(P_ppm·p_e9) div 10⁶` with CONV pinned at 10⁹, NULL and the
    * removed channel at 0. */
  private[graft] lazy val markovOracleSql: String = {
    val iters = (1 to 16).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"p$k AS MATERIALIZED (SELECT sc.removed, tp.src AS state, " +
        "CAST(CASE WHEN tp.src = sc.removed THEN 0 ELSE " +
        "CAST(sum(tp.p_ppm * (CASE WHEN tp.dst = 'CONV' THEN 1000000000 " +
        "WHEN tp.dst = 'NULL' THEN 0 WHEN tp.dst = sc.removed THEN 0 " +
        s"ELSE coalesce(pv.p, 0) END)) AS BIGINT) // 1000000 END AS BIGINT) AS p " +
        s"FROM tp CROSS JOIN scen sc LEFT JOIN $prev pv " +
        "ON pv.removed = sc.removed AND pv.state = tp.dst " +
        "GROUP BY sc.removed, tp.src)"
    }.mkString(", ")
    "WITH ev AS (SELECT user_id, event_id, event_type AS typ, epoch_us(ts) AS ts_us, " +
      "CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) " +
      "AS BIGINT) AS rk FROM events), " +
      "fp AS (SELECT user_id, min(rk) AS fp FROM ev WHERE typ = 'purchase' GROUP BY 1), " +
      "kept AS (SELECT ev.* FROM ev LEFT JOIN fp USING (user_id) " +
      "WHERE fp.fp IS NULL OR ev.rk <= fp.fp), " +
      "mp AS (SELECT user_id, rk, typ, lead(typ, 1) OVER " +
      "(PARTITION BY user_id ORDER BY rk) AS nxt FROM kept), " +
      "tr AS (SELECT typ AS src, CASE WHEN nxt = 'purchase' THEN 'CONV' " +
      "ELSE coalesce(nxt, 'NULL') END AS dst FROM mp WHERE typ <> 'purchase' " +
      "UNION ALL SELECT 'START' AS src, CASE WHEN typ = 'purchase' THEN 'CONV' " +
      "ELSE typ END AS dst FROM mp WHERE rk = 1), " +
      "cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2), " +
      "ot AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1), " +
      s"tp AS MATERIALIZED (SELECT cnt.src, dst, CAST(${ppmDivSql("c", "tot")} AS BIGINT) " +
      "AS p_ppm FROM cnt JOIN ot ON ot.src = cnt.src), " +
      "states AS (SELECT DISTINCT src FROM cnt), " +
      "scen AS MATERIALIZED (SELECT 'base' AS removed UNION ALL " +
      "SELECT src FROM states WHERE src <> 'START'), " +
      "p0 AS (SELECT sc.removed, s.src AS state, CAST(0 AS BIGINT) AS p " +
      "FROM scen sc CROSS JOIN states s), " +
      iters + ", " +
      "fin AS (SELECT removed, p FROM p16 WHERE state = 'START'), " +
      "base AS (SELECT p AS pb FROM fin WHERE removed = 'base'), " +
      "ch AS (SELECT removed AS channel, p AS pr FROM fin WHERE removed <> 'base'), " +
      "dr AS (SELECT channel, pb, pr, pb - pr AS drop_e9 FROM ch CROSS JOIN base), " +
      "td AS (SELECT CAST(sum(drop_e9) AS BIGINT) AS t FROM dr) " +
      "SELECT channel, pb AS p_base_e9, pr AS p_removed_e9, drop_e9, " +
      s"CAST(CASE WHEN t > 0 THEN ${ppmDivSql("drop_e9", "t")} ELSE 0 END AS BIGINT) " +
      "AS share_ppm FROM dr CROSS JOIN td ORDER BY channel"
  }

  /** Markov removal-effect attribution — the principled multi-touch model
    * next to the positional [[qAttribution]]: user journeys truncate at
    * the FIRST purchase (CONV absorbs; journeys without one absorb at
    * NULL), transitions count START→first / step→step / step→terminal,
    * and each channel's credit is its REMOVAL EFFECT — how much the
    * absorption probability P(CONV | START) drops when the channel is
    * deleted from the chain (transitions into it becoming NULL). The
    * corpus-sized work is entirely distributed (user-keyed rank/lead
    * windows + one map-side transition census); the chain itself is a
    * ≤|event types|+3-state matrix — a documented BOUNDED driver
    * round-trip (≤49 count rows, the IVF/MMR precedent) that runs 16
    * declared power iterations per scenario in EXACT integer arithmetic
    * (transition ppm via the two-step division, state values in e9,
    * `Σ(P_ppm·p_e9) div 10⁶` per step — the oracle replays the identical
    * iterations as materialized CTEs, proving the driver math
    * bit-equal). Output: per channel the base/removed conversion, the
    * drop, and the normalized share. */
  def qMarkovAttribution(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type").as("typ"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
    val fp = ev.where(col("typ") === "purchase")
      .groupBy("user_id").agg(min(col("rk")).as("fp"))
    val kept = ev.join(fp, Seq("user_id"), "left")
      .where(col("fp").isNull || col("rk") <= col("fp"))
    val wk = Window.partitionBy("user_id").orderBy("rk")
    val mapped = kept
      .withColumn("nxt_raw", lead(col("typ"), 1).over(wk))
      .withColumn("dst", when(col("nxt_raw") === "purchase", lit("CONV"))
        .otherwise(coalesce(col("nxt_raw"), lit("NULL"))))
    val trans = mapped.where(col("typ") =!= "purchase")
      .select(col("typ").as("src"), col("dst"))
    val starts = mapped.where(col("rk") === 1L)
      .select(lit("START").as("src"),
        when(col("typ") === "purchase", lit("CONV")).otherwise(col("typ")).as("dst"))
    val counts = trans.unionAll(starts).groupBy("src", "dst")
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import s.implicits._
    // Empty event log → no transitions, no START state, nothing to
    // attribute; the typed empty Seq carries the exact output schema.
    if (counts.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("channel", "p_base_e9", "p_removed_e9", "drop_e9", "share_ppm")
    // ---- bounded driver math (≤49 rows), exact integers throughout ----
    def ppmOf(n: Long, den: Long): Long =
      (n * 1000 / den) * 1000 + ((n * 1000 % den) * 1000) / den
    val outTot = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pT = counts.map { case (s0, t0, c) => (s0, t0) -> ppmOf(c, outTot(s0)) }.toMap
    val states = counts.map(_._1).distinct.sorted
    val channels = states.filterNot(_ == "START").sorted
    def absorb(removed: Option[String]): Long = {
      var p = states.map(_ -> 0L).toMap
      (1 to 16).foreach { _ =>
        p = states.map { s0 =>
          s0 -> (if (removed.contains(s0)) 0L
          else {
            val acc = counts.filter(_._1 == s0).map { case (_, t0, _) =>
              val pv = t0 match {
                case "CONV" => 1000000000L
                case "NULL" => 0L
                case x if removed.contains(x) => 0L
                case x => p.getOrElse(x, 0L)
              }
              pT((s0, t0)) * pv
            }.sum
            acc / 1000000L
          })
        }.toMap
      }
      p("START")
    }
    val base = absorb(None)
    val rows = channels.map { ch =>
      val rem = absorb(Some(ch))
      (ch, base, rem, base - rem)
    }
    val totDrop = rows.map(_._4).sum
    import s.implicits._
    rows.toSeq.map { case (ch, b, r, drp) =>
      (ch, b, r, drp, if (totDrop > 0) ppmOf(drp, totDrop) else 0L)
    }.toDF("channel", "p_base_e9", "p_removed_e9", "drop_e9", "share_ppm")
      .orderBy("channel")
  }

  /** Temperature-scaling fit — the calibration REPAIR step that
    * [[qBrierCalibration]]'s gap column motivates and [[qIsotonicCalibrate]]
    * complements (temperature is the parametric, order-preserving fix;
    * isotonic the nonparametric one): grid-search τ ∈ {0.5, 0.6, …, 2.0}
    * minimizing the binary NLL of `sigmoid(4x/τ)` against the labels.
    * Each (row, τ) NLL term is row-local double work from exact inputs
    * SNAPPED to e9 before the per-τ sum (order-free integer totals), and
    * the winner is an exact `min(struct(nll, τ))` under a total order —
    * grid search is DECLARED semantics, so both engines agree exactly
    * (a gradient fit would converge engine-dependently). Shapes at
    * 100 TB: the 16-row τ grid rides a broadcast into one scan — the
    * expansion is row-local and combines map-side into 16 totals. */
  def qTemperatureFit(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.embeddings(s, d)
      .select(col("embedding").getItem(0).cast("double").as("x"),
        expr("CAST(label < 5 AS BIGINT)").as("y"))
    val grid = s.range(16).toDF("i")
      .select((col("i") + 5).cast("long").as("tau_e1"))
    val terms = cells.crossJoin(broadcast(grid))
      .withColumn("nll_e9", expr(
        "CAST(round(-(CAST(y AS DOUBLE) * ln(1.0D / (1.0D + exp(-4.0D * x " +
          "/ (CAST(tau_e1 AS DOUBLE) / 10.0D)))) + (1.0D - CAST(y AS DOUBLE)) " +
          "* ln(1.0D - 1.0D / (1.0D + exp(-4.0D * x / (CAST(tau_e1 AS DOUBLE) " +
          "/ 10.0D))))) * 1000000000, 0) AS BIGINT)"))
    val byTau = terms.groupBy("tau_e1")
      .agg(count(lit(1)).as("n"), sum(col("nll_e9")).as("nll_sum_e9"))
    val best = byTau.agg(min(struct(col("nll_sum_e9"), col("tau_e1"))).as("b"))
      .select(col("b.tau_e1").as("best_tau"))
    byTau.crossJoin(broadcast(best))
      .withColumn("is_best", (col("tau_e1") === col("best_tau")).cast("bigint"))
      .select("tau_e1", "n", "nll_sum_e9", "is_best")
      .transform(ps(col("tau_e1")))
  }

  /** Jaro-Winkler entity-resolution pass over the part-name vocabulary —
    * the record-linkage scoring step, exercising the native
    * [[graft.functions.JaroWinkler]] expression (codegen'd static kernel;
    * Spark ships no prefix-weighted edit metric). Names dedupe to their
    * VOCABULARY first (64 adjective×noun combinations, saturated by
    * sf0.01 — FIXTURES.md), so the pair frame is vocab-bounded at any
    * fact scale; blocking on the trailing noun keeps candidates to
    * same-category names (the [[qFuzzyMatch]] discipline, which scores
    * the Levenshtein tier of the same problem). Each surviving pair
    * carries both sides' part support — the merge-decision weight an ER
    * pipeline needs downstream. */
  def qJaroEr(s: SparkSession, d: String): DataFrame = {
    import graft.functions.JaroWinkler.jaro_winkler
    val names = Tables.part(s, d)
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", expr("element_at(split(p_name, ' '), -1)"))
    val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"),
      col("noun"))
    val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"),
      col("noun"))
    a.join(b, Seq("noun"))
      .where(col("name_a") < col("name_b"))
      .withColumn("jw_e9",
        round(jaro_winkler(col("name_a"), col("name_b")) * lit(1000000000L), 0)
          .cast("bigint"))
      .select("name_a", "name_b", "n_a", "n_b", "jw_e9")
      .where(col("jw_e9") >= 800000000L)
      .orderBy(col("jw_e9").desc, col("name_a"), col("name_b"))
  }

  /** Exact Shapley-value channel attribution over the four non-conversion
    * event channels (click/error/signup/view → bits 0-3, alphabetical;
    * purchase = conversion). The coalition game is `v(S) = converted
    * users whose touched-channel set ⊆ S` — monotone by construction, so
    * every marginal `v(S∪{i}) − v(S)` is ≥ 0 and the exact factorial
    * weights `w(|S|) = |S|!·(3−|S|)! ∈ {6,2,2,6}` (denominator 4! = 24)
    * keep the whole computation in integers: `Σ_i φ_i·24 = 24·(v(full) −
    * v(∅))` (the efficiency axiom, asserted in QueriesSpec; shares
    * normalize by v(full) − v(∅) — NOT v(full) alone — so the axiom holds
    * even if a converted purchase-only user ever makes v(∅) > 0, instead
    * of relying on fixture luck). Shapes at 100 TB:
    * one user-keyed census (the only data-sized shuffle), then a ≤16-row
    * mask census against a 16-row subset grid and a 4-row channel frame —
    * every post-census join is broadcast of a bounded frame. Contrast
    * [[qMarkovAttribution]] (removal-effect on the transition matrix) and
    * [[qAttribution]] (positional rules): three attribution doctrines,
    * one census shape. */
  def qShapleyAttribution(s: SparkSession, d: String): DataFrame = {
    val user = Tables.events(s, d).select(col("user_id"),
        expr("CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 " +
          "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END").as("bit"),
        expr("CAST(event_type = 'purchase' AS INT)").as("pur"))
      .groupBy(col("user_id"))
      .agg(expr("CAST(bit_or(bit) AS BIGINT)").as("mask"),
        expr("CAST(max(pur) AS BIGINT)").as("conv"))
    val maskCensus = user.groupBy(col("mask"))
      .agg(sum(col("conv")).as("conv_n"))
    val subsets = s.range(16).toDF("s")
    val v = broadcast(subsets)
      .join(broadcast(maskCensus), expr("(mask & s) = mask"), "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("conv_n")), lit(0L)).as("v"))
    val channels = s.range(4).toDF("i")
      .withColumn("channel", expr(
        "CASE i WHEN 0 THEN 'click' WHEN 1 THEN 'error' " +
          "WHEN 2 THEN 'signup' ELSE 'view' END"))
    val phi = broadcast(channels)
      .join(broadcast(v.as("lo")), expr("(shiftright(lo.s, CAST(i AS INT)) & 1) = 0"))
      .join(broadcast(v.as("hi")),
        expr("hi.s = (lo.s | shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)))"))
      .withColumn("w", expr(
        "CASE WHEN bit_count(lo.s) IN (0, 3) THEN 6 ELSE 2 END"))
      .groupBy(col("channel"))
      .agg(sum(expr("w * (hi.v - lo.v)")).as("phi_x24"))
    val tot = v.agg((sum(when(col("s") === 15L, col("v"))
      .when(col("s") === 0L, -col("v")).otherwise(lit(0L))) * 24L).as("tot_x24"))
    phi.crossJoin(broadcast(tot))
      .select(col("channel"), col("phi_x24"),
        expr(s"CASE WHEN tot_x24 = 0 THEN 0 ELSE CAST(${ppmDiv("phi_x24", "tot_x24")} AS BIGINT) END")
          .as("share_ppm"))
      .transform(ps(col("channel")))
  }

  /** A-Priori frequent-triple mining over order baskets (items =
    * distinct parts per order, the [[qPartAffinity]] basket model one
    * level deeper): L2 = pairs with support ≥ 2, candidate triples
    * joined from L2 pairs sharing their first item with the third pair
    * membership-pruned (the anti-monotone step — a triple can reach
    * support 2 only if all three of its pairs did), then true support
    * counted with every join leg restricted to L2 pairs. Lossless vs the
    * brute enumeration (the oracle IS the brute enumeration) because
    * support is anti-monotone. Shapes at 100 TB: basket sizes are
    * bounded (~5 lines/order at every sf), so the per-basket pair
    * expansion is a constant factor on the fact table — the pair mass is
    * fact-LINEAR, not quadratic — and L2/candidates are
    * frequency-pruned frames that broadcast. */
  def qFrequentTriples(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    val pairOcc = op.as("a")
      .join(op.as("b"), expr("a.k = b.k AND a.p < b.p"))
      .select(col("a.k").as("k"), col("a.p").as("pa"), col("b.p").as("pb"))
    // r17 note: l2 is consumed four times and a Checkpoints.truncate was
    // tried — measured WORSE (1.73 → 3.19 s quiet min-of-4): the four
    // declarative re-derivations schedule as concurrent stages over idle
    // cores, while the eager truncate serializes the census into a
    // blocking step before any consumer starts. Kept declarative.
    val l2 = pairOcc.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("supp2"))
      .where(col("supp2") >= 2L)
      .select("pa", "pb")
    val cand = l2.as("x")
      .join(l2.as("y"), expr("x.pa = y.pa AND x.pb < y.pb"))
      .select(col("x.pa").as("ca"), col("x.pb").as("cb"), col("y.pb").as("cc"))
      .join(broadcast(l2.select(col("pa").as("cb"), col("pb").as("cc"))),
        Seq("cb", "cc"), "left_semi")
    val occ2 = pairOcc.join(broadcast(l2), Seq("pa", "pb"), "left_semi")
    occ2.as("o2").join(op.as("c"), expr("o2.k = c.k AND o2.pb < c.p"))
      .select(col("o2.pa").as("pa"), col("o2.pb").as("pb"), col("c.p").as("pc"))
      .join(broadcast(cand.select(col("ca").as("pa"), col("cb").as("pb"),
        col("cc").as("pc"))), Seq("pa", "pb", "pc"), "left_semi")
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("supp"))
      .where(col("supp") >= 2L)
      .orderBy("pa", "pb", "pc")
  }

  /** CUPED variance reduction for the A/B readout ([[qAbtestChi2]] /
    * [[qAbQuantiles]] are the test tier; this is the sensitivity tier):
    * pre-period covariate X = each user's value mass before Jan 16,
    * experiment metric Y = mass after; θ = cov(X,Y)/var(X) pooled across
    * arms, adjusted metric `Y − θX` (the X̄ recentering shifts both arms
    * identically and cancels in the arm contrast, so it is omitted).
    * Every per-event value snaps to e3 BEFORE summing (order-free exact
    * user aggregates); the centered second moments `n·Sxy − Sx·Sy` etc.
    * are exact DECIMAL(38,0) products of long sums (they overflow a long
    * at fleet scale), and θ_e9 plus the realized variance-reduction ρ²
    * are presented through byte-identical double expressions from those
    * exact integers in both engines. Shapes at 100 TB: one user-keyed
    * census (the only data-sized shuffle), a 1-row pooled moment frame
    * broadcast back over the 2-row arm census — the adjustment never
    * rescans events. */
  def qCuped(s: SparkSession, d: String): DataFrame = {
    val user = Tables.events(s, d).select(
        (col("user_id") % 2).as("arm"), col("user_id"),
        expr("CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN " +
          "CAST(round(value * 1000, 0) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("xv"),
        expr("CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN " +
          "CAST(round(value * 1000, 0) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("yv"))
      .groupBy(col("arm"), col("user_id"))
      .agg(sum(col("xv")).as("x"), sum(col("yv")).as("y"))
    val pooled = user.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))").as("cxx"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))").as("cxy"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))").as("cyy"))
      .select(
        expr("CASE WHEN cxx = 0 THEN 0 ELSE CAST(round(CAST(cxy AS DOUBLE) " +
          "/ CAST(cxx AS DOUBLE) * 1000000000, 0) AS BIGINT) END").as("theta_e9"),
        expr("CASE WHEN cxx = 0 OR cyy = 0 THEN 0 ELSE CAST(round(" +
          "CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE) / (CAST(cxx AS DOUBLE) " +
          "* CAST(cyy AS DOUBLE)) * 1000000, 0) AS BIGINT) END").as("varred_ppm"))
    user.crossJoin(broadcast(pooled))
      // per-row product in DECIMAL(38,0) like the moment sums above: the
      // BIGINT form wraps silently (non-ANSI) once a user's e3 value mass
      // passes ~9.2e9, exactly where DuckDB would error instead
      .withColumn("adj12", expr("CAST(y AS DECIMAL(38,0)) * 1000000000 " +
        "- CAST(theta_e9 AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
      .groupBy(col("arm"), col("theta_e9"), col("varred_ppm"))
      .agg(count(lit(1)).as("n_users"), sum(col("y")).as("sy"),
        sum(col("adj12")).as("sadj"))
      .select(col("arm"), col("n_users"),
        expr(s"CAST(${roundDiv("sy", "n_users", 1000L)} AS BIGINT)").as("mean_raw_e6"),
        expr("CAST(round(CAST(sadj AS DOUBLE) / CAST(n_users AS DOUBLE) " +
          "/ 1000000.0, 0) AS BIGINT)").as("mean_adj_e6"),
        col("theta_e9"), col("varred_ppm"))
      .transform(ps(col("arm")))
  }

  /** Closed-form two-feature OLS via the normal equations — multiple
    * regression as ONE map-side census ([[qRegrTrend]] is the
    * single-feature tier): y = price dollars on x₁ = quantity, x₂ =
    * discount e2. The nine raw power sums are exact longs; the centered
    * (×n) second moments `n·Sxy − Sx·Sy` are exact DECIMAL(38,0)/HUGEINT
    * products (they pass 2⁶³ at fleet scale); the Cramer solve, intercept
    * and R² are byte-identical double expressions from those exact
    * integers — the engines agree because the INPUTS are bit-equal and
    * the IEEE op sequence is shared. Shapes at 100 TB: one scan, nine
    * map-side-combined totals, a 1-row solve — no second pass, no
    * gradient loop, no shuffle beyond the single-row aggregate. */
  def qOlsClosed(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d).select(
      expr("CAST(l_quantity AS BIGINT)").as("x1"),
      expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("x2"),
      expr("CAST(round(l_extendedprice, 0) AS BIGINT)").as("y"))
    val dec = "CAST(%s AS DECIMAL(38,0))"
    cells.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"), sum(expr("x1 * y")).as("s1y"),
        sum(expr("x2 * y")).as("s2y"), sum(expr("y * y")).as("syy"))
      .select(col("n"),
        expr(s"${dec.format("n")} * ${dec.format("s11")} - ${dec.format("s1")} * ${dec.format("s1")}").as("a11"),
        expr(s"${dec.format("n")} * ${dec.format("s12")} - ${dec.format("s1")} * ${dec.format("s2")}").as("a12"),
        expr(s"${dec.format("n")} * ${dec.format("s22")} - ${dec.format("s2")} * ${dec.format("s2")}").as("a22"),
        expr(s"${dec.format("n")} * ${dec.format("s1y")} - ${dec.format("s1")} * ${dec.format("sy")}").as("b1"),
        expr(s"${dec.format("n")} * ${dec.format("s2y")} - ${dec.format("s2")} * ${dec.format("sy")}").as("b2"),
        expr(s"${dec.format("n")} * ${dec.format("syy")} - ${dec.format("sy")} * ${dec.format("sy")}").as("cyy"),
        col("s1"), col("s2"), col("sy"))
      .withColumn("det", expr("CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)"))
      .withColumn("beta1d", expr("(CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE)) / nullif(det, 0)"))
      .withColumn("beta2d", expr("(CAST(b2 AS DOUBLE) * CAST(a11 AS DOUBLE) " +
        "- CAST(b1 AS DOUBLE) * CAST(a12 AS DOUBLE)) / nullif(det, 0)"))
      .select(col("n"),
        expr("CAST(round(beta1d * 1000000, 0) AS BIGINT)").as("beta_qty_e6"),
        expr("CAST(round(beta2d * 1000000, 0) AS BIGINT)").as("beta_disc_e6"),
        expr("CAST(round((CAST(sy AS DOUBLE) - beta1d * CAST(s1 AS DOUBLE) " +
          "- beta2d * CAST(s2 AS DOUBLE)) / nullif(CAST(n AS DOUBLE), 0) * 1000, 0) " +
          "AS BIGINT)").as("intercept_e3"),
        expr("CAST(round((beta1d * CAST(b1 AS DOUBLE) + beta2d * CAST(b2 AS DOUBLE)) " +
          "/ nullif(CAST(cyy AS DOUBLE), 0) * 1000000, 0) AS BIGINT)").as("r2_ppm"))
  }

  /** Three declared gradient-descent steps of two-feature logistic
    * regression ([[qKmeansStep]] is the clustering iterate; this is the
    * GLM one): y = (label < 5) on the first two embedding dims, weights
    * carried as e9 integers so every step RE-SNAPS to a bit-identical
    * state in both engines (a float weight would accumulate engine
    * drift). Per step: the sigmoid residual terms are row-local doubles
    * from exact broadcast weights, e9-snapped BEFORE the sum (order-free
    * integer gradients), and the update `w −= Σg div n` uses the shared
    * truncate-toward-zero integer division. Shapes at 100 TB: each step
    * is one scan with three map-side-combined totals and a 1-row weight
    * broadcast — the classic distributed-GD shape; iterating further =
    * looping this plan with the checkpoint discipline. */
  def qLogisticStep(s: SparkSession, d: String): DataFrame = {
    // emit all three states: replaying the fold per step costs 1+2+3 scans
    // and keeps the query a pure DataFrame — no driver math, no collect
    val states = (1 to 3).map(k => logisticFold(s, d, k))
    states.reduce(_ unionByName _)
      .select(col("step"), col("w0").as("w0_e9"), col("w1").as("w1_e9"),
        col("w2").as("w2_e9"))
      .transform(ps(col("step")))
  }

  /** The [[qLogisticStep]] embedding frame: first two dims + binary label. */
  private[graft] def logisticCells(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      expr("CAST(embedding[0] AS DOUBLE)").as("x1"),
      expr("CAST(embedding[1] AS DOUBLE)").as("x2"),
      expr("CAST(CAST(label < 5 AS BIGINT) AS DOUBLE)").as("y"))

  /** k snapped GD steps of the 2-feature logistic fit — the shared iterate
    * behind [[qLogisticStep]] (all three states) and
    * [[qUncertaintySample]] (final weights as the scoring model). */
  private[graft] def logisticFold(s: SparkSession, d: String, k: Int): DataFrame = {
    val cells = logisticCells(s, d)
    val g = (w: String, xj: String) => // e9-snapped per-row gradient term
      s"CAST(round((1.0D / (1.0D + exp(-($w))) - y) * $xj * 1000000000, 0) AS BIGINT)"
    def stepOnce(w: DataFrame, i: Int): DataFrame = {
      val z = "CAST(w0 AS DOUBLE) / 1e9 + CAST(w1 AS DOUBLE) / 1e9 * x1 " +
        "+ CAST(w2 AS DOUBLE) / 1e9 * x2"
      cells.crossJoin(broadcast(w))
        .agg(count(lit(1)).as("n"),
          sum(expr(g(z, "1.0D"))).as("g0"), sum(expr(g(z, "x1"))).as("g1"),
          sum(expr(g(z, "x2"))).as("g2"),
          first(col("w0")).as("w0"), first(col("w1")).as("w1"),
          first(col("w2")).as("w2"))
        .select(expr("w0 - g0 div n").as("w0"), expr("w1 - g1 div n").as("w1"),
          expr("w2 - g2 div n").as("w2"), lit(i.toLong).as("step"))
    }
    val w0row = s.sql("SELECT CAST(0 AS BIGINT) w0, CAST(0 AS BIGINT) w1, " +
      "CAST(0 AS BIGINT) w2, CAST(0 AS BIGINT) step")
    (1 to k).foldLeft(w0row)(stepOnce)
  }

  /** Merkle-style two-level table diff — the replica-reconciliation step
    * [[qTableChecksum]] motivates and [[qSnapshotDiff]] brute-forces:
    * both versions summarize into 256 md5-keyed buckets (count + XOR'd
    * 60-bit row hashes, all map-side-combinable), the bucket summaries
    * name the DIRTY buckets, and only rows hashing into a dirty bucket
    * enter the row-grain diff (broadcast semi-join filter). At 100 TB
    * with a 0.1 % drift rate this is the difference between shuffling
    * two full tables and shuffling ~the changed rows: the checksum pass
    * is map-side, the diff pass is drift-proportional. Version deltas
    * are declared arithmetic on the shared fixture (adds ≡ 0 mod 1013,
    * drops ≡ 0 mod 1009, cent bumps ≡ 0 mod 997) — so a row's
    * membership and payload on BOTH sides are functions of its one base
    * row, and each pass derives the two sides in a single conditional
    * projection instead of once per side (r17; the oracle keeps the
    * two-sided two-summary formulation, and the hash match re-proves
    * the collapse on every fixture). */
  def qMerkleDiff(s: SparkSession, d: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the fixture — collapse to
    // one exact-cent payload per rid so the diff has a true key
    // The rid collapse needs an exchange anyway; making it an explicit
    // cluster-derived repartition (AQE-exempt width, guide §2.5) keeps the
    // md5-heavy checksum projection downstream from being byte-coalesced
    // onto a handful of tasks — the hash CPU is synthetic width AQE's
    // byte targeting cannot see.
    val base = Tables.lineitem(s, d).select(
      expr("l_orderkey * 10 + l_linenumber").as("rid"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .repartition(s.sparkContext.defaultParallelism * 2, col("rid"))
      .groupBy(col("rid")).agg(sum(col("cents")).as("cents"))
    val bucketOf = "CAST(conv(substr(md5(CAST(rid AS STRING)), 1, 2), 16, 10) AS BIGINT)"
    // One conditional projection carries both versions of each base row:
    // old_c / new_c are NULL exactly where the declared filters drop the
    // rid from that side. Before r17 each side re-derived `base` (the
    // fact-sized groupBy(rid) collapse) separately in BOTH passes — four
    // full rebuilds per run, zero runtime stage reuse.
    val sides = base.select(
      expr(bucketOf).as("bucket"), col("rid"),
      expr("CASE WHEN rid % 1013 != 0 THEN cents END").as("old_c"),
      expr("CASE WHEN rid % 1009 != 0 THEN cents " +
        "+ CASE WHEN rid % 997 = 0 THEN 100 ELSE 0 END END").as("new_c"))
    def ck(c: String) = s"bit_xor(CASE WHEN $c IS NOT NULL THEN " +
      s"CAST(conv(substr(md5(concat_ws('|', rid, $c)), 1, 15), 16, 10) AS BIGINT) END)"
    // dirty is BOUNDED (≤ 256 bucket rows at any corpus size): ONE
    // map-side-combinable checksum pass summarizes both versions (count +
    // XOR'd 60-bit row hashes per side; bit_xor skips the NULLs of the
    // side a row is absent from, and a side absent from a whole bucket
    // reads n=0 / ck=NULL exactly as the missing row of the old two-frame
    // full-outer join did). Truncated once (guide §2.4) so the row-grain
    // pass below re-plans nothing of it.
    val dirty = Checkpoints.truncate(sides
      .groupBy(col("bucket"))
      .agg(sum(expr("CAST(old_c IS NOT NULL AS BIGINT)")).as("old_n"),
        expr(ck("old_c")).as("old_ck"),
        sum(expr("CAST(new_c IS NOT NULL AS BIGINT)")).as("new_n"),
        expr(ck("new_c")).as("new_ck"))
      .where(expr("old_n != new_n OR old_ck IS DISTINCT FROM new_ck"))
      .select(col("bucket"), col("old_n"), col("new_n")))
    // Row-grain pass: still drift-proportional past the semi-join, but
    // row-LOCAL — both sides of a rid sit in the same row, so the old
    // full-outer self-alignment join is pure overhead and the add/drop/
    // change classification is a projection.
    val diff = sides
      .join(broadcast(dirty.select(col("bucket"))), Seq("bucket"), "left_semi")
      .groupBy(col("bucket"))
      .agg(sum(expr("CAST(old_c IS NULL AND new_c IS NOT NULL AS BIGINT)"))
          .as("n_added"),
        sum(expr("CAST(new_c IS NULL AND old_c IS NOT NULL AS BIGINT)"))
          .as("n_removed"),
        sum(expr("CAST(old_c IS NOT NULL AND new_c IS NOT NULL " +
          "AND old_c != new_c AS BIGINT)")).as("n_changed"))
    dirty.join(diff, Seq("bucket"), "left")
      .select(expr("bucket div 16").as("super"), col("bucket"),
        col("old_n"), col("new_n"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"))
      .orderBy(col("bucket"))
  }

  /** Sequential probability ratio test over the event stream — the
    * always-valid sequential tier beside the fixed-horizon
    * [[qAbtestChi2]]: H₀ purchase-rate 0.18 vs H₁ 0.22, α = β = 0.05.
    * Per-trial log-likelihood increments are HARDCODED e9 integers
    * (ln(22/18), ln(78/82) — no cross-engine `ln` anywhere), trials run
    * in event-id order (the declared ingest sequence), and ONE two-phase
    * [[graft.operators.Ops.runningSums]] pass carries both the trial
    * number (a running count) and the running LLR (in-plan bucket bases +
    * bucket-local windows, never a single-task global window). The
    * verdict is the first boundary crossing (±ln 19 ≈ ±2.944·10⁹ e9) by
    * exact `min(struct(trial, …))`, or `continue` with the final LLR when
    * the walk never exits. Always exactly one row. */
  def qSprt(s: SparkSession, d: String): DataFrame = {
    val trials = Tables.events(s, d).select(col("event_id"),
      expr("CASE WHEN event_type = 'purchase' THEN CAST(200670695 AS BIGINT) " +
        "ELSE CAST(-50010421 AS BIGINT) END").as("llr_e9"))
    val ranked = Ops.runningSums(trials, Nil, Seq("event_id"),
      "trial" -> lit(1L), "cum_e9" -> col("llr_e9"))
    val bound = 2944438979L
    val crossed = ranked
      .where(col("cum_e9") >= bound || col("cum_e9") <= -bound)
      .agg(min(struct(col("trial"), col("cum_e9"))).as("c"))
      .select(col("c.trial").as("c_trial"), col("c.cum_e9").as("c_cum"))
    val tot = trials.agg(count(lit(1)).as("n_trials"),
      sum(col("llr_e9")).as("final_llr_e9"))
    tot.crossJoin(broadcast(crossed))
      .select(
        expr("CASE WHEN c_trial IS NULL THEN 'continue' " +
          s"WHEN c_cum >= $bound THEN 'accept_h1' ELSE 'accept_h0' END")
          .as("decision"),
        coalesce(col("c_trial"), col("n_trials")).as("n_at_decision"),
        coalesce(col("c_cum"), col("final_llr_e9")).as("llr_e9"),
        col("n_trials"))
  }

  private[graft] val registryStats: Map[String, Q] = Map(
    "q_pii_redact" -> (qPiiRedact _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_compaction_plan" -> (qCompactionPlan _),
    "q_triplet_mine" -> (qTripletMine _),
    "q_preference_pairs" -> (qPreferencePairs _),
    "q_kl_divergence" -> (qKlDivergence _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_js_sources" -> (qJsSources _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_hll_distinct" -> (qHllDistinct _),
    "q_lm_perplexity" -> (qLmPerplexity _),
    "q_brier_calibration" -> (qBrierCalibration _),
    "q_pca_power" -> (qPcaPower _),
    "q_watermark_fit" -> (qWatermarkFit _),
    "q_oov_rate" -> (qOovRate _),
    "q_bpe_apply" -> (qBpeApply _),
    "q_link_predict" -> (qLinkPredict _),
    "q_isotonic_calibrate" -> (qIsotonicCalibrate _),
    "q_er_weights" -> (qErWeights _),
    "q_running_topk" -> (qRunningTopk _),
    "q_neyman_alloc" -> (qNeymanAlloc _),
    "q_naive_forecast" -> (qNaiveForecast _),
    "q_freshness_decay" -> (qFreshnessDecay _),
    "q_part_top_shipments" -> (qPartTopShipments _),
    "q_ipf_raking" -> (qIpfRaking _),
    "q_markov_attribution" -> (qMarkovAttribution _),
    "q_temperature_fit" -> (qTemperatureFit _),
    "q_jaro_er" -> (qJaroEr _),
    "q_shapley_attribution" -> (qShapleyAttribution _),
    "q_frequent_triples" -> (qFrequentTriples _),
    "q_cuped" -> (qCuped _),
    "q_ols_closed" -> (qOlsClosed _),
    "q_logistic_step" -> (qLogisticStep _),
    "q_merkle_diff" -> (qMerkleDiff _),
    "q_sprt" -> (qSprt _),
  )

  private[graft] val oraclesStats: Map[String, String] = Map(
    "q_pii_redact" ->
      ("WITH cust AS (SELECT c_custkey, 'Customer#' || repeat('*', length(c_name) - 13) " +
        "|| substr(c_name, length(c_name) - 3, 4) AS masked_name, " +
        "substr(md5('graft-pii-v1|' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudo FROM customer), " +
        "ev AS (SELECT substr(md5('graft-pii-v1|' || CAST(user_id AS VARCHAR)), 1, 16) AS pseudo, " +
        "count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT c_custkey, masked_name, pseudo, CAST(coalesce(ev.n_events, 0) AS BIGINT) AS n_events " +
        "FROM cust LEFT JOIN ev USING (pseudo) ORDER BY c_custkey"),
    "q_k_anonymity" ->
      ("WITH cls AS (SELECT c_nationkey, c_mktsegment, CAST(c_acctbal < 0 AS INTEGER) AS overdrawn, " +
        "CAST(count(*) AS BIGINT) AS k FROM customer GROUP BY 1, 2, 3) " +
        "SELECT k, CAST(count(*) AS BIGINT) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows, " +
        "CAST(k < 5 AS BIGINT) AS violates_k5 FROM cls GROUP BY k ORDER BY k"),
    "q_zorder_layout" ->
      ("WITH st AS (SELECT min(CAST(l_partkey AS BIGINT)) AS pmin, max(CAST(l_partkey AS BIGINT)) AS pmax, " +
        "min(CAST(l_suppkey AS BIGINT)) AS smin, max(CAST(l_suppkey AS BIGINT)) AS smax FROM lineitem), " +
        "nz AS (SELECT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS sk, " +
        "CASE WHEN pmax = pmin THEN 0 ELSE ((CAST(l_partkey AS BIGINT) - pmin) * 255) // (pmax - pmin) END AS pz, " +
        "CASE WHEN smax = smin THEN 0 ELSE ((CAST(l_suppkey AS BIGINT) - smin) * 255) // (smax - smin) END AS sz " +
        "FROM lineitem CROSS JOIN st), " +
        s"zb AS (SELECT p, sk, pz, sz, (${zInterleave("//")}) // 256 AS bucket FROM nz), " +
        "ag AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, " +
        "min(p) AS min_p, max(p) AS max_p, min(sk) AS min_s, max(sk) AS max_s, " +
        "min(pz) AS min_pz, max(pz) AS max_pz, min(sz) AS min_sz, max(sz) AS max_sz " +
        "FROM zb GROUP BY bucket) " +
        "SELECT bucket, n_rows, min_p, max_p, min_s, max_s, " +
        "CAST(NOT (max_pz < 96 OR min_pz > 127) AS BIGINT) AS scan_p, " +
        "CAST(NOT (max_sz < 64 OR min_sz > 95) AS BIGINT) AS scan_s " +
        "FROM ag ORDER BY bucket"),
    "q_compaction_plan" ->
      ("WITH f AS (SELECT CAST(l_shipdate AS DATE) AS fdate, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(*) * 128 AS BIGINT) AS bytes FROM lineitem GROUP BY 1), " +
        "p AS (SELECT fdate, n_rows, bytes, CAST(COALESCE(SUM(bytes) OVER (ORDER BY fdate " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pe FROM f), " +
        "b AS (SELECT pe // 65536 + 1 AS bin_id, fdate, n_rows, bytes FROM p) " +
        "SELECT bin_id, CAST(count(*) AS BIGINT) AS n_files, CAST(sum(n_rows) AS BIGINT) AS n_rows, " +
        "CAST(sum(bytes) AS BIGINT) AS bytes, min(fdate) AS from_date, max(fdate) AS to_date " +
        "FROM b GROUP BY bin_id ORDER BY bin_id"),
    "q_triplet_mine" ->
      ("WITH a AS (SELECT vec_id AS anchor, CAST(label AS BIGINT) AS a_label, " +
        "CAST(embedding AS DOUBLE[]) AS a_emb FROM embeddings WHERE vec_id < 8), " +
        "c AS (SELECT vec_id AS cand, CAST(label AS BIGINT) AS c_label, " +
        "CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings WHERE vec_id >= 8), " +
        "s AS (SELECT anchor, a_label, cand, c_label, " +
        "CAST(round(list_cosine_similarity(c_emb, a_emb) * 10000, 0) AS BIGINT) AS sim_e4 " +
        "FROM c CROSS JOIN a), " +
        "g AS (SELECT anchor, a_label, " +
        "max(CASE WHEN c_label = a_label THEN struct_pack(sim_e4 := sim_e4, nid := -cand) END) AS p, " +
        "max(CASE WHEN c_label <> a_label THEN struct_pack(sim_e4 := sim_e4, nid := -cand) END) AS n " +
        "FROM s GROUP BY 1, 2) " +
        "SELECT anchor, a_label AS label, " +
        "-struct_extract(p, 'nid') AS pos_id, struct_extract(p, 'sim_e4') AS pos_sim_e4, " +
        "-struct_extract(n, 'nid') AS neg_id, struct_extract(n, 'sim_e4') AS neg_sim_e4, " +
        "struct_extract(p, 'sim_e4') - struct_extract(n, 'sim_e4') AS margin_e4 " +
        "FROM g ORDER BY anchor"),
    "q_preference_pairs" ->
      ("WITH nrm AS (SELECT doc_id, lang, source, " +
        "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents), " +
        "f AS (SELECT source, lang, doc_id, " +
        "CAST(len(string_split(t, ' ')) AS BIGINT) AS nt, CAST(length(t) AS BIGINT) AS nc, " +
        s"CAST(len(list_filter(string_split(t, ' '), x -> x IN $STOP_SQL)) AS BIGINT) AS sh, " +
        "CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS pc " +
        "FROM nrm), " +
        "sc AS (SELECT source, lang, doc_id, CASE WHEN nt = 0 OR nc = 0 THEN -1000000 " +
        s"ELSE (${ppmDivSql("sh", "nt")}) - (${ppmDivSql("pc", "nc")}) END AS score FROM f), " +
        "g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "max(struct_pack(score := score, nid := -doc_id)) AS best, " +
        "min(struct_pack(score := score, id := doc_id)) AS worst FROM sc GROUP BY 1, 2) " +
        "SELECT source, lang, n_docs, " +
        "-struct_extract(best, 'nid') AS chosen_id, " +
        "CAST(struct_extract(best, 'score') AS BIGINT) AS chosen_score, " +
        "struct_extract(worst, 'id') AS rejected_id, " +
        "CAST(struct_extract(worst, 'score') AS BIGINT) AS rejected_score, " +
        "CAST(struct_extract(best, 'score') - struct_extract(worst, 'score') AS BIGINT) AS margin " +
        "FROM g WHERE struct_extract(best, 'score') - struct_extract(worst, 'score') >= 1 " +
        "ORDER BY 1, 2"),
    "q_kl_divergence" ->
      (TP_TOK_CTE +
        ", tfs AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2)" +
        ", st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s FROM tfs GROUP BY 1)" +
        ", uni AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ct FROM tfs GROUP BY 1)" +
        ", tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t_tot FROM uni)" +
        ", terms AS (SELECT tfs.source, " +
        "CAST(round((CAST(tf AS DOUBLE) / n_s) * " +
        "ln((CAST(tf AS DOUBLE) / n_s) / (CAST(ct AS DOUBLE) / t_tot)) " +
        "* 1000000000, 0) AS BIGINT) AS term_e9 " +
        "FROM tfs JOIN uni USING (token) JOIN st USING (source) CROSS JOIN tt) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(term_e9) AS BIGINT) AS kl_e9 FROM terms GROUP BY 1 ORDER BY 1"),
    "q_mutual_info" ->
      ("WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS nls " +
        "FROM documents GROUP BY 1, 2), " +
        "nl AS (SELECT lang, CAST(sum(nls) AS BIGINT) AS n_l FROM cells GROUP BY 1), " +
        "nsrc AS (SELECT source, CAST(sum(nls) AS BIGINT) AS n_s FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nls) AS BIGINT) AS n FROM cells), " +
        "hl AS (SELECT CAST(sum(CAST(round(-(CAST(n_l AS DOUBLE) / n) * " +
        "ln(CAST(n_l AS DOUBLE) / n) * 1000000000, 0) AS BIGINT)) AS BIGINT) AS h_lang_e9 " +
        "FROM nl CROSS JOIN tot), " +
        "hs AS (SELECT CAST(sum(CAST(round(-(CAST(n_s AS DOUBLE) / n) * " +
        "ln(CAST(n_s AS DOUBLE) / n) * 1000000000, 0) AS BIGINT)) AS BIGINT) AS h_source_e9 " +
        "FROM nsrc CROSS JOIN tot), " +
        "mi AS (SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_cells, " +
        "CAST(sum(CAST(round((CAST(nls AS DOUBLE) / n) * " +
        "ln((CAST(n AS DOUBLE) * nls) / (CAST(n_l AS DOUBLE) * n_s)) " +
        "* 1000000000, 0) AS BIGINT)) AS BIGINT) AS mi_e9 " +
        "FROM cells JOIN nl USING (lang) JOIN nsrc USING (source) CROSS JOIN tot) " +
        "SELECT n, n_cells, mi_e9, h_lang_e9, h_source_e9, " +
        "CAST(CASE WHEN least(h_lang_e9, h_source_e9) <= 0 THEN 0 ELSE " +
        s"${ppmDivSql("mi_e9", "least(h_lang_e9, h_source_e9)")} END AS BIGINT) AS nmi_ppm " +
        "FROM mi CROSS JOIN hl CROSS JOIN hs"),
    "q_js_sources" ->
      (TP_TOK_CTE +
        ", tfs AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2)" +
        ", st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s FROM tfs GROUP BY 1)" +
        ", p AS (SELECT source, token, CAST(tf AS DOUBLE) / n_s AS p, " +
        "CAST(round((CAST(tf AS DOUBLE) / n_s) * 1000000000, 0) AS BIGINT) AS p_e9 " +
        "FROM tfs JOIN st USING (source))" +
        ", pr AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "a.p AS pa, b.p AS pb, a.p_e9 AS pae9, b.p_e9 AS pbe9 " +
        "FROM p a JOIN p b ON a.token = b.token AND a.source < b.source)" +
        ", g AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS shared_tokens, " +
        "CAST(sum(CAST(round(0.5 * (pa * ln(2.0 * pa / (pa + pb)) + " +
        "pb * ln(2.0 * pb / (pa + pb))) * 1000000000, 0) AS BIGINT)) AS BIGINT) AS inner_e9, " +
        "CAST(sum(pae9) AS BIGINT) AS sp_a, CAST(sum(pbe9) AS BIGINT) AS sp_b " +
        "FROM pr GROUP BY 1, 2) " +
        "SELECT src_a, src_b, shared_tokens, " +
        "CAST(inner_e9 + CAST(round((2000000000.0 - sp_a - sp_b) * 0.5 * ln(2.0), 0) " +
        "AS BIGINT) AS BIGINT) AS js_e9 FROM g ORDER BY 1, 2"),
    "q_bootstrap_ci" ->
      ("WITH ev AS (SELECT event_id, CAST(round(value * 10000, 0) AS BIGINT) AS ve4 " +
        "FROM events WHERE value IS NOT NULL), " +
        "dg AS (SELECT event_id, ve4, CAST(g AS BIGINT) AS g, " +
        "md5(CAST(event_id AS VARCHAR) || '#' || CAST(g AS VARCHAR)) AS dig " +
        "FROM ev CROSS JOIN range(8) t(g)), " +
        "ku AS (SELECT g * 8 + CAST(sl AS BIGINT) AS b, ve4, " +
        "(CAST('0x' || substr(dig, CAST(sl AS BIGINT) * 4 + 1, 4) AS BIGINT) + 0.5) / 65536.0 AS u " +
        "FROM dg CROSS JOIN range(8) t2(sl)), " +
        "kk AS (SELECT b, ve4, CASE WHEN u < 0.36787944117144233 THEN 0 " +
        "WHEN u < 0.7357588823428847 THEN 1 WHEN u < 0.9196986029286058 THEN 2 " +
        "WHEN u < 0.9810118431238462 THEN 3 WHEN u < 0.9963401531726563 THEN 4 " +
        "WHEN u < 0.9994058151824183 THEN 5 ELSE 6 END AS k FROM ku), " +
        "g AS (SELECT b, CAST(sum(k) AS BIGINT) AS n_b, CAST(sum(ve4 * k) AS BIGINT) AS s_b " +
        "FROM kk GROUP BY 1), " +
        s"m AS (SELECT b, CAST(CASE WHEN n_b = 0 THEN 0 ELSE ${roundDivSql("s_b", "n_b", 1L)} END " +
        "AS BIGINT) AS mean_b FROM g), " +
        "rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM m), " +
        "ci AS (SELECT max(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo_e4, " +
        "max(CASE WHEN rn = 63 THEN mean_b END) AS ci_hi_e4 FROM rk), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(${roundDivSql("sum(ve4)", "count(*)", 1L)} AS BIGINT) AS mean_e4 FROM ev) " +
        "SELECT n, mean_e4, ci_lo_e4, ci_hi_e4 FROM tot CROSS JOIN ci"),
    "q_seasonal_decompose" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dte, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y_c " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT dte, y_c, count(*) OVER w AS ma_n, " +
        "CAST(sum(y_c) OVER w AS BIGINT) AS ma_s, CAST(isodow(dte) AS BIGINT) AS dow " +
        "FROM daily WINDOW w AS (ORDER BY dte ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        s"tr AS (SELECT dte, y_c, dow, CASE WHEN ma_n = 7 THEN CAST(${roundDivSql("ma_s", "7", 1L)} " +
        "AS BIGINT) END AS trend_c FROM t), " +
        "se AS (SELECT dow, CAST((2 * sum(y_c - trend_c) + " +
        "(CASE WHEN sum(y_c - trend_c) < 0 THEN -1 ELSE 1 END) * count(*)) // (2 * count(*)) " +
        "AS BIGINT) AS seasonal_c FROM tr WHERE trend_c IS NOT NULL GROUP BY 1) " +
        "SELECT tr.dte, tr.y_c, tr.trend_c, tr.dow, se.seasonal_c, " +
        "tr.y_c - tr.trend_c - se.seasonal_c AS resid_c " +
        "FROM tr LEFT JOIN se ON se.dow = tr.dow ORDER BY tr.dte"),
    "q_hll_distinct" ->
      ("WITH hv AS (SELECT DISTINCT event_type, " +
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM events), " +
        "r AS (SELECT event_type, h // 18014398509481984 AS bucket, " +
        "h % 18014398509481984 AS rem FROM hv), " +
        "regs AS (SELECT event_type, bucket, CAST(max(CASE WHEN rem = 0 THEN 55 " +
        "ELSE 55 - length(bin(rem)) END) AS BIGINT) AS reg FROM r GROUP BY 1, 2), " +
        "sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_full, " +
        "CAST(sum(CAST(1 AS BIGINT) << CAST(55 - reg AS INT)) AS BIGINT) AS s_full " +
        "FROM regs GROUP BY 1), " +
        "sv AS (SELECT event_type, s_full + (64 - n_full) * 36028797018963968 AS s_inv, " +
        "64 - n_full AS zeros FROM sk), " +
        "est AS (SELECT event_type, zeros, " +
        // keep every factor DOUBLE: DuckDB parses bare decimal literals as
        // DECIMAL and overflows the 2^55 product in decimal arithmetic
        "CAST(0.709 AS DOUBLE) * 4096.0 * CAST(36028797018963968 AS DOUBLE) " +
        "/ CAST(s_inv AS DOUBLE) AS est_raw FROM sv), " +
        "hll AS (SELECT event_type, CAST(round(CASE WHEN est_raw <= 2.5 * 64 AND zeros > 0 " +
        "THEN 64 * ln(64.0 / CAST(zeros AS DOUBLE)) ELSE est_raw END, 0) AS BIGINT) AS n_hll " +
        "FROM est), " +
        "ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM " +
        "(SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1) " +
        "SELECT hll.event_type, n_exact, n_hll, " +
        "(abs(n_hll - n_exact) * 1000000) // n_exact AS err_ppm " +
        "FROM hll JOIN ex ON ex.event_type = hll.event_type ORDER BY hll.event_type"),
    "q_lm_perplexity" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm WHERE t <> '')" +
        ", bg AS (SELECT doc_id, token AS w1, token || ' ' || lead(token, 1) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS shingle FROM tok)" +
        ", bgv AS (SELECT doc_id, w1, shingle FROM bg WHERE shingle IS NOT NULL)" +
        ", bgc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS c_bg FROM bgv GROUP BY 1)" +
        ", ctx AS (SELECT split_part(shingle, ' ', 1) AS w1, CAST(sum(c_bg) AS BIGINT) " +
        "AS c_ctx FROM bgc GROUP BY 1)" +
        ", voc AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM tok)" +
        ", terms AS (SELECT doc_id, CAST(round((ln(CAST(c_ctx + v AS DOUBLE)) - " +
        "ln(CAST(c_bg + 1 AS DOUBLE))) * 1000000000, 0) AS BIGINT) AS nll_e9 " +
        "FROM bgv JOIN bgc USING (shingle) JOIN ctx ON ctx.w1 = bgv.w1 CROSS JOIN voc)" +
        ", agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(nll_e9) AS BIGINT) AS se9 FROM terms GROUP BY 1) " +
        s"SELECT doc_id, n_bigrams, CAST(${roundDivSql("se9", "n_bigrams", 1L)} AS BIGINT) " +
        "AS avg_nll_e9, " +
        s"round(exp(CAST(${roundDivSql("se9", "n_bigrams", 1L)} AS DOUBLE) / 1000000000.0), 4) " +
        "AS ppl_r4 FROM agg ORDER BY doc_id"),
    "q_brier_calibration" ->
      ("WITH e AS (SELECT CAST(round(1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE))) " +
        "* 10000, 0) AS BIGINT) AS p_e4, CAST(label < 5 AS BIGINT) AS y FROM embeddings), " +
        "census AS (SELECT least(9, p_e4 // 1000) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(p_e4) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS pos, " +
        "CAST(sum((p_e4 - y * 10000) * (p_e4 - y * 10000)) AS BIGINT) AS brier_e8 " +
        "FROM e GROUP BY 1), " +
        "g AS (SELECT CAST(t.bin AS BIGINT) AS bin, coalesce(n, 0) AS n, " +
        s"CASE WHEN n IS NULL THEN 0 ELSE CAST(${roundDivSql("sp", "n", 1L)} AS BIGINT) END " +
        "AS mean_p_e4, " +
        s"CASE WHEN n IS NULL THEN 0 ELSE CAST(${ppmDivSql("pos", "n")} AS BIGINT) END " +
        "AS rate_ppm, coalesce(brier_e8, 0) AS brier_e8 " +
        "FROM range(10) t(bin) LEFT JOIN census ON census.bin = t.bin) " +
        "SELECT bin, n, mean_p_e4, rate_ppm, brier_e8, " +
        "abs(mean_p_e4 - (rate_ppm // 100)) AS gap_e4 FROM g ORDER BY bin"),
    "q_pca_power" ->
      ("WITH m AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x, " +
        "generate_subscripts(embedding, 1) AS dd FROM embeddings), " +
        "e AS (SELECT vec_id, CAST(dd AS BIGINT) - 1 AS d, " +
        "CAST(round(x * 10000, 0) AS BIGINT) AS xe4 FROM m), " +
        "mu AS (SELECT d, CAST(sum(xe4) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n " +
        "FROM e GROUP BY 1), " +
        "mue AS (SELECT d, (2 * sx + (CASE WHEN sx < 0 THEN -1 ELSE 1 END) * n) // (2 * n) " +
        "AS mu_e4 FROM mu), " +
        "sg AS (SELECT d, CASE WHEN CAST('0x' || substr(md5('pca|' || CAST(d AS VARCHAR)), " +
        "1, 13) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM mue), " +
        "c AS (SELECT vec_id, e.d, xe4 - mu_e4 AS c FROM e JOIN mue ON mue.d = e.d), " +
        "s AS (SELECT vec_id, CAST(sum(c * sgn) AS BIGINT) AS s_r FROM c " +
        "JOIN sg ON sg.d = c.d GROUP BY 1), " +
        "w AS (SELECT d, CAST(sum(c * s_r) AS BIGINT) AS w_num, " +
        "CAST(count(*) AS BIGINT) AS n FROM c JOIN s USING (vec_id) GROUP BY 1) " +
        "SELECT d, w_num, (2 * w_num + (CASE WHEN w_num < 0 THEN -1 ELSE 1 END) * n) " +
        "// (2 * n) AS w_e8, " +
        "round(CAST((2 * w_num + (CASE WHEN w_num < 0 THEN -1 ELSE 1 END) * n) // (2 * n) " +
        "AS DOUBLE) / 100000000.0, 4) AS w_r4 FROM w ORDER BY d"),
    "q_watermark_fit" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events), " +
        "lt AS (SELECT greatest(0, coalesce(max(ts_us) OVER (PARTITION BY user_id " +
        "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts_us, 0)) " +
        "AS late_us FROM ev), " +
        "b AS (SELECT CASE WHEN late_us = 0 THEN 0 WHEN late_us <= 60000000 THEN 1 " +
        "WHEN late_us <= 300000000 THEN 2 WHEN late_us <= 900000000 THEN 3 " +
        "WHEN late_us <= 3600000000 THEN 4 ELSE 5 END AS bucket FROM lt), " +
        "census AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1), " +
        "grid AS (SELECT CAST(g.bucket AS BIGINT) AS bucket, coalesce(n, 0) AS n " +
        "FROM range(6) g(bucket) LEFT JOIN census ON census.bucket = g.bucket), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM grid), " +
        "cum AS (SELECT bucket, n, CAST(sum(n) OVER (ORDER BY bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n " +
        "FROM grid) " +
        "SELECT bucket, n, cum_n, " +
        s"CAST(${ppmDivSql("cum_n", "t")} AS BIGINT) AS cum_ppm " +
        "FROM cum CROSS JOIN tot ORDER BY bucket"),
    "q_oov_rate" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM norm WHERE t <> '')" +
        ", voc AS (SELECT token FROM (SELECT token, count(*) AS c FROM tok GROUP BY 1 " +
        "ORDER BY c DESC, token LIMIT 1000))" +
        ", pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
        "FROM tok LEFT JOIN voc ON voc.token = tok.token GROUP BY 1) " +
        "SELECT doc_id, n_tokens, n_oov, " +
        s"CAST(${ppmDivSql("n_oov", "n_tokens")} AS BIGINT) AS oov_ppm " +
        "FROM pd ORDER BY doc_id"),
    "q_bpe_apply" ->
      (NORM_CTE +
        ", tok AS (SELECT unnest(string_split(t, ' ')) AS token FROM norm WHERE t <> '')" +
        ", wc AS (SELECT token AS word, CAST(count(*) AS BIGINT) AS wf FROM tok " +
        "WHERE length(token) >= 2 GROUP BY 1)" +
        ", pr AS (SELECT wf, unnest(list_transform(range(length(word) - 1), " +
        "i -> substr(word, CAST(i + 1 AS INT), 2))) AS pair FROM wc)" +
        ", best AS (SELECT substr(pair, 1, 1) AS c1, substr(pair, 2, 1) AS c2 FROM " +
        "(SELECT pair, CAST(sum(wf) AS BIGINT) AS weight FROM pr GROUP BY 1 " +
        "ORDER BY weight DESC, pair LIMIT 1))" +
        ", mg AS (SELECT wf, string_split(replace(array_to_string(string_split(word, ''), ' '), " +
        "c1 || ' ' || c2, c1 || c2), ' ') AS syms FROM wc CROSS JOIN best)" +
        ", p2 AS (SELECT wf, unnest(list_transform(range(len(syms) - 1), " +
        "i -> syms[CAST(i + 1 AS INT)] || '|' || syms[CAST(i + 2 AS INT)])) AS pair " +
        "FROM mg WHERE len(syms) >= 2) " +
        "SELECT pair, CAST(sum(wf) AS BIGINT) AS weight FROM p2 GROUP BY 1 " +
        "ORDER BY weight DESC, pair LIMIT 20"),
    "q_link_predict" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "adj AS (SELECT pa AS w, pb AS x FROM e UNION ALL SELECT pb, pa FROM e), " +
        "cd AS (SELECT w FROM (SELECT w, count(*) AS dw FROM adj GROUP BY 1) WHERE dw <= 50), " +
        "el AS (SELECT adj.w, adj.x FROM adj JOIN cd USING (w)), " +
        "degc AS (SELECT x, CAST(count(*) AS BIGINT) AS degc FROM el GROUP BY 1), " +
        "cand AS (SELECT a.x AS xa, b.x AS xb, CAST(count(*) AS BIGINT) AS common " +
        "FROM el a JOIN el b ON a.w = b.w AND a.x < b.x GROUP BY 1, 2), " +
        "ne AS (SELECT cand.* FROM cand LEFT JOIN e ON e.pa = cand.xa AND e.pb = cand.xb " +
        "WHERE e.pa IS NULL), " +
        "sc AS (SELECT xa, xb, common, da.degc AS da, db.degc AS db FROM ne " +
        "JOIN degc da ON da.x = ne.xa JOIN degc db ON db.x = ne.xb) " +
        "SELECT xa, xb, common, " +
        s"CAST(${ppmDivSql("common", "(da + db - common)")} AS BIGINT) AS jaccard_ppm " +
        "FROM sc ORDER BY jaccard_ppm DESC, xa, xb LIMIT 50"),
    "q_isotonic_calibrate" ->
      ("WITH e AS (SELECT CAST(round(1.0 / (1.0 + exp(-4.0 * CAST(embedding[1] AS DOUBLE))) " +
        "* 10000, 0) AS BIGINT) AS p_e4, CAST(label < 5 AS BIGINT) AS y FROM embeddings), " +
        "bins AS (SELECT least(9, p_e4 // 1000) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS pos FROM e GROUP BY 1), " +
        "cum AS (SELECT bin, n, pos, CAST(sum(n) OVER (ORDER BY bin " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn, " +
        "CAST(sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp " +
        "FROM bins), " +
        "pairs AS (SELECT j.bin AS j, k.bin AS k, k.cp - j.cp + j.pos AS pp, " +
        "k.cn - j.cn + j.n AS nn FROM cum j JOIN cum k ON j.bin <= k.bin), " +
        s"pr AS (SELECT j, k, CAST(${ppmDivSql("pp", "nn")} AS BIGINT) AS ratio_ppm " +
        "FROM pairs), " +
        "f1 AS (SELECT i.bin AS i, pr.j, min(ratio_ppm) AS mn FROM bins i " +
        "JOIN pr ON pr.j <= i.bin AND pr.k >= i.bin GROUP BY 1, 2), " +
        "fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS iso_ppm FROM f1 GROUP BY 1) " +
        "SELECT bins.bin, n, " +
        s"CAST(${ppmDivSql("pos", "n")} AS BIGINT) AS rate_ppm, iso_ppm " +
        "FROM bins JOIN fit ON fit.i = bins.bin ORDER BY bin"),
    "q_er_weights" ->
      ("WITH c AS (SELECT c_custkey AS id, c_custkey // 50 AS blk, " +
        "c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat, " +
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band FROM customer), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c), " +
        "useg AS (SELECT CAST(" + ppmDivSql("s2", "(nt * nt)") + " AS BIGINT) AS u FROM " +
        "(SELECT CAST(sum(f * f) AS BIGINT) AS s2 FROM " +
        "(SELECT CAST(count(*) AS BIGINT) AS f FROM c GROUP BY seg)) CROSS JOIN nt), " +
        "unat AS (SELECT CAST(" + ppmDivSql("s2", "(nt * nt)") + " AS BIGINT) AS u FROM " +
        "(SELECT CAST(sum(f * f) AS BIGINT) AS s2 FROM " +
        "(SELECT CAST(count(*) AS BIGINT) AS f FROM c GROUP BY nat)) CROSS JOIN nt), " +
        "uband AS (SELECT CAST(" + ppmDivSql("s2", "(nt * nt)") + " AS BIGINT) AS u FROM " +
        "(SELECT CAST(sum(f * f) AS BIGINT) AS s2 FROM " +
        "(SELECT CAST(count(*) AS BIGINT) AS f FROM c GROUP BY band)) CROSS JOIN nt), " +
        "w AS (SELECT " +
        "CAST(round(ln(0.9 / (CAST(greatest(least(useg.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wa_seg, " +
        "CAST(round(ln(0.1 / (1.0 - CAST(greatest(least(useg.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wd_seg, " +
        "CAST(round(ln(0.9 / (CAST(greatest(least(unat.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wa_nat, " +
        "CAST(round(ln(0.1 / (1.0 - CAST(greatest(least(unat.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wd_nat, " +
        "CAST(round(ln(0.9 / (CAST(greatest(least(uband.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wa_band, " +
        "CAST(round(ln(0.1 / (1.0 - CAST(greatest(least(uband.u, 999999), 1) AS DOUBLE) / 1000000.0)) * 1000000000, 0) AS BIGINT) AS wd_band " +
        "FROM useg CROSS JOIN unat CROSS JOIN uband), " +
        "sizes AS (SELECT blk FROM (SELECT blk, count(*) AS bn FROM c GROUP BY 1) " +
        "WHERE bn BETWEEN 2 AND 100), " +
        "bl AS (SELECT c.* FROM c JOIN sizes USING (blk)), " +
        "p AS (SELECT a.id AS id_a, b.id AS id_b, a.seg = b.seg AS ag_seg, " +
        "a.nat = b.nat AS ag_nat, a.band = b.band AS ag_band " +
        "FROM bl a JOIN bl b ON a.blk = b.blk AND a.id < b.id) " +
        "SELECT id_a, id_b, " +
        "(CASE WHEN ag_seg THEN wa_seg ELSE wd_seg END) + " +
        "(CASE WHEN ag_nat THEN wa_nat ELSE wd_nat END) + " +
        "(CASE WHEN ag_band THEN wa_band ELSE wd_band END) AS score_e9 " +
        "FROM p CROSS JOIN w ORDER BY score_e9 DESC, id_a, id_b LIMIT 50"),
    "q_running_topk" ->
      ("WITH ev AS (SELECT user_id, event_id, CAST(round(value * 100, 0) AS BIGINT) " +
        "AS cents FROM events WHERE value IS NOT NULL), " +
        "r AS (SELECT user_id, cents, CAST(row_number() OVER (PARTITION BY user_id " +
        "ORDER BY cents DESC, event_id) AS BIGINT) AS rank FROM ev) " +
        "SELECT user_id, rank, cents FROM r WHERE rank <= 3 ORDER BY user_id, rank"),
    "q_neyman_alloc" ->
      ("WITH st AS (SELECT c_mktsegment AS stratum, CAST(count(*) AS BIGINT) AS n_h, " +
        "CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sx, " +
        "CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT) * " +
        "CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sx2 " +
        "FROM customer GROUP BY 1), " +
        "wgt AS (SELECT stratum, n_h, " +
        "CAST(round(sqrt(CAST(sx2 AS DOUBLE) / CAST(n_h AS DOUBLE) - " +
        "(CAST(sx AS DOUBLE) / CAST(n_h AS DOUBLE)) * " +
        "(CAST(sx AS DOUBLE) / CAST(n_h AS DOUBLE))) * " +
        "CAST(n_h AS DOUBLE) * 10000.0, 0) AS BIGINT) AS w_e4 FROM st), " +
        "tot AS (SELECT CAST(sum(w_e4) AS BIGINT) AS wt FROM wgt), " +
        "q AS (SELECT stratum, n_h, w_e4, (w_e4 * 1000) // wt AS base, " +
        "(w_e4 * 1000) % wt AS rem FROM wgt CROSS JOIN tot), " +
        "sh AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS left1 FROM q), " +
        "rk AS (SELECT q.*, CAST(row_number() OVER (ORDER BY rem DESC, stratum) AS BIGINT) " +
        "AS rk FROM q) " +
        "SELECT stratum, n_h, w_e4, base, " +
        "base + (CASE WHEN rk <= left1 THEN 1 ELSE 0 END) AS alloc " +
        "FROM rk CROSS JOIN sh ORDER BY stratum"),
    "q_naive_forecast" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dte, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS a_c " +
        "FROM orders GROUP BY 1), " +
        "lg AS (SELECT dte, a_c, lag(a_c, 7) OVER (ORDER BY dte) AS f_c, " +
        "lag(dte, 7) OVER (ORDER BY dte) AS dlag FROM daily), " +
        "bt AS (SELECT CAST(isodow(dte) AS BIGINT) AS isodow, a_c, f_c, " +
        "abs(a_c - f_c) AS ae_c, " +
        s"CAST(${ppmDivSql("abs(a_c - f_c)", "a_c")} AS BIGINT) AS ape_ppm " +
        "FROM lg WHERE f_c IS NOT NULL AND dlag + INTERVAL 7 DAY = dte), " +
        "g AS (SELECT isodow, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(ae_c) AS BIGINT) AS sum_ae_c, CAST(sum(a_c - f_c) AS BIGINT) AS bias_c, " +
        "CAST(sum(ape_ppm) AS BIGINT) AS sum_ape FROM bt GROUP BY 1) " +
        "SELECT isodow, n_days, sum_ae_c, bias_c, " +
        s"CAST(${roundDivSql("sum_ape", "n_days", 1L)} AS BIGINT) AS mape_ppm " +
        "FROM g ORDER BY isodow"),
    "q_freshness_decay" ->
      ("WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events), " +
        "mx AS (SELECT CAST(max(ts_us) AS BIGINT) AS tmax FROM ev), " +
        "t AS (SELECT event_type, CAST(round(exp(-CAST(tmax - ts_us AS DOUBLE) " +
        "/ 604800000000.0) * 1000000000, 0) AS BIGINT) AS w_e9 FROM ev CROSS JOIN mx), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(w_e9) AS BIGINT) AS decayed_e9 FROM t GROUP BY 1) " +
        "SELECT event_type, n, decayed_e9, " +
        s"CAST(${ppmDivSql("decayed_e9", "(n * 1000000000)")} AS BIGINT) AS fresh_ppm " +
        "FROM g ORDER BY event_type"),
    "q_ipf_raking" -> ipfOracleSql,
    "q_markov_attribution" -> markovOracleSql,
    "q_temperature_fit" ->
      ("WITH cells AS (SELECT CAST(embedding[1] AS DOUBLE) AS x, " +
        "CAST(label < 5 AS BIGINT) AS y FROM embeddings), " +
        "grid AS (SELECT CAST(g.i + 5 AS BIGINT) AS tau_e1 FROM range(16) g(i)), " +
        "terms AS (SELECT tau_e1, CAST(round(-(CAST(y AS DOUBLE) * " +
        "ln(1.0 / (1.0 + exp(-4.0 * x / (CAST(tau_e1 AS DOUBLE) / 10.0)))) + " +
        "(1.0 - CAST(y AS DOUBLE)) * ln(1.0 - 1.0 / (1.0 + exp(-4.0 * x " +
        "/ (CAST(tau_e1 AS DOUBLE) / 10.0))))) * 1000000000, 0) AS BIGINT) AS nll_e9 " +
        "FROM cells CROSS JOIN grid), " +
        "bt AS (SELECT tau_e1, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(nll_e9) AS BIGINT) AS nll_sum_e9 FROM terms GROUP BY 1), " +
        "best AS (SELECT struct_extract(min(struct_pack(nll_sum_e9 := nll_sum_e9, " +
        "tau_e1 := tau_e1)), 'tau_e1') AS best_tau FROM bt) " +
        "SELECT tau_e1, n, nll_sum_e9, CAST(tau_e1 = best_tau AS BIGINT) AS is_best " +
        "FROM bt CROSS JOIN best ORDER BY tau_e1"),
    "q_part_top_shipments" ->
      ("WITH li AS (SELECT l_partkey AS part, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "l_orderkey * 10 + l_linenumber AS rid FROM lineitem), " +
        "r AS (SELECT part, cents, rid, CAST(row_number() OVER (PARTITION BY part " +
        "ORDER BY cents DESC, rid) AS BIGINT) AS rank FROM li) " +
        "SELECT part, rank, cents, rid FROM r WHERE rank <= 3 ORDER BY part, rank"),
    "q_jaro_er" ->
      ("WITH n AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts, " +
        "string_split(p_name, ' ')[-1] AS noun FROM part GROUP BY 1), " +
        "p AS (SELECT a.p_name AS name_a, b.p_name AS name_b, " +
        "a.n_parts AS n_a, b.n_parts AS n_b, " +
        "CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000000, 0) " +
        "AS BIGINT) AS jw_e9 FROM n a JOIN n b ON a.noun = b.noun " +
        "AND a.p_name < b.p_name) " +
        "SELECT name_a, name_b, n_a, n_b, jw_e9 FROM p WHERE jw_e9 >= 800000000 " +
        "ORDER BY jw_e9 DESC, name_a, name_b"),
    "q_shapley_attribution" ->
      ("WITH u AS (SELECT user_id, CAST(bit_or(CASE event_type " +
        "WHEN 'click' THEN 1 WHEN 'error' THEN 2 WHEN 'signup' THEN 4 " +
        "WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT) AS mask, " +
        "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS conv FROM events GROUP BY 1), " +
        "mc AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS conv_n FROM u GROUP BY 1), " +
        "v AS (SELECT g.s, CAST(coalesce(sum(mc.conv_n), 0) AS BIGINT) AS v " +
        "FROM (SELECT CAST(i AS BIGINT) AS s FROM range(16) t(i)) g " +
        "LEFT JOIN mc ON (mc.mask & g.s) = mc.mask GROUP BY 1), " +
        "ch AS (SELECT CAST(i AS BIGINT) AS i, CASE i WHEN 0 THEN 'click' " +
        "WHEN 1 THEN 'error' WHEN 2 THEN 'signup' ELSE 'view' END AS channel " +
        "FROM range(4) t(i)), " +
        "phi AS (SELECT ch.channel, CAST(sum((CASE WHEN bit_count(lo.s) IN (0, 3) " +
        "THEN 6 ELSE 2 END) * (hi.v - lo.v)) AS BIGINT) AS phi_x24 " +
        "FROM ch JOIN v lo ON ((lo.s >> i) & 1) = 0 " +
        "JOIN v hi ON hi.s = (lo.s | (1 << i)) GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(CASE WHEN s = 15 THEN v WHEN s = 0 THEN -v " +
        "ELSE 0 END) * 24 AS BIGINT) AS tot_x24 FROM v) " +
        "SELECT channel, phi_x24, CASE WHEN tot_x24 = 0 THEN 0 ELSE " +
        s"CAST(${ppmDivSql("phi_x24", "tot_x24")} AS BIGINT) END AS share_ppm " +
        "FROM phi CROSS JOIN tot ORDER BY channel"),
    "q_frequent_triples" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem), " +
        "tri AS (SELECT a.p AS pa, b.p AS pb, c.p AS pc, " +
        "CAST(count(*) AS BIGINT) AS supp FROM op a " +
        "JOIN op b ON a.k = b.k AND a.p < b.p " +
        "JOIN op c ON b.k = c.k AND b.p < c.p GROUP BY 1, 2, 3) " +
        "SELECT pa, pb, pc, supp FROM tri WHERE supp >= 2 ORDER BY pa, pb, pc"),
    "q_cuped" ->
      ("WITH u AS (SELECT user_id % 2 AS arm, user_id, " +
        "CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN " +
        "CAST(round(value * 1000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN " +
        "CAST(round(value * 1000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx, " +
        "sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy, " +
        "sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy FROM u), " +
        "c AS (SELECT CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * " +
        "CAST(sx AS HUGEINT) AS cxx, CAST(n AS HUGEINT) * sxy - " +
        "CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS cxy, " +
        "CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) " +
        "AS cyy FROM m), " +
        "p AS (SELECT CASE WHEN cxx = 0 THEN 0 ELSE CAST(round(CAST(cxy AS DOUBLE) " +
        "/ CAST(cxx AS DOUBLE) * 1000000000, 0) AS BIGINT) END AS theta_e9, " +
        "CASE WHEN cxx = 0 OR cyy = 0 THEN 0 ELSE CAST(round(CAST(cxy AS DOUBLE) " +
        "* CAST(cxy AS DOUBLE) / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)) " +
        "* 1000000, 0) AS BIGINT) END AS varred_ppm FROM c), " +
        "adj AS (SELECT arm, theta_e9, varred_ppm, y, " +
        "CAST(y AS HUGEINT) * 1000000000 - CAST(theta_e9 AS HUGEINT) * " +
        "CAST(x AS HUGEINT) AS adj12 FROM u CROSS JOIN p), " +
        "g AS (SELECT arm, theta_e9, varred_ppm, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(y) AS BIGINT) AS sy, sum(adj12) AS sadj " +
        "FROM adj GROUP BY 1, 2, 3) " +
        "SELECT arm, n_users, " +
        s"CAST(${roundDivSql("sy", "n_users", 1000L)} AS BIGINT) AS mean_raw_e6, " +
        "CAST(round(CAST(sadj AS DOUBLE) / CAST(n_users AS DOUBLE) / 1000000.0, 0) " +
        "AS BIGINT) AS mean_adj_e6, theta_e9, varred_ppm FROM g ORDER BY arm"),
    "q_ols_closed" ->
      ("WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x1, " +
        "CAST(round(l_discount * 100, 0) AS BIGINT) AS x2, " +
        "CAST(round(l_extendedprice, 0) AS BIGINT) AS y FROM lineitem), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2, " +
        "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1 * x1) AS BIGINT) AS s11, " +
        "CAST(sum(x1 * x2) AS BIGINT) AS s12, CAST(sum(x2 * x2) AS BIGINT) AS s22, " +
        "CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y, " +
        "CAST(sum(y * y) AS BIGINT) AS syy FROM cells), " +
        "c AS (SELECT n, s1, s2, sy, " +
        "CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS a11, " +
        "CAST(n AS HUGEINT) * s12 - CAST(s1 AS HUGEINT) * CAST(s2 AS HUGEINT) AS a12, " +
        "CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * CAST(s2 AS HUGEINT) AS a22, " +
        "CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * CAST(sy AS HUGEINT) AS b1, " +
        "CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * CAST(sy AS HUGEINT) AS b2, " +
        "CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS cyy " +
        "FROM m), " +
        "b AS (SELECT *, CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE) AS det FROM c), " +
        "bb AS (SELECT *, (CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE) " +
        "- CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE)) / det AS beta1d, " +
        "(CAST(b2 AS DOUBLE) * CAST(a11 AS DOUBLE) " +
        "- CAST(b1 AS DOUBLE) * CAST(a12 AS DOUBLE)) / det AS beta2d FROM b) " +
        "SELECT n, CAST(round(beta1d * 1000000, 0) AS BIGINT) AS beta_qty_e6, " +
        "CAST(round(beta2d * 1000000, 0) AS BIGINT) AS beta_disc_e6, " +
        "CAST(round((CAST(sy AS DOUBLE) - beta1d * CAST(s1 AS DOUBLE) " +
        "- beta2d * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) * 1000, 0) AS BIGINT) " +
        "AS intercept_e3, " +
        "CAST(round((beta1d * CAST(b1 AS DOUBLE) + beta2d * CAST(b2 AS DOUBLE)) " +
        "/ CAST(cyy AS DOUBLE) * 1000000, 0) AS BIGINT) AS r2_ppm FROM bb"),
    "q_logistic_step" -> logisticOracleSql,
    "q_merkle_diff" ->
      ("WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS rid, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) " +
        "AS cents FROM lineitem GROUP BY 1), " +
        "old AS (SELECT rid, cents FROM base WHERE rid % 1013 != 0), " +
        "nw AS (SELECT rid, cents + CASE WHEN rid % 997 = 0 THEN 100 ELSE 0 END " +
        "AS cents FROM base WHERE rid % 1009 != 0), " +
        "so AS (SELECT CAST('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 2) " +
        "AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS old_n, " +
        "CAST(bit_xor(CAST('0x' || substr(md5(concat_ws('|', rid, cents)), 1, 15) " +
        "AS BIGINT)) AS BIGINT) AS old_ck FROM old GROUP BY 1), " +
        "sn AS (SELECT CAST('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 2) " +
        "AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS new_n, " +
        "CAST(bit_xor(CAST('0x' || substr(md5(concat_ws('|', rid, cents)), 1, 15) " +
        "AS BIGINT)) AS BIGINT) AS new_ck FROM nw GROUP BY 1), " +
        "dirty AS (SELECT coalesce(so.bucket, sn.bucket) AS bucket, " +
        "coalesce(old_n, 0) AS old_n, coalesce(new_n, 0) AS new_n " +
        "FROM so FULL OUTER JOIN sn ON so.bucket = sn.bucket " +
        "WHERE old_n IS DISTINCT FROM new_n OR old_ck IS DISTINCT FROM new_ck), " +
        "ko AS (SELECT CAST('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 2) " +
        "AS BIGINT) AS bucket, rid, cents AS old_c FROM old), " +
        "kn AS (SELECT CAST('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 2) " +
        "AS BIGINT) AS bucket, rid, cents AS new_c FROM nw), " +
        "kod AS (SELECT ko.* FROM ko SEMI JOIN dirty ON ko.bucket = dirty.bucket), " +
        "knd AS (SELECT kn.* FROM kn SEMI JOIN dirty ON kn.bucket = dirty.bucket), " +
        "diff AS (SELECT coalesce(kod.bucket, knd.bucket) AS bucket, " +
        "CAST(sum(CASE WHEN old_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added, " +
        "CAST(sum(CASE WHEN new_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "CAST(sum(CASE WHEN old_c IS NOT NULL AND new_c IS NOT NULL " +
        "AND old_c != new_c THEN 1 ELSE 0 END) AS BIGINT) AS n_changed " +
        "FROM kod FULL OUTER JOIN knd ON kod.bucket = knd.bucket " +
        "AND kod.rid = knd.rid GROUP BY 1) " +
        "SELECT dirty.bucket // 16 AS super, dirty.bucket, old_n, new_n, " +
        "coalesce(n_added, 0) AS n_added, coalesce(n_removed, 0) AS n_removed, " +
        "coalesce(n_changed, 0) AS n_changed " +
        "FROM dirty LEFT JOIN diff ON dirty.bucket = diff.bucket " +
        "ORDER BY dirty.bucket"),
    "q_sprt" ->
      ("WITH t AS (SELECT event_id, CASE WHEN event_type = 'purchase' " +
        "THEN CAST(200670695 AS BIGINT) ELSE CAST(-50010421 AS BIGINT) END " +
        "AS llr_e9 FROM events), " +
        "r AS (SELECT CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) " +
        "AS trial, CAST(sum(llr_e9) OVER (ORDER BY event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_e9 FROM t), " +
        "x AS (SELECT struct_extract(min(struct_pack(trial := trial, " +
        "cum_e9 := cum_e9)), 'trial') AS c_trial, " +
        "struct_extract(min(struct_pack(trial := trial, cum_e9 := cum_e9)), " +
        "'cum_e9') AS c_cum FROM r " +
        "WHERE cum_e9 >= 2944438979 OR cum_e9 <= -2944438979), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_trials, " +
        "CAST(sum(llr_e9) AS BIGINT) AS final_llr_e9 FROM t) " +
        "SELECT CASE WHEN c_trial IS NULL THEN 'continue' " +
        "WHEN c_cum >= 2944438979 THEN 'accept_h1' ELSE 'accept_h0' END " +
        "AS decision, CAST(coalesce(c_trial, n_trials) AS BIGINT) " +
        "AS n_at_decision, CAST(coalesce(c_cum, final_llr_e9) AS BIGINT) " +
        "AS llr_e9, n_trials FROM tot CROSS JOIN x"),
  )
}
