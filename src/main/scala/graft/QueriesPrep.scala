package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Prep` — training-data prep, packing/mixture, decontamination and graph propagation.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesPrep { this: Queries.type =>


  /** Tokenizer vocabulary: top-100 tokens with dense ids in
    * (count desc, token) order. */
  def qVocabBuild(s: SparkSession, d: String): DataFrame =
    TrainPrep.buildVocab(Tables.documents(s, d), "doc_id", "text", 100)
      .orderBy("vocab_id")

  /** Deterministic weighted dataset mixture: per-source keep rates in
    * permille decided by the portable Knuth hash of doc_id (seed 7) —
    * src0 kept whole, src1/src2 at 50%, everything else at 20%. */
  def qDatasetMixture(s: SparkSession, d: String): DataFrame =
    TrainPrep.mixtureSample(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 1000, "src1" -> 500, "src2" -> 500),
        defaultPermille = 200, seed = 7L)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")

  /** Sequence packing: concat-then-chunk into 256-token context windows
    * via the scalable global prefix sum (bucket offsets + bucket-local
    * windows — no single-partition window). */
  def qPackSequences(s: SparkSession, d: String): DataFrame = {
    val counted = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(Ops.normalizeText(col("text")), " ")).cast("long").as("n_tokens"))
    TrainPrep.packSequences(counted, "doc_id", "n_tokens", 256)
      .orderBy("doc_id")
  }

  // --------------------------------------- training-data prep tier (r5)

  /** Context-window chunking for long-document splitting: each document's
    * token sequence cut into overlapping windows of 8 tokens at stride 4
    * (the train-time "chunk long docs into context windows" step, scaled
    * down for the fixture). Entirely ROW-LOCAL — the token array never
    * leaves its row (`sequence` + `explode` + `slice`), so the plan has no
    * join and no aggregate: at 100 TB this is a pure map stage that scales
    * linearly with input splits. Chunk content is carried as a portable md5
    * so the output stays narrow regardless of window size. */
  def qChunkWindows(s: SparkSession, d: String): DataFrame = {
    val win = 8L
    val stride = 4L
    Tables.documents(s, d)
      .select(col("doc_id"),
        filter(split(Ops.normalizeText(col("text")), " "), t => t =!= "").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start"),
        least(lit(win), col("n") - col("start")).as("n_tok"),
        md5(array_join(slice(col("toks"), (col("start") + 1).cast("int"), lit(win.toInt)), " "))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic train/val/test split + balanced class weights: the split
    * is decided per-document by the portable Knuth multiplicative hash of
    * doc_id (8/1/1 via bucket = h mod 10 — reproducible across engines and
    * re-runs, the property a training split needs), then per-(split, lang)
    * doc/char counts and the inverse-frequency class weight
    * `(split_docs · 10⁶) div (n_langs · n_docs)` (integer-exact, the weight
    * you'd feed a balanced sampler). One map-side-combinable aggregate over
    * the corpus; the weight window runs over the ≤ |splits|·|langs| grouped
    * rows, never the raw docs. */
  def qTrainSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = expr("((doc_id % 2147483648) * 2654435761) % 4294967296 % 10")
    val w = Window.partitionBy(col("split"))
    Tables.documents(s, d)
      .select(
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
          .as("split"),
        col("lang"), col("n_chars"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("split_docs", sum(col("n_docs")).over(w))
      .withColumn("n_langs", count(lit(1)).over(w))
      .select(col("split"), col("lang"), col("n_docs"), col("n_chars"),
        expr("(split_docs * 1000000) div (n_langs * n_docs)").as("weight_ppm"))
      .transform(ps(col("split"), col("lang")))
  }

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware companion to
    * [[qTrainSplit]], which hashes each doc independently and therefore
    * lets near-duplicate pairs straddle splits (the classic eval
    * contamination bug: the model "generalizes" to a paraphrase of its own
    * training data). Here the split key is the doc's NEAR-DUP CLUSTER
    * canonical, so every member of an LSH cluster inherits the same split
    * by construction. The cluster map is the min-label-propagation
    * FIXPOINT over the band-bucket graph ([[graft.operators.TextOps
    * .lshDedupClustersTrace]]: bucket hop + pointer jump per round,
    * checkpoint-truncated, convergence observe-fused) under the declared
    * cap [[LeakageSplitCap]] — the cap makes the loop SQL-restatable as
    * materialized CTE rounds (idempotent after the fixpoint, exactly the
    * [[qKcore]] discipline) while Spark still stops early; the spec pins
    * rounds-executed < cap. Split = the same Knuth multiplicative hash as
    * qTrainSplit applied to the CANONICAL id (8/1/1). Docs with < 3
    * tokens have no shingles and are absent, as in the dedup map. */
  def qLeakageSplit(s: SparkSession, d: String): DataFrame =
    leakageSplitTrace(s, d)._1

  private[graft] final val LeakageSplitCap = 16

  private[graft] def leakageSplitTrace(s: SparkSession, d: String): (DataFrame, Int) = {
    val sig = TextOps.minhashSignatureMd5(
      Tables.documents(s, d), "doc_id", "text", 3, 4)
    val (labels, rounds) =
      TextOps.lshDedupClustersTrace(sig, "doc_id", 4, LeakageSplitCap)
    val bucket =
      expr("((canonical_id % 2147483648) * 2654435761) % 4294967296 % 10")
    val out = labels
      .select(col("id").as("doc_id"), col("canonical_id"),
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
    (out, rounds)
  }

  /** Unigram-LM rarity score (surprisal proxy without the log): each doc's
    * mean inverse token probability `avg_t (T·10⁶) div c_t` over the corpus
    * unigram counts — rare-token-heavy docs score high, boilerplate scores
    * low, and the ranking needs no float transcendentals (integer-exact,
    * hash-reproducible). The unigram table is vocabulary-sized (bounded,
    * broadcastable at any corpus scale); the corpus total rides along as a
    * broadcast 1-row cross join, so the token stream is shuffled once for
    * the per-doc tf aggregate and never again. HEADROOM: the rarity value
    * `(T·10⁶) div c_t` itself scales with corpus size — exact to
    * T ≤ 9.2·10¹² tokens (≈ 35 TB of text); past that drop the scale to
    * 10³ (same query shape, smaller constant). */
  def qRarityScore(s: SparkSession, d: String): DataFrame = {
    val tf = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("doc_id"), col("shingle").as("token"))
      .agg(count(lit(1)).as("tf"))
    val uni = tf.groupBy("token").agg(sum(col("tf")).as("ct"))
    val tot = uni.agg(sum(col("ct")).as("t_tot"))
    tf.join(broadcast(uni), Seq("token"))
      .crossJoin(broadcast(tot))
      .withColumn("rar", expr("(t_tot * 1000000) div ct"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        expr("sum(tf * rar) div sum(tf)").as("rarity_ppm"))
      .orderBy("doc_id")
  }

  /** Collocation mining: top-20 corpus bigrams by a rank-preserving
    * integer PMI surrogate `(c_xy · T · 10⁵) div (c_x · c_y)` (PMI's
    * argument without the log — monotone in PMI for the shared corpus
    * total, so the ranking is exact and float-free), at min support
    * c_xy ≥ 5. Bigram and unigram counts are both map-side-combinable;
    * the vocabulary-sized unigram table is broadcast to the bigram side
    * twice (left and right token), so nothing large ever shuffles twice.
    * Final top-k plans as TakeOrderedAndProject. HEADROOM: the
    * `c_xy·T·10⁵` numerator is exact to c_xy·T ≤ 9.2·10¹³ — ample for the
    * declared scales; for a 100 TB corpus reorder to
    * `((c_xy·10⁵) div c_x)·T div c_y` (same engines-identical floor
    * arithmetic, unconditionally overflow-free). */
  def qPmiTopk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val uni = TextOps.explodedShingles(docs, "doc_id", "text", 1)
      .groupBy(col("shingle").as("token")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).as("t_tot"))
    TextOps.explodedShingles(docs, "doc_id", "text", 2)
      .groupBy(col("shingle").as("bigram")).agg(count(lit(1)).as("c12"))
      .where(col("c12") >= 5)
      .withColumn("x", substring_index(col("bigram"), " ", 1))
      .withColumn("y", substring_index(col("bigram"), " ", -1))
      .join(broadcast(uni.select(col("token").as("x"), col("c1").as("cx"))), Seq("x"))
      .join(broadcast(uni.select(col("token").as("y"), col("c1").as("cy"))), Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("c12").as("n"), col("cx"), col("cy"),
        expr("(c12 * t_tot * 100000) div (cx * cy)").as("score"))
      .orderBy(col("score").desc, col("bigram"))
      .limit(20)
  }

  /** Curriculum ordering: every document's exact global rank in
    * (n_chars, doc_id) order — the easy→hard global sort position a
    * length-curriculum sampler consumes — computed by
    * [[graft.operators.Ops.runningSums]] as a running count: monotone
    * value buckets + in-plan bucket bases + bucket-local windows, never
    * the single-task window `row_number() OVER (ORDER BY ...)` would plan
    * as. The final presentation orderBy is the only range exchange. */
  def qGlobalRank(s: SparkSession, d: String): DataFrame =
    Ops.runningSums(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), Nil,
        Seq("n_chars", "doc_id"), "rank" -> lit(1L))
      .orderBy("rank")

  /** Robust outlier detection (median/MAD): events whose value-cents
    * deviate from their event-type median by > 3× the median absolute
    * deviation. Both medians are EXACT distributed percentiles over integer
    * cents — interpolated midpoints land on .5/.25 binary fractions, so
    * every compared double is exact and the flagged set is
    * bit-reproducible. The two 5-row stats tables broadcast back; the
    * event log is scanned, never hash-shuffled. */
  def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("cents") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .where(col("adev") > lit(3.0) * col("mad"))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("adev"), col("med"), col("mad"))
      .orderBy("event_id")
  }

  /** Per-cohort least-squares trend: slope/intercept of value-cents over
    * days-since-2024-01-01, from the closed form on INTEGER power sums
    * (n, Σx, Σy, Σxy, Σx²) — one map-side-combinable aggregate, exact
    * long arithmetic (x ≤ 31, cents ≤ 5·10⁴ keep every sum far inside
    * long range at any declared SF), then ONE double division per
    * coefficient so both engines hit the identical IEEE quotient. */
  def qRegrTrend(s: SparkSession, d: String): DataFrame = {
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = nullif((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), lit(0.0))
    Tables.events(s, d)
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n"),
        round(num / den, 6).as("slope"),
        round((col("sy").cast("double") - num / den * col("sx").cast("double"))
          / col("n").cast("double"), 6).as("intercept"))
      .transform(ps(col("event_type")))
  }

  /** Bigram next-token table (the 1st-order LM a corpus sanity check
    * reads): for every context token seen ≥ 10 times, its argmax follower
    * and the integer-exact conditional probability
    * `(c_xy · 10⁶) div c_x`. The argmax window is CONTEXT-partitioned
    * (never global), both count aggregates combine map-side, and the
    * vocabulary-sized context table broadcasts to the bigram side. */
  def qNextToken(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ctx = TextOps.explodedShingles(docs, "doc_id", "text", 1)
      .groupBy(col("shingle").as("context")).agg(count(lit(1)).as("cx"))
      .where(col("cx") >= 10)
    val w = Window.partitionBy(col("context"))
      .orderBy(col("cxy").desc, col("next_tok"))
    TextOps.explodedShingles(docs, "doc_id", "text", 2)
      .groupBy(col("shingle").as("bigram")).agg(count(lit(1)).as("cxy"))
      .withColumn("context", substring_index(col("bigram"), " ", 1))
      .withColumn("next_tok", substring_index(col("bigram"), " ", -1))
      .join(broadcast(ctx), Seq("context"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("context"), col("next_tok"), col("cxy").as("n"),
        expr(ppmDiv("cxy", "cx")).as("cond_ppm"))
      .orderBy("context")
  }

  /** Tokenizer-design coverage curve: what share of all corpus tokens the
    * top-k vocabulary covers, for k ∈ {10, 100, 1000}. The ranking only
    * ever materializes the top 1000 rows (TakeOrderedAndProject heaps →
    * window over ≤ 1000 rows), the unigram aggregate is map-side
    * combinable, and the share is the integer-exact
    * `(covered · 10⁶) div total`. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame = {
    val uni = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("shingle").as("token")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("t_tot"))
    val top = uni.orderBy(col("c").desc, col("token")).limit(1000)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("c").desc, col("token"))).cast("long"))
    val ks = top.sparkSession.range(1, 4).select(
      pow(lit(10.0), col("id")).cast("long").as("k"))
    ks.join(broadcast(top), col("rn") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_vocab"), col("covered"),
        expr(ppmDiv("covered", "t_tot")).as("share_ppm"))
      .orderBy("k")
  }

  /** Per-source exact-dup audit (the dedup dashboard a corpus pipeline
    * reports): docs whose normalized-text fingerprint duplicates an
    * earlier doc ANYWHERE in the corpus, attributed to their source —
    * count, dup count, dup permille. One fingerprint-partitioned window
    * (same shape as q_exact_dedup) + a bounded per-source aggregate. */
  def qDedupAudit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("f"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(Ops.normalizeText(col("text"))).as("f"))
      .withColumn("is_dup",
        when(col("doc_id") === min(col("doc_id")).over(w), 0L).otherwise(1L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        expr("(n_dups * 1000) div n_docs").as("dup_permille"))
      .transform(ps(col("source")))
  }

  /** Language-ID confusion matrix: labeled lang × heuristic prediction
    * counts — the eval table for the q_lang_id classifier. The prediction
    * ([[graft.operators.TextOps.langIdHeuristic]]) is computed inside the
    * scan projection (codegen'd, no join back), so the whole query is one
    * map + one bounded aggregate. */
  def qLangidConfusion(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextOps.langIdHeuristic(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .transform(ps(col("lang"), col("lang_pred")))

  /** Near-dup cluster size distribution (the dedup-audit histogram): group
    * sizes of the one-step LSH dedup map and how many clusters have each
    * size. Two BOUNDED aggregates on top of the map (canonical_id →
    * size → histogram) — output cardinality ≤ distinct sizes, so the
    * histogram costs nothing beyond the map itself. */
  def qClusterSizes(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
    TextOps.lshDedupMap(sig, "doc_id", 4)
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))
      .transform(ps(col("cluster_size")))
  }

  /** Pad-vs-pack decision table: per source, the padding waste of the
    * NAIVE one-doc-per-sequence batching at context 256 — chunks =
    * ⌈n_tokens/256⌉ per doc, waste = padded − real tokens, integer-exact
    * permille. The number q_pack_sequences' concat-and-chunk packing is
    * justified against. One map-side-combinable aggregate. */
  def qPaddingWaste(s: SparkSession, d: String): DataFrame = {
    val ctx = 256L
    Tables.documents(s, d)
      .select(col("source"),
        size(filter(split(Ops.normalizeText(col("text")), " "), t => t =!= ""))
          .cast("long").as("n"))
      .select(col("source"), col("n"),
        expr(s"((n + ${ctx - 1}) div $ctx) * $ctx").as("padded"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("real_tokens"),
        sum(col("padded")).as("padded_tokens"))
      .select(col("source"), col("n_docs"), col("real_tokens"), col("padded_tokens"),
        expr("((padded_tokens - real_tokens) * 1000) div nullif(padded_tokens, 0)").as("waste_permille"))
      .transform(ps(col("source")))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the src0 and
    * src1 document-length distributions — the distribution-drift check a
    * training pipeline runs between corpus snapshots. Exact and float-free:
    * D is maximized over the integer cross-scaled ECDF gap
    * `|cum0·n1 − cum1·n0|` and reported as `(max · 10⁶) div (n0·n1)` ppm.
    * The cumulative window runs over the per-length aggregate (bounded by
    * distinct lengths, not docs); the argmax row comes off a 1-row
    * TakeOrdered. */
  def qKsDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .where(col("source").isin("src0", "src1"))
      .select(col("source"),
        size(filter(split(Ops.normalizeText(col("text")), " "), t => t =!= ""))
          .cast("long").as("v"))
      .groupBy("v")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c0"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum0", sum(col("c0")).over(w))
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("n0", sum(col("c0")).over(Window.partitionBy()))
      .withColumn("n1", sum(col("c1")).over(Window.partitionBy()))
      .withColumn("gap", abs(col("cum0") * col("n1") - col("cum1") * col("n0")))
      .orderBy(col("gap").desc, col("v"))
      .limit(1)
      .select(col("v").as("v_at_max"), col("n0"), col("n1"),
        expr("(gap * 1000000) div nullif(n0 * n1, 0)").as("d_ppm"))
  }

  /** Winsorized per-cohort mean: event value-cents clamped to their
    * event-type's [p05, p95] before averaging — the robust-mean
    * preprocessing step. The bounds are EXACT ORDER STATISTICS (the
    * ⌈p·n⌉-th smallest cents, all-integer `(p·n + 99) div 100` rank — no
    * interpolated percentile whose last-ulp float could flip a clamp
    * comparison), so clamp and sum stay in exact long arithmetic and the
    * only float op is the final mean's single IEEE division. The 5-row
    * bounds table broadcasts back; the rank window is type-partitioned. */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val wr = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    val bounds = ev
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy("event_type")
      .agg(min(when(col("rn") === expr("(5 * n + 99) div 100"), col("cents"))).as("lo"),
        min(when(col("rn") === expr("(95 * n + 99) div 100"), col("cents"))).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("wc", least(greatest(col("cents"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(col("wc")).as("w_sum"))
      .select(col("event_type"), col("n"), col("lo"), col("hi"),
        (expr(roundDiv("w_sum", "n", 10000L)).cast("double") / 10000.0).as("wmean"))
      .transform(ps(col("event_type")))
  }

  /** Distinctive terms per source: top-5 tokens by relative-frequency lift
    * `(tf_s/n_s) / (tf_c/T)` against the whole corpus, as the
    * rank-preserving integer `(tf_s · T · 10⁴) div (n_s · tf_c)`, min
    * support 5 — the "what characterizes this slice" table of a corpus
    * explorer. Per-source counts shuffle once; the vocabulary-sized corpus
    * table and 20-row source totals broadcast; the ranking window is
    * source-partitioned. */
  def qSourceTerms(s: SparkSession, d: String): DataFrame = {
    val tfsAll = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("tf_s"))
    val srcTot = tfsAll.groupBy("source").agg(sum(col("tf_s")).as("n_s"))
    val tfs = tfsAll.where(col("tf_s") >= 5)
    val corp = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("shingle").as("token")).agg(count(lit(1)).as("tf_c"))
    val tot = corp.agg(sum(col("tf_c")).as("t_tot"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_e4").desc, col("token"))
    tfs.join(broadcast(srcTot), Seq("source"))
      .join(broadcast(corp), Seq("token"))
      .crossJoin(broadcast(tot))
      .withColumn("lift_e4",
        expr(scaledDiv("(tf_s * t_tot)", "(n_s * tf_c)", 100L, 100L)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .select(col("source"), col("token"), col("tf_s"), col("lift_e4"), col("rk"))
      .orderBy("source", "rk")
  }

  /** Corpus token-frequency Gini coefficient (vocabulary concentration —
    * the "how head-heavy is this corpus" diversity metric), integer-exact:
    * with tokens ranked ascending by count via
    * [[graft.operators.Ops.runningSums]] (a running count, two-phase over
    * value buckets — the vocabulary never collapses to one task),
    * `gini_ppm = ((2·Σ(rank·c) − (n+1)·Σc) · 10⁶) div (n · Σc)`. One
    * bounded 1-row output. */
  def qTokenGini(s: SparkSession, d: String): DataFrame = {
    val uni = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("shingle").as("token")).agg(count(lit(1)).as("c"))
    Ops.runningSums(uni, Nil, Seq("c", "token"), "rank" -> lit(1L))
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("total_tokens"),
        sum(col("rank") * col("c")).as("s1"))
      .select(col("n_vocab"), col("total_tokens"),
        expr(ppmDiv("(2 * s1 - (n_vocab + 1) * total_tokens)",
          "(n_vocab * total_tokens)")).as("gini_ppm"))
  }

  /** Top event trigram paths: the 10 most common 3-step per-user event
    * sequences (two leads over one user-partitioned window → bounded
    * ≤ 5³ aggregate → TakeOrdered 10) — sequence mining one step past
    * q_event_transitions' bigrams. */
  def qTrigramPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  /** Product stickiness: per calendar day, DAU and trailing-7-day WAU
    * (exact distinct users) and the integer-exact DAU/WAU permille. WAU
    * comes from a distinct (user, day) grid range-joined to a 7-day
    * window — the grid is |users|·|active days|, far below the event
    * count, and both distinct aggregates combine map-side. */
  def qStickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud.as("a")
      .join(dau.select(col("day").as("anchor")).as("d"),
        col("a.day") <= col("d.anchor") &&
          col("a.day") > date_sub(col("d.anchor"), 7))
      .groupBy(col("d.anchor").as("day"))
      .agg(count_distinct(col("a.user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000) div wau").as("stickiness_permille"))
      .orderBy("day")
  }

  /** RFM segmentation: users quartiled per recency/frequency/monetary over
    * the user-level aggregate, then the bounded 64-cell segment census.
    * NOT ntile — a global ntile is a single-task window; instead each
    * metric is ranked by [[graft.operators.Ops.runningSums]] (a running
    * count in bucket-partitioned windows) and the quartile is the
    * positional `((rank−1)·4) div n + 1`, restated identically in the
    * oracle, with user_id as tiebreak so the census is deterministic.
    * Cents keep monetary integer-exact. */
  def qRfmCells(s: SparkSession, d: String): DataFrame = {
    // The per-user census feeds THREE rank passes (each reads its input
    // three times: stats, bucket census, rows) plus the quartile divisor.
    // One eager truncate materializes it once, so `n` is a count over the
    // compact checkpointed frame and every pass reads blocks, never the
    // events scan. Each metric is ranked on its own and joined back on
    // user_id, so the plan grows linearly with the metrics.
    val users = Checkpoints.truncate(Tables.events(s, d)
      .groupBy("user_id")
      .agg(datediff(max(col("ts").cast("date")), lit("1990-01-01").cast("date"))
          .cast("long").as("r_days"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("cents")))
    val n = users.count()
    val quartiles = Seq("r_days" -> "r_q", "freq" -> "f_q", "cents" -> "m_q").map {
      case (m, q) =>
        Ops.runningSums(users.select("user_id", m), Nil, Seq(m, "user_id"), "rk" -> lit(1L))
          .select(col("user_id"), expr(s"((rk - 1) * 4) div $n + 1").as(q))
    }
    quartiles.foldLeft(users.select("user_id", "cents"))(_.join(_, "user_id"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
      .transform(ps(col("r_q"), col("f_q"), col("m_q")))
  }

  /** Shipping-priority top-10 (TPC-H Q3 shape): unshipped-revenue ranking
    * of BUILDING-segment orders around a cutoff date. Revenue is the
    * integer cent-percent `price_c · (100 − disc_pct)` — exact long sums,
    * no float accumulation order to drift. Both probe-side filters reach
    * their scans; the customer key join is a plain equi-join (AQE
    * broadcasts it at fixture scale, shuffles it at warehouse scale); the
    * top-10 is TakeOrderedAndProject. */
  def qShipPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("date")
    val cust = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate").cast("date") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate").cast("date") > cutoff)
      .select(col("l_orderkey"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100, 0) AS BIGINT)"))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(10)
  }

  /** Supplier-nation market share (TPC-H Q8 shape): per order-year within
    * the ASIA customer region, the revenue share of lineitems supplied by
    * CHINA-nation suppliers, as the integer-exact
    * `(nation_cents · 10⁶) div total_cents` over exact cent-percent sums.
    * All four dimension joins broadcast (region→nation→{customer,
    * supplier} are tiny at every scale); the fact table shuffles once for
    * the per-year aggregate. */
  def qMarketShare(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
    val custAsia = Tables.customer(s, d)
      .join(broadcast(nat
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNat = Tables.supplier(s, d)
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100, 0) AS BIGINT)"))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(sum(col("rev")).as("total_cp"),
        sum(when(col("supp_nation") === "CHINA", col("rev")).otherwise(0L))
          .as("nation_cp"))
      .select(col("o_year"), col("total_cp"), col("nation_cp"),
        expr(ppmDiv("nation_cp", "total_cp")).as("share_ppm"))
      .transform(ps(col("o_year")))
  }

  /** Market-basket affinity: top-20 part pairs co-purchased within an
    * order, ranked by integer lift `(c_xy · n_orders · 10⁴) div (c_x·c_y)`
    * at min support 5. The pair expansion is [[Graph.coOccurrence]] over
    * the co-purchase rows — bounded by order size (≤ 7 lineitems), so
    * pairs grow linearly with orders, never quadratically with parts; the
    * per-part counts broadcast back onto the pair aggregate. */
  def qPartAffinity(s: SparkSession, d: String): DataFrame = {
    val op = coPurchaseRows(s, d).distinct()
    val cnt = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("c1"))
    val tot = op.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n_orders"))
    Graph.coOccurrence(coPurchaseRows(s, d), "l_orderkey", "l_partkey", 5)
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("c").as("c_xy"))
      .join(broadcast(cnt.select(col("l_partkey").as("part_a"), col("c1").as("cx"))), Seq("part_a"))
      .join(broadcast(cnt.select(col("l_partkey").as("part_b"), col("c1").as("cy"))), Seq("part_b"))
      .crossJoin(broadcast(tot))
      .select(col("part_a"), col("part_b"), col("c_xy"),
        expr("(c_xy * n_orders * 10000) div (cx * cy)").as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Shared scored-embeddings frame for the evaluation-metric queries:
    * a deterministic integer score per vector — the Knuth-seed dot product
    * with each elementwise product rounded to an integer BEFORE summing,
    * so the total is an order-free exact long (a raw double dot would rank
    * differently across engines on a last-ulp tie). */
  private[graft] def scoredEmbeddings(s: SparkSession, d: String): DataFrame = {
    val vExpr = "transform(sequence(1, 64), j -> " +
      "CAST((j * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 - 0.5)"
    Tables.embeddings(s, d).select(col("vec_id"),
      col("label").cast("long").as("label"),
      expr(s"aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        s"$vExpr, (a, b) -> CAST(round(a * b * 1000000, 0) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("score"))
  }

  /** One-vs-rest AUC per class via the Mann-Whitney rank-sum — the
    * model-evaluation metric computed from ONE global ranking pass (the
    * two-phase bucket ranker, never a single-task window):
    * `U_c = Σ_{label=c} rank − n_c(n_c+1)/2`, `AUC_ppm = ⌊U_c·10⁶ /
    * (n_c·(N−n_c))⌋` — all exact integers, ties resolved by the
    * deterministic (score, vec_id) total order. Headroom: the two-step
    * ppm lift is exact to `U ≤ 9.2·10¹⁵` (N ≈ 1.9·10⁸ rows); shard the
    * ranking beyond that. */
  def qAucPerClass(s: SparkSession, d: String): DataFrame = {
    val scored = scoredEmbeddings(s, d)
    val ranked = Ops.runningSums(scored, Nil, Seq("score", "vec_id"), "rank" -> lit(1L))
    val tot = scored.agg(count(lit(1)).as("n_total"))
    ranked.groupBy(col("label").as("class"))
      .agg(count(lit(1)).as("n_pos"), sum(col("rank")).as("rank_sum"))
      .crossJoin(broadcast(tot))
      .select(col("class"), col("n_pos"),
        expr("rank_sum - (n_pos * (n_pos + 1)) div 2").as("u_stat"),
        col("n_total"))
      .select(col("class"), col("n_pos"), col("u_stat"),
        expr(ppmDiv("u_stat", "nullif(n_pos * (n_total - n_pos), 0)")).as("auc_ppm"))
      .transform(ps(col("class")))
  }

  /** Score-decile reliability table (calibration curve): rows bucketed by
    * exact global score decile `((rank−1)·10) div N + 1`, per-decile row
    * count, positive count (label ≥ 5), positive rate ppm and the exact
    * integer score sum (no mean division — scores may be negative and
    * floor-vs-truncate would diverge between engines). Same single
    * ranking pass as the AUC; 10 output rows at any scale. */
  def qCalibrationBins(s: SparkSession, d: String): DataFrame = {
    val scored = scoredEmbeddings(s, d)
    val ranked = Ops.runningSums(scored, Nil, Seq("score", "vec_id"), "rank" -> lit(1L))
    val tot = scored.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(tot))
      .select(expr("((rank - 1) * 10) div n_total + 1").as("decile"),
        col("label"), col("score"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") >= 5L, 1L).otherwise(0L)).as("n_pos"),
        sum(col("score")).as("sum_score"))
      .select(col("decile"), col("n"), col("n_pos"),
        expr(ppmDiv("n_pos", "n")).as("pos_ppm"), col("sum_score"))
      .transform(ps(col("decile")))
  }

  /** CUSUM change-point per order priority: the day where the cumulative
    * deviation of daily revenue from a flat baseline peaks —
    * `dev_k = |n·P_k − k·total|` over day-ordered prefix sums, all exact
    * integer cents (the classic mean-shift detector with the rational
    * mean lifted to integers: n·P_k − k·total = n·(P_k − k·mean)).
    * Per-priority windows are calendar-bounded (≤ days rows per group),
    * the (n, total) baseline rides a broadcast, and the argmax day is a
    * deterministic (dev desc, day) rank. Headroom: `n_days·total_cents`
    * ≤ 2⁶³ holds to ~10¹⁴ cents of revenue per priority across 10⁴ days. */
  def qChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    val base = daily.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total_cents"))
    val wDay = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = daily
      .withColumn("p", sum(col("x")).over(wDay))
      .withColumn("k", row_number().over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))).cast("long"))
      .join(broadcast(base), Seq("o_orderpriority"))
      .withColumn("cusum_dev",
        abs(col("n_days") * col("p") - col("k") * col("total_cents")))
    dev.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("cusum_dev").desc, col("day"))))
      .where(col("rn") === 1)
      .select(col("o_orderpriority"), col("day"), col("n_days"),
        col("total_cents"), col("cusum_dev"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Seasonal-baseline anomaly ranking: each (date, hour) event count
    * against its (day-of-week, hour) baseline across all observed dates —
    * `ratio_ppm = (count·n_dates_of_dow·10⁶) div cell_total`, exact via
    * the two-step lift (headroom `count·n_dates ≤ 9.2·10¹⁵`). The dow
    * calendar and the 7×24 baseline grid are bounded at any scale and
    * broadcast back onto the hourly aggregate; the top-20 anomalies rank
    * by TakeOrdered, never a global sort. */
  def qSeasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("ts").cast("date").as("day"),
      hour(col("ts")).cast("long").as("hr"))
    val hourly = ev.groupBy("day", "hr").agg(count(lit(1)).as("cnt"))
    val dowOf = dayofweek(col("day")).cast("long")
    val dates = ev.select("day").distinct()
    val dowN = dates.select(col("day"), dowOf.as("dow"))
      .groupBy("dow").agg(count(lit(1)).as("n_dates"))
    val cellTotal = hourly.select(dowOf.as("dow"), col("hr"), col("cnt"))
      .groupBy("dow", "hr").agg(sum(col("cnt")).as("cell_total"))
    hourly.select(col("day"), col("hr"), col("cnt"), dowOf.as("dow"))
      .join(broadcast(dowN), Seq("dow"))
      .join(broadcast(cellTotal), Seq("dow", "hr"))
      .select(col("day"), col("hr"), col("cnt"), col("n_dates"),
        col("cell_total"),
        expr(scaledDiv("(cnt * n_dates)", "cell_total", 1000L, 1000L))
          .as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("day"), col("hr"))
      .limit(20)
  }

  /** Fuzzy self-match (edit distance 1) via deletion-neighborhood
    * blocking — the scalable spell-correction / fuzzy-dedup pattern: each
    * name emits itself plus its |name| single-character deletions as block
    * keys (row-local explode); any two strings within one edit share a
    * block, so candidates come from an equi-join on the block key instead
    * of the O(n²) all-pairs scan, and every candidate is verified with
    * the codegen'd `levenshtein`. Block sizes are bounded by the alphabet
    * (≤ 10 digit variants here), so candidate pairs grow linearly with
    * rows — the oracle states the naive quadratic join; results must be
    * identical. */
  def qFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    // Degenerate-block cap (the [[operators.TextOps.lshCandidatePairs]]
    // guard, same constant): the in-block expansion is quadratic in block
    // size, so a pathological corpus (thousands of names one deletion
    // apart — NOT this fixture, whose blocks are digit-alphabet-bounded)
    // must not build an unbounded in-task array. Blocks are sized with a
    // count aggregate BEFORE any list is collected; oversized blocks are
    // skipped, never materialized. Audit path at scale: the
    // [[operators.TextOps.lshOversizedBuckets]] pattern (skipped keys as
    // data) or an `Observation` on the size aggregate.
    val maxBlock = 1000
    // r17: same CPU-vs-bytes widening as the pair stage below, for the
    // deletion-neighborhood explode — it ran inside the 2-task
    // post-distinct stage (the distinct output is byte-tiny, the explode
    // is the per-row CPU).
    val names = Tables.customer(s, d).select(col("c_name").as("name")).distinct()
      .repartition(s.sparkContext.defaultParallelism * 2)
    val blocks = names.select(col("name"),
      explode(expr("array_union(array(name), transform(sequence(1, length(name)), " +
        "i -> concat(substring(name, 1, i - 1), substring(name, i + 1, length(name)))))"))
        .as("blk"))
    // One groupBy shuffle of the (block, name) rows, then IN-BLOCK pair
    // expansion (the LSH-bucket pattern) — no self-join build side. The
    // size table and the probe hash-partition on the same `blk` key, so
    // the shuffle_hash keep-join rides the existing exchange (a broadcast
    // build would collect O(blocks) keys to the driver). The codegen'd
    // levenshtein verifies map-side BEFORE the distinct, which then only
    // shuffles true pairs. (Measured at sf0.1: self-join + distinct-first
    // 31 s → join + verify-first 25 s → this form ~14 s, all scratch-inclusive.)
    val keep = blocks.groupBy(col("blk")).agg(count(lit(1)).as("__n"))
      .where(col("__n").between(2, maxBlock))
      .select("blk").hint("shuffle_hash")
    // r17 (guide §2.5/§2.2): the in-block expansion + levenshtein verify is
    // CPU-heavy on FEW bytes, and AQE's byte-targeted coalescing (1 MB
    // minPartitionSize) squeezed it to 8 tasks on 32 cores (job profile:
    // one 1.55 s job carried the wall). Re-spread the (blk, name) rows —
    // ~tens of bytes each — across 2× the cluster's default parallelism
    // with an EXPLICIT width (user-specified numPartitions is exempt from
    // AQE coalescing; the value derives from the cluster, not a local
    // constant). The groupBy reuses the hash(blk) partitioning, so the
    // expansion stage inherits the width. Measured (with the names
    // widening above) job profile warm rep 3.26 s → 1.67 s at sf0.1; the
    // extra exchange carries ~7 MB.
    val par = s.sparkContext.defaultParallelism * 2
    blocks.join(keep, Seq("blk"))
      .repartition(par, col("blk"))
      .groupBy(col("blk")).agg(collect_list(col("name")).as("names"))
      .select(explode(expr(
        "flatten(transform(names, a -> filter(transform(names, b -> " +
          "struct(a AS name_a, b AS name_b)), p -> p.name_a < p.name_b)))"))
        .as("pair"))
      .select(col("pair.name_a").as("name_a"), col("pair.name_b").as("name_b"))
      .where(expr("levenshtein(name_a, name_b) = 1"))
      .distinct()
      .orderBy("name_a", "name_b")
  }

  /** Algebraic re-aggregation audit: quarter totals computed by MERGING
    * monthly partials (sum/min/max/count re-aggregate, XOR checksums
    * fold) — the cube-materialization / incremental-rollup primitive. The
    * oracle computes the quarters DIRECTLY from rows, so the hash match
    * itself proves merge(partials) ≡ direct for every aggregate, checksum
    * included. Both levels combine map-side; nothing rescans the fact. */
  def qReaggAudit(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.orders(s, d).select(
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
      concat(date_format(col("o_orderdate"), "yyyy"), lit("-Q"),
        quarter(col("o_orderdate"))).as("qtr"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
      expr("CAST(conv(substr(md5(concat_ws('|', o_orderkey, o_custkey, " +
        "o_orderstatus, CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
        "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
    val monthly = rows.groupBy(col("qtr"), col("ym"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"),
        expr("bit_xor(h)").as("xs"))
    monthly.groupBy(col("qtr"))
      .agg(count(lit(1)).as("n_months"), sum(col("n")).as("n_rows"),
        sum(col("sc")).as("total_cents"), min(col("mn")).as("min_cents"),
        max(col("mx")).as("max_cents"), expr("bit_xor(xs)").as("checksum"))
      .transform(ps(col("qtr")))
  }

  /** One PCA power-iteration step over the embedding corpus:
    * `w = Σ_rows (x·v)·x` for a deterministic Knuth-hash seed direction v
    * — the distributed Gram-matrix-times-vector kernel behind spectral
    * methods, without ever materializing the d×d Gram matrix. The per-row
    * dot is row-local (the native [[Similarity.dot]] fold, zero shuffle); the only
    * exchange carries dim-bounded (pos, partial-sum) rows. Output doubles
    * are rounded (summation-order drift), per the file contract. */
  def qPowerIteration(s: SparkSession, d: String): DataFrame = {
    val vExpr = "transform(sequence(1, 64), j -> " +
      "CAST((j * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 - 0.5)"
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("dot", Similarity.dot(col("emb"), expr(vExpr)))
      .select(col("dot"), posexplode(col("emb")).as(Seq("pos0", "val")))
      .groupBy((col("pos0") + 1).cast("long").as("pos"))
      .agg(round(sum(col("dot") * col("val")), 2).as("w"))
      .transform(ps(col("pos")))
  }

  /** Zipf rank-bucket profile of the corpus token distribution: tokens
    * ranked globally by (frequency desc, token) via the two-phase bucket
    * ranker (never a SinglePartition window), then folded into power-of-2
    * rank buckets — the log-log frequency curve as exact integers. The
    * bucket is an integer CASE chain (2^b ≤ rank), no float log2 to flip
    * a boundary; the corpus total rides a 1-row broadcast. ≤ 41 output
    * rows at any scale. */
  def qZipfProfile(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .select(explode(graft.functions.Shingles.shingles(
        Ops.normalizeText(col("text")), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .withColumn("neg_c", -col("c"))
    val ranked = Ops.runningSums(cnt, Nil, Seq("neg_c", "token"), "rank" -> lit(1L))
    val bucket = (0 to 40).foldLeft(lit(-1L)) { (acc, b) =>
      when(col("rank") >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    val total = cnt.agg(sum(col("c")).as("total"))
    ranked.select(bucket.as("rank_bucket"), col("c"))
      .groupBy("rank_bucket")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("freq"))
      .crossJoin(broadcast(total))
      .select(col("rank_bucket"), col("n_tokens"), col("freq"),
        expr(ppmDiv("freq", "total")).as("freq_ppm"))
      .transform(ps(col("rank_bucket")))
  }

  /** Order-independent table checksum per month — the replica-validation /
    * migration-audit primitive: each row canonicalized to a typed string
    * (integers, cents, ISO dates — no float formatting to diverge between
    * engines), md5'd, the first 15 hex chars (60 bits, always positive in
    * a long) XOR-folded per group. XOR is commutative, associative and
    * overflow-free, so the aggregate is map-side combinable and identical
    * under any row order or partitioning — two tables match iff (count,
    * checksum) match per partition-month. */
  def qTableChecksum(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        expr("CAST(conv(substr(md5(concat_ws('|', o_orderkey, o_custkey, " +
          "o_orderstatus, CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
          "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
      .orderBy(col("ym"))

  /** Triangle participation in the co-purchase graph: parts ranked by how
    * many co-purchase triangles (3 parts pairwise co-ordered ≥ 2 times)
    * they close. Execution is the degree-ordered orientation algorithm:
    * every edge points from its lower-(degree, id) endpoint, bounding
    * out-degree by O(√m) — so the wedge self-join is Σ outdeg² ≈ m^1.5
    * worst-case instead of the naive hub-degree square, and each triangle
    * is enumerated exactly once. The oracle states the naive canonical
    * a<b<c triple join; both must produce the identical top-20. */
  def qTriangleCount(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    coPurchaseTriangles(e, deg)
      .select(explode(array(col("w"), col("u"), col("v"))).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("l_partkey"))
      .limit(20)
  }

  /** The (order, part) lineitem rows the co-purchase graph is built from;
    * the resumable graph loops fingerprint these same rows. */
  private[graft] def coPurchaseRows(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))

  /** The co-purchase graph shared by the graph-analytics queries: an edge
    * joins two parts that co-occur in ≥2 orders (canonical pa < pb), plus
    * the per-node degree table `(n, d)`. */
  private[graft] def coPurchaseGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Graph.coOccurrence(coPurchaseRows(s, d), "l_orderkey", "l_partkey", 2)
      .select("pa", "pb")
    (e, Graph.degrees(e, "pa", "pb"))
  }

  /** Triangle enumeration via degree-ordered orientation (each edge points
    * low→high degree, so out-degree is O(√m) and the wedge join is
    * skew-proof); emits each triangle once as (w, u, v). The wedge side is
    * equi-joined back to the edge set — never a cartesian. `deg` is `e`'s
    * degree table, as [[coPurchaseGraph]] returns it. */
  private[graft] def coPurchaseTriangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = e
      .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
          .otherwise(col("pb")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
          .otherwise(col("pa")).as("dst"))
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.src") === col("y.src") &&
        col("x.dst") < col("y.dst"))
      .select(col("x.src").as("w"), col("x.dst").as("u"), col("y.dst").as("v"))
    wedges.join(e,
      col("pa") === least(col("u"), col("v")) &&
        col("pb") === greatest(col("u"), col("v")))
      .select(col("w"), col("u"), col("v"))
  }

  /** Simpson concentration of the per-source token distribution —
    * `λ_ppm = ⌊Σc² · 10⁶ / T²⌋` plus the inverse-Simpson effective type
    * count `⌊T² / Σc²⌋` (the "how many equally-common tokens would look
    * like this corpus" diversity number behind mixture design). All
    * integer-exact: the ppm divides by T twice (nested floor division is
    * exact), with the first step the overflow-safe two-step lift. Exact
    * headroom: per-source `Σc² ≤ 9.2·10¹⁷` (worst case T ≈ 9.6·10⁸ tokens
    * in one source if a single token dominates) and `T ≤ 3·10⁹` for the
    * `T²` numerator — beyond that, shard sources into subgroups and
    * combine. Token counts aggregate map-side twice (token, then source);
    * output is the bounded source list. */
  def qSimpsonDiversity(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("t_tok"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("t_tok"), col("n_types"), col("sum_c2"),
        expr("(" + scaledDiv("sum_c2", "t_tok", 10L, 100000L) + ") div t_tok")
          .as("simpson_ppm"),
        expr("(t_tok * t_tok) div sum_c2").as("eff_types"))
      .transform(ps(col("source")))
  }

  /** Per-source type-token-ratio profile: each document's TTR
    * (`distinct tokens · 10⁶ div tokens` — the classic lexical-diversity
    * quality signal), aggregated to min/max/mean per source. Both
    * aggregation levels are map-side combinable; the per-doc distinct is
    * a (doc, token) pre-aggregate, never a `collect_set`. Empty documents
    * carry no tokens and drop out (same contract as every TP_TOK oracle). */
  def qTtrProfile(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"))
      .select(col("source"),
        expr("(n_types * 1000000) div n_tok").as("ttr_ppm"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("ttr_ppm")).as("min_ttr_ppm"),
        max(col("ttr_ppm")).as("max_ttr_ppm"),
        expr("CAST(sum(ttr_ppm) AS BIGINT) div count(1)").as("avg_ttr_ppm"))
      .transform(ps(col("source")))
  }

  /** Small-quantity revenue loss per brand (TPC-H Q17 shape): for every
    * brand, the cent revenue of lineitems whose quantity is below 20% of
    * that part's average order quantity. The correlated `avg` is exact
    * integer arithmetic — `qty < 0.2·(sum/cnt)` ⟺ `5·qty·cnt < sum` (the
    * fixture quantities are integral) — so no float comparison can flip a
    * row. One shuffle builds the per-part (cnt, sum) aggregate; the fact
    * re-join lands on the same `l_partkey` hash partitioning (no second
    * fact shuffle); the part dimension broadcasts for the brand label.
    * Output is the bounded 25-brand table. */
  def qSmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("price_c"))
    val perPart = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
    li.join(perPart, Seq("l_partkey"))
      .where(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"), sum(col("price_c")).as("loss_c"))
      .transform(ps(col("p_brand")))
  }

  /** Top supplier(s) by quarterly revenue (TPC-H Q15 shape): exact
    * cent-percent revenue per supplier over 1998Q1 shipments, returning
    * every supplier tied at the maximum (the view + HAVING max semantics
    * of the original). The global max is a 1-row aggregate broadcast back
    * onto the bounded per-supplier table — no global sort, no window over
    * an unpartitioned frame; the supplier dimension broadcasts. */
  def qTopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .where(col("l_shipdate").cast("date") >= lit("1998-01-01").cast("date") &&
        col("l_shipdate").cast("date") < lit("1998-04-01").cast("date"))
      .select(col("l_suppkey"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100, 0) AS BIGINT)"))).as("rev"))
      .groupBy("l_suppkey")
      .agg(sum(col("rev")).as("revenue_cp"))
    val top = rev.agg(max(col("revenue_cp")).as("max_cp"))
    rev.crossJoin(broadcast(top))
      .where(col("revenue_cp") === col("max_cp"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cp"))
      .orderBy(col("s_suppkey"))
  }

  /** Large-volume orders (TPC-H Q18 shape): orders whose total lineitem
    * quantity exceeds 280 units, with their customer and exact cent value.
    * The quantity screen is a map-side-combinable sum + HAVING on the
    * order key (one fact shuffle); only the surviving ~1% of orders join
    * to the orders/customer tables, so the probe side is pre-shrunk
    * before any dimension touch. Quantities are integral longs — the
    * threshold can never flip on accumulation order. */
  def qLargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .where(col("total_qty") > 280L)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("total_cents"),
        col("total_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
  }

  /** Source-vocabulary overlap matrix: pairwise Jaccard (ppm) of the
    * distinct-token sets of every source pair — the corpus-comparison
    * table behind mixture design. Pairs are generated PER TOKEN from the
    * ≤ |sources| list that contains it (≤ C(20,2) per token — linear in
    * vocab, never |vocab|² ), intersections aggregate map-side, and set
    * sizes broadcast back onto the bounded 190-row pair table. */
  def qVocabOverlap(s: SparkSession, d: String): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n_tok"))
    val inter = st.as("a")
      .join(st.as("b"), col("a.token") === col("b.token") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_tok").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_tok").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"),
        expr("(n_common * 1000000) div (na + nb - n_common)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** One-pass data profiling of the event log: per column, null count and
    * exact distinct cardinality — the schema-quality census a warehouse
    * job emits before load. ONE scan computes every stat (multiple
    * aggregates in a single Aggregate node); `stack` reshapes the 1-row
    * result to the 6-row report, so the profile costs one pass regardless
    * of column count. */
  def qNullProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct"))
    }
    val stackExpr = "stack(" + cols.size + ", " +
      cols.map(c => s"'$c', ${c}__nulls, ${c}__distinct").mkString(", ") +
      ") AS (column_name, n_null, n_distinct)"
    ev.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_null"), col("n_distinct"))
      .orderBy("column_name")
  }

  /** LSH tuning audit — precision of MinHash-band candidate generation:
    * candidate pairs, grouped by how many of the 4 bands matched, scored
    * for the fraction that is a TRUE near-dup by exact 3-shingle Jaccard
    * ≥ 0.5 (the all-integer test `3·|A∩B| ≥ |A|+|B|`, no float
    * threshold). The table that picks the band count before a 100 TB
    * dedup run. Scale design: a dup-dense corpus makes the candidate set
    * quadratic in cluster size (325 M pairs on the 100× study fixture),
    * and pair-level exact verification is Ω(pairs) in ANY join shape — so
    * the audit runs on a deterministic ~100 k-pair thinning
    * ([[graft.operators.TextOps.lshCandidatePairsSampled]]; the identity
    * below 100 k pairs, so oracle fixtures are verified exactly, with K
    * sized from the band-bucket histogram, never by counting the
    * materialized pair set), BEFORE the signature joins and the shingle
    * expansion pay per-pair cost. */
  def qLshPrecision(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // The signature frame is read five times in this DAG (band pipeline,
    // K-sizing histogram, the a/b estimate sides); a single declarative
    // plan re-derives it per reference STATICALLY, but AQE's runtime
    // stage reuse dedupes the identical exchanges (measured at the 100×
    // study scale: 3.9 GB shuffle written vs 17.7 GB read — each written
    // stage re-read, not recomputed), so no materialization step is
    // needed or wanted (a localCheckpoint of the 325 M-row candidate set
    // was measured strictly worse: ~25 GB of cache serialization, and at
    // MEMORY_AND_DISK it starves the execution pool that builds it).
    // r17: the r16 claim above held at the 100× study scale, but the final
    // plan at sf0.1 carries 298 Exchanges and ZERO ReusedQueryStage nodes
    // (job profile at HEAD: 20 jobs / 54 stages / 56 tasks, wall dominated
    // by stage-chain latency, not compute). Materialize the two frames
    // that are BOUNDED by construction and re-read most: sig (one row per
    // doc — the pagerank-ranks compact-frame rule) and est (≤ the 100 k
    // pair budget by design). The candidate set stays declarative — the
    // r16 measurement against materializing IT stands.
    val sig = Checkpoints.truncate(
      TextOps.minhashSignatureMd5(docs, "doc_id", "text", 3, 4))
    val pairs = TextOps.lshCandidatePairsSampled(sig, "doc_id", 4,
      TextOps.DefaultPairBudget)
    val est = Checkpoints.truncate(
      TextOps.estimatedJaccardForPairs(pairs, sig, "doc_id", 4)
        .select("id_a", "id_b", "matches"))
    // The exact-Jaccard audit below only ever reads shingles of docs that
    // appear in a sampled pair, so restrict the corpus BEFORE the shingle
    // explosion: the unrestricted explosion is |corpus| x |doc| rows
    // re-shuffled three times (measured: >77 GB of transient shuffle at
    // 100x sf0.1, killing the run; sample-bounded it is ≤ 2·target docs'
    // shingles). The signature subplan feeding both `est` uses is
    // identical, so ReuseExchange materializes it once.
    val candDocs = est.select(col("id_a").as("doc_id"))
      .union(est.select(col("id_b").as("doc_id"))).distinct()
    val docsC = docs.join(candDocs, Seq("doc_id"), "left_semi")
    // sh is sample-bounded (shingles of ≤ 2·budget docs) and consumed
    // three times below (sz, both inter join legs) — materialize once
    val sh = Checkpoints.truncate(
      TextOps.explodedShingles(docsC, "doc_id", "text", 3).distinct())
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = est.select("id_a", "id_b")
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sza")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("szb")), Seq("id_b"))
      .withColumn("is_true",
        when(col("inter") * 3 >= col("sza") + col("szb"), 1L).otherwise(0L))
      .groupBy("matches")
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
      .select(col("matches"), col("n_pairs"), col("n_true"),
        expr("(n_true * 1000000) div n_pairs").as("precision_ppm"))
      .transform(ps(col("matches")))
  }

  /** Cumulative user-acquisition curve: per day, first-seen ("new") users
    * and the running total of distinct users ever seen — growth reporting.
    * First-seen collapses the event log to |users| rows (map-side-combined
    * min), the daily aggregate is calendar-bounded, and the running sum's
    * window is over ≤ |days| rows. */
  def qUserGrowth(s: SparkSession, d: String): DataFrame = {
    val firstDay = Tables.events(s, d)
      .groupBy("user_id").agg(min(col("ts").cast("date")).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy("day")
  }

  /** LSH recall audit (the complement of [[qLshPrecision]]): the fraction
    * of TRUE near-dup pairs (exact integer 3-shingle Jaccard ≥ 0.5, via
    * df-capped [2,1000] posting lists — bounded expansion, never an
    * all-pairs join) that the 4-band MinHash candidate generation
    * captures — estimated over a deterministic ~100 k sample of the
    * true-pair universe once it outgrows that budget (identity below it;
    * see the in-body comment). One summary row; together with the
    * precision table this is the band-count tuning loop a dedup pipeline
    * runs (at 100 TB, on a corpus sample) before committing the full
    * pass. */
  def qLshRecall(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // r17: a Checkpoints.truncate of sh (consumed 3×) was tried and
    // measured WORSE here (min-of-4 DevTime 1.90 s → 2.49 s at sf0.1) —
    // unlike q_lsh_precision, this plan pipelines its three consumers
    // efficiently; the materialization barrier only added wall. Reverted.
    val sh = TextOps.explodedShingles(docs, "doc_id", "text", 3).distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dft = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 1000))
    // Same sample-bounded audit design as [[qLshPrecision]], on the
    // TRUE-pair universe: its enumeration is Σ C(df,2) over the capped
    // shingle-df histogram — quadratic in dup-cluster size — so BOTH
    // sides of the recall join are thinned by the shared keep-one-in-K
    // pair rule (TextOps.pairSampleKeep; K from the df histogram via
    // TextOps.pairBudgetK, a metadata-scale aggregate; identity below
    // the 100 k budget so small fixtures audit the exact full set).
    // Because the rule is a pure function of the PAIR ids, thinning
    // commutes with the per-pair intersection count (every occurrence of
    // a kept pair is kept), and applying it BEFORE the pair aggregation
    // keeps the quadratic expansion inside one codegen stage — generated,
    // filtered, never shuffled. Recall over a uniform pair sample is an
    // unbiased estimate of full-set recall.
    val kT = TextOps.pairBudgetK(dft, "df", TextOps.DefaultPairBudget)
    def keepSampled(pairs: DataFrame): DataFrame =
      TextOps.pairSampleKeep(pairs, kT)
    val inter = keepSampled(
      sh.join(dft.select("shingle"), Seq("shingle"))
        .groupBy("shingle").agg(collect_list(col("doc_id")).as("ids"))
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .where(col("id_a") < col("id_b")))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val truePairs = inter
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sza")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("szb")), Seq("id_b"))
      .where(col("inter") * 3 >= col("sza") + col("szb"))
      .select("id_a", "id_b")
    val sig = TextOps.minhashSignatureMd5(docs, "doc_id", "text", 3, 4)
    val cand = keepSampled(TextOps.lshCandidatePairs(sig, "doc_id", 4))
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    truePairs.join(cand, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_captured"))
      .select(col("n_true"), col("n_captured"),
        expr("CASE WHEN n_true = 0 THEN 0 ELSE (n_captured * 1000000) div n_true END")
          .as("recall_ppm"))
  }

  /** Customer order-cadence percentiles: per market segment, the p25/p50/
    * p90 of days between a customer's consecutive orders — the
    * inter-arrival profile behind replenishment forecasting. The lag
    * window is customer-partitioned; gaps are exact integer days; the
    * percentile is the same exact distributed interpolation q_percentiles
    * pins, rounded for presentation. */
  def qOrderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"))
      .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(w)).cast("long"))
      .where(col("gap").isNotNull)
    // plain equi-join: customer is a large dim at warehouse scale — AQE
    // broadcasts it at fixture scale, shuffles it when it outgrows the
    // threshold
    gaps.join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap, 0.25)"), 2).as("p25"),
        round(expr("percentile(gap, 0.5)"), 2).as("p50"),
        round(expr("percentile(gap, 0.9)"), 2).as("p90"))
      .transform(ps(col("c_mktsegment")))
  }

  /** Dedup candidate-graph health: the degree distribution of the LSH
    * candidate-pair graph (how many candidate partners each doc has, then
    * how many docs have each degree). A skewed tail here is the early
    * warning that a band is degenerating toward quadratic buckets. Two
    * bounded aggregates over the capped pair table. */
  def qDupDegree(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
    val cand = TextOps.lshCandidatePairs(sig, "doc_id", 4)
    cand.select(col("id_a").as("doc_id"))
      .unionAll(cand.select(col("id_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .transform(ps(col("degree")))
  }

  /** Corpus length profile: per language, power-of-2 token-length buckets
    * (the largest b ≤ 11 with 2^b ≤ n) with doc counts and total tokens —
    * the length histogram a context-window/packing decision reads. The
    * log2 bucket is an integer comparison chain, not `floor(ln n / ln 2)`,
    * so no float can misbucket a boundary length. One map-side-combinable
    * aggregate, ≤ |langs|·12 output rows. */
  def qLenProfile(s: SparkSession, d: String): DataFrame = {
    val n = size(filter(split(Ops.normalizeText(col("text")), " "), t => t =!= ""))
      .cast("long")
    // integer-exact log2 bucket: the largest b with 2^b <= n (n >= 1)
    val bucket = (0 to 11).foldLeft(lit(-1L)) { (acc, b) =>
      when(n >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("lang"), n.as("n_tokens"), bucket.as("len_bucket"))
      .where(col("n_tokens") > 0)
      .groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .transform(ps(col("lang"), col("len_bucket")))
  }

  /** Categorical drift between month halves: per event type, the two
    * periods' counts and the cross-scaled mix gap, plus the total
    * variation distance `TVD = Σ|p1 − p2| / 2` as the integer-exact
    * `(Σ|c1·n2 − c2·n1| · 10⁶) div (2·n1·n2)` ppm carried on every row —
    * the categorical companion to q_ks_drift's numeric ECDF test. One
    * bounded (≤ |types|) aggregate; the totals ride a 1-row broadcast. */
  def qTvdDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L).as("h1"))
    val cnt = ev.groupBy("event_type")
      .agg(sum(col("h1")).as("c1"), sum(lit(1L) - col("h1")).as("c2"))
    cnt.crossJoin(broadcast(cnt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))))
      .withColumn("gap", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      .withColumn("gap_sum", expr("sum(gap) OVER ()"))
      .withColumn("tvd_ppm", expr(ppmDiv("gap_sum", "nullif(2 * n1 * n2, 0)")))
      .select(col("event_type"), col("c1"), col("c2"), col("gap"), col("tvd_ppm"))
      .transform(ps(col("event_type")))
  }

  /** Debounce dedup census: events collapsed to the FIRST per (user, type,
    * 5-minute epoch window) — the batch twin of the streaming
    * dropDuplicatesWithinWatermark path, as an oracle-checkable kept/
    * dropped census per type. The first-wins window is (user, type,
    * window)-partitioned; the epoch bucket is integer `floor(epoch) div
    * 300`, identical in both engines. */
  def qWindowDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), col("wb"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        expr("unix_timestamp(ts) div 300").as("wb"))
      .withColumn("rn", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .select(col("event_type"), col("n_events"), col("n_kept"),
        expr("((n_events - n_kept) * 1000) div n_events").as("drop_permille"))
      .transform(ps(col("event_type")))
  }

  /** Revenue concentration (Pareto point): the smallest top-customer
    * prefix holding ≥ 80% of order revenue — reported as customer count,
    * its corpus share, and the revenue share actually reached. ONE
    * [[graft.operators.Ops.runningSums]] pass in revenue-descending order
    * carries both the rank (a running count) and the inclusive cumulative
    * revenue — no single-task window touches the |customers|-sized frame;
    * the 80% cut is the integer test `5·cum ≥ 4·total`. */
  def qPareto(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
    val ranked = Ops.runningSums(cust.withColumn("neg", -col("cents")), Nil,
        Seq("neg", "o_custkey"), "rank" -> lit(1L), "cum" -> col("cents"))
    val tot = cust.agg(sum(col("cents")).as("total_cents"),
      count(lit(1)).as("n_customers"))
    ranked.crossJoin(broadcast(tot))
      .where(col("cum") * 5 >= col("total_cents") * 4)
      .orderBy("rank")
      .limit(1)
      .select(col("rank").as("top_customers"), col("n_customers"),
        expr(ppmDiv("cum", "total_cents")).as("share_ppm"),
        expr("(rank * 1000000) div n_customers").as("pct_customers_ppm"))
  }

  /** Document novelty: per doc, the share of its distinct 3-shingles whose
    * FIRST corpus occurrence (min doc_id) is this doc — the
    * contribution-of-new-content metric a curation pass ranks by
    * (near-dups score ≈ 0 against their earlier twin). Two shingle-keyed
    * map-side-combinable aggregates + one join that reuses the shingle
    * hash partitioning; no windows, no pair expansion. */
  def qDocNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 3)
      .distinct()
    val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000) div n_shingles").as("novelty_permille"))
      .orderBy("doc_id")
  }

  /** Traffic burstiness per event type: the Fano factor (variance/mean) of
    * events-per-hour, from integer power sums over the bounded
    * (type × hour) grid — `((n·Σx² − (Σx)²) · 10⁶) div (n · Σx)` with
    * population variance, all-long arithmetic (x = hourly count ≤ total
    * events; sums over ≤ 24·31 buckets). ≫ 10⁶ means bursty, ≈ 10⁶
    * Poisson-like, ≪ 10⁶ regular — the traffic-shape classifier.
    * HEADROOM: exact while `n_hours·Σx²·10⁶` fits a long — hourly counts
    * to ~10⁶, i.e. billions of events per type-month. */
  def qBurstiness(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("n_events"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        expr("((n_hours * sxx - n_events * n_events) * 1000000) div (n_hours * n_events)")
          .as("fano_ppm"))
      .transform(ps(col("event_type")))
  }

  /** Equi-height histogram boundaries for the optimizer-stats use case
    * (ANALYZE TABLE): the 8 exact order-statistic bucket upper bounds of
    * lineitem price cents, each the `⌈i·n/8⌉`-th smallest value via
    * [[graft.operators.Ops.runningSums]] — integer ranks, no
    * interpolation, no single-task window over the fact table; the 8
    * boundary ranks are selected with a broadcast join against a
    * range(1..8)-built frame. */
  def qEquiHeight(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d)
      .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
    val n = cents.count()
    val ranked = Ops.runningSums(cents, Nil, Seq("c"), "rank" -> lit(1L))
    val targets = s.range(1, 9)
      .select(col("id").as("bucket"), expr(s"(id * $n + 7) div 8").as("target"))
    ranked.join(broadcast(targets), col("rank") === col("target"))
      .groupBy("bucket")
      .agg(min(col("c")).as("upper_cents"), min(col("target")).as("rank_at"))
      .transform(ps(col("bucket")))
  }

  /** Funnel conversion latency: among users completing the
    * view→click→purchase funnel ([[graft.operators.EventAnalytics
    * .funnelStages]] — ONE actor-keyed shuffle), the p25/p50/p90 of
    * view-to-purchase seconds. Latencies are exact integer seconds
    * (epoch-floor subtraction); the percentile is the pinned exact
    * distributed interpolation, rounded for presentation. */
  def qConversionTime(s: SparkSession, d: String): DataFrame =
    EventAnalytics.funnelStages(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id", Seq("view", "click", "purchase"))
      .where(col("t3").isNotNull)
      .select((unix_timestamp(col("t3")) - unix_timestamp(col("t1"))).as("secs"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(secs, 0.25)"), 2).as("p25"),
        round(expr("percentile(secs, 0.5)"), 2).as("p50"),
        round(expr("percentile(secs, 0.9)"), 2).as("p90"))

  /** Clamped-at-zero running balance (inventory / credit-ledger / queue
    * semantics) in ONE window pass. The Lindley recurrence
    * `B_n = max(0, B_{n-1} + x_n)` looks inherently sequential, but has
    * the closed form `B_n = P_n − min(0, min_{k≤n} P_k)` over prefix sums
    * `P` — so the stateful fold becomes two window aggregates (running
    * sum + running min of that sum) over the SAME (user, ts) sort: one
    * exchange, one sort, no mapGroups state, growing frames only (never
    * the O(rows²) UnboundedFollowing re-scan). Deltas are signed integer
    * cents (credits for signup/purchase, debits otherwise) — exact at any
    * scale; per-user partitions keep the window distributed. */
  def qClampedBalance(s: SparkSession, d: String): DataFrame =
    Ops.clampedRunningBalance(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            expr("CASE WHEN event_type IN ('signup', 'purchase') " +
              "THEN CAST(round(value * 100, 0) AS BIGINT) " +
              "ELSE -CAST(round(value * 100, 0) AS BIGINT) END").as("delta")),
        "user_id", Seq(col("ts"), col("event_id")), "delta", "balance")
      .select(col("user_id"), col("event_id"), col("delta"), col("balance"))
      .orderBy("user_id", "event_id")

  /** EWMA (α = ½) per user as an 8-tap FIR filter: the IIR recurrence is
    * truncated at 8 lags so the smoother becomes a STATELESS window
    * expression — 8 `lag()` taps sharing one window sort, with
    * power-of-two weights 2⁷‥2⁰ keeping everything integer-exact (Q8
    * fixed point: ewma ≈ ewma_q8 / 2⁸; truncation error ≤ 2⁻⁸ of the
    * oldest mass). One exchange + one sort per user partition; headroom
    * cents·2⁷·8 ≈ 10¹² per row even at 100 TB event volumes. */
  def qEwmaDecay(s: SparkSession, d: String): DataFrame =
    Ops.firEwma(
        Tables.events(s, d)
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "user_id", Seq(col("ts"), col("event_id")), "cents", 8, "ewma_q8")
      .select(col("user_id"), col("event_id"), col("cents"), col("ewma_q8"))
      .orderBy("user_id", "event_id")

  /** Trailing-7-day rolling correlation between daily revenue (whole
    * dollars) and daily order count per priority. The five moment sums
    * (Σx, Σy, Σx², Σxy, Σy²) are exact BIGINTs over a 7-ROW frame —
    * bounded frames re-scan ≤ 7 rows per output, one exchange + sort per
    * priority — and the single r² division happens once at the very end
    * in doubles with the identical expression shape in both engines
    * (signed by the covariance, rounded to 6; zero-variance frames →
    * NULL). Headroom: dollars/day ≤ 3·10⁹ keeps 7·x² < 2⁶³ — past that,
    * de-scale the unit, not the algorithm. */
  def qRollingCorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice, 0) AS BIGINT)")).as("x"),
        count(lit(1)).as("y"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    // all six frame aggregates in ONE select — interleaving them through
    // withColumn inserts Projects that defeat CollapseWindow and plan six
    // stacked Window nodes instead of one
    daily
      .select(col("o_orderpriority"), col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("y") * col("y")).over(w).as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("d2", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("o_orderpriority"), col("day"), col("n"),
        col("num"), col("d1"), col("d2"),
        expr("CASE WHEN d1 = 0 OR d2 = 0 THEN NULL " +
          "WHEN num < 0 THEN -round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) / " +
          "(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) " +
          "ELSE round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) / " +
          "(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) END").as("signed_r2"))
      .orderBy("o_orderpriority", "day")
  }

  /** One PageRank superstep over the ≥2-co-ordered part graph (damping
    * 0.85, unnormalized start rank 10⁶ per node): `rank' = 150000 +
    * (85·Σ_{u→v} (10⁶ div deg_u)) div 100`, all deterministic integer
    * truncation. Execution is the standard relational PageRank step —
    * symmetric edge expansion, one degree aggregate joined back, one
    * contribution shuffle keyed by destination — with top-20 via
    * TakeOrdered (ties broken by part key). Iterating at scale = looping
    * this plan with localCheckpoint between supersteps, exactly the
    * [[graft.operators.TextOps.minHashDedupMap]] connected-components
    * discipline. Headroom: 85·Σcontrib ≤ 85·deg·10⁶ < 2⁶³ up to 10¹¹
    * neighbors per node. */
  def qPagerankStep(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    Graph.symmetric(e, "pa", "pb").join(deg.withColumnRenamed("n", "src"), Seq("src"))
      .select(col("dst"), expr("1000000 div d").as("contrib"))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("sc"))
      .select(col("dst").as("l_partkey"),
        (lit(150000L) + expr("(85 * sc) div 100")).as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("l_partkey")).limit(20)
  }

  /** One synchronous label-propagation superstep over the ≥2-co-ordered
    * part graph, seeded with the part's brand: each node adopts the most
    * frequent neighbor label (ties → lexicographically smallest) — the
    * community-detection LPA step as pure relational ops. The bounded
    * brand dim broadcasts onto the edge stream twice (neighbor label,
    * old label); the vote count is ONE map-side-combinable (dst, label)
    * aggregate and the argmax a dst-partitioned window — no collect, no
    * driver state. Iterating = looping this plan with localCheckpoint,
    * the minhash-CC discipline. */
  def qLabelProp(s: SparkSession, d: String): DataFrame = {
    val sym = Graph.symmetric(coPurchaseGraph(s, d)._1, "pa", "pb")
    val lbl = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val votes = sym
      .join(broadcast(lbl.select(col("p_partkey").as("src"),
        col("p_brand").as("nlabel"))), Seq("src"))
      .groupBy(col("dst"), col("nlabel")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(broadcast(lbl.select(col("p_partkey").as("dst"),
        col("p_brand").as("old_label"))), Seq("dst"))
      .select(col("dst").as("l_partkey"), col("old_label"),
        col("nlabel").as("new_label"), col("votes"),
        when(col("old_label") === col("nlabel"), 0L).otherwise(1L).as("changed"))
      .orderBy("l_partkey")
  }

  /** Search-index build: the top-5 posting entries per token ranked by
    * (tf desc, doc_id), with the full posting length carried alongside —
    * the inverted-index materialization step of a retrieval pipeline.
    * Two shuffles total: the (doc, token) tf aggregate (map-side
    * combinable) and the token-keyed ranking window; posting length is a
    * second window aggregate over the SAME token partitioning (stacked
    * on one exchange + sort). Token keys are high-cardinality, so the
    * window parallelizes; output is ≤ 5·|vocab| rows at any corpus
    * scale. */
  def qInvertedIndex(s: SparkSession, d: String): DataFrame = {
    val tf = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .groupBy(col("shingle").as("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val wRank = Window.partitionBy(col("token"))
      .orderBy(col("tf").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("token"))
    tf.select(col("token"), col("doc_id"), col("tf"),
        row_number().over(wRank).cast("long").as("pos"),
        count(lit(1)).over(wAll).as("posting_len"))
      .where(col("pos") <= 5)
      .orderBy("token", "pos")
  }

  private[graft] val registryPrep: Map[String, Q] = Map(
    "q_vocab_build" -> (qVocabBuild _),
    "q_dataset_mixture" -> (qDatasetMixture _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_chunk_windows" -> (qChunkWindows _),
    "q_train_split" -> (qTrainSplit _),
    "q_leakage_split" -> (qLeakageSplit _),
    "q_rarity_score" -> (qRarityScore _),
    "q_pmi_topk" -> (qPmiTopk _),
    "q_global_rank" -> (qGlobalRank _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_regr_trend" -> (qRegrTrend _),
    "q_next_token" -> (qNextToken _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_dedup_audit" -> (qDedupAudit _),
    "q_langid_confusion" -> (qLangidConfusion _),
    "q_cluster_sizes" -> (qClusterSizes _),
    "q_padding_waste" -> (qPaddingWaste _),
    "q_ks_drift" -> (qKsDrift _),
    "q_winsorize" -> (qWinsorize _),
    "q_source_terms" -> (qSourceTerms _),
    "q_token_gini" -> (qTokenGini _),
    "q_trigram_paths" -> (qTrigramPaths _),
    "q_stickiness" -> (qStickiness _),
    "q_rfm_cells" -> (qRfmCells _),
    "q_ship_priority" -> (qShipPriority _),
    "q_market_share" -> (qMarketShare _),
    "q_part_affinity" -> (qPartAffinity _),
    "q_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q_simpson_diversity" -> (qSimpsonDiversity _),
    "q_table_checksum" -> (qTableChecksum _),
    "q_power_iteration" -> (qPowerIteration _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_changepoint" -> (qChangepoint _),
    "q_auc_per_class" -> (qAucPerClass _),
    "q_calibration_bins" -> (qCalibrationBins _),
    "q_seasonal_anomaly" -> (qSeasonalAnomaly _),
    "q_reagg_audit" -> (qReaggAudit _),
    "q_zipf_profile" -> (qZipfProfile _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_ttr_profile" -> (qTtrProfile _),
    "q_top_supplier" -> (qTopSupplier _),
    "q_large_orders" -> (qLargeOrders _),
    "q_vocab_overlap" -> (qVocabOverlap _),
    "q_null_profile" -> (qNullProfile _),
    "q_lsh_precision" -> (qLshPrecision _),
    "q_user_growth" -> (qUserGrowth _),
    "q_lsh_recall" -> (qLshRecall _),
    "q_order_gaps" -> (qOrderGaps _),
    "q_dup_degree" -> (qDupDegree _),
    "q_len_profile" -> (qLenProfile _),
    "q_tvd_drift" -> (qTvdDrift _),
    "q_doc_novelty" -> (qDocNovelty _),
    "q_burstiness" -> (qBurstiness _),
    "q_equi_height" -> (qEquiHeight _),
    "q_conversion_time" -> (qConversionTime _),
    "q_window_dedup" -> (qWindowDedup _),
    "q_pareto" -> (qPareto _),
    "q_clamped_balance" -> (qClampedBalance _),
    "q_ewma_decay" -> (qEwmaDecay _),
    "q_rolling_corr" -> (qRollingCorr _),
    "q_pagerank_step" -> (qPagerankStep _),
    "q_label_prop" -> (qLabelProp _),
    "q_inverted_index" -> (qInvertedIndex _),
  )

  private[graft] val oraclesPrep: Map[String, String] = Map(
    "q_leakage_split" ->
      (SIG_CTE +
        ", melted AS MATERIALIZED (" +
        (1 to 4).map(i => s"SELECT doc_id, $i AS band_idx, mh$i AS band_val FROM sig")
          .mkString(" UNION ALL ") +
        "), l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS c FROM (SELECT DISTINCT doc_id FROM melted))" +
        (1 to LeakageSplitCap).map { i =>
          val p = i - 1
          s", r$i AS MATERIALIZED (SELECT m.band_idx, m.band_val, min(l.c) AS rep " +
            s"FROM melted m JOIN l$p l ON m.doc_id = l.id GROUP BY 1, 2)" +
            s", h$i AS MATERIALIZED (SELECT m.doc_id AS id, min(r.rep) AS c " +
            s"FROM melted m JOIN r$i r ON m.band_idx = r.band_idx AND m.band_val = r.band_val GROUP BY 1)" +
            s", l$i AS MATERIALIZED (SELECT a.id, b.c FROM h$i a JOIN h$i b ON a.c = b.id)"
        }.mkString + " " +
        s"SELECT id AS doc_id, c AS canonical_id, " +
        "CASE WHEN ((c % 2147483648) * 2654435761) % 4294967296 % 10 < 8 THEN 'train' " +
        "WHEN ((c % 2147483648) * 2654435761) % 4294967296 % 10 = 8 THEN 'val' " +
        s"ELSE 'test' END AS split FROM l$LeakageSplitCap ORDER BY doc_id"),
    "q_vocab_build" ->
      (TP_TOK_CTE +
        ", c AS (SELECT token, count(*) AS n FROM tok GROUP BY token)" +
        ", r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS vocab_id, token, n FROM c) " +
        "SELECT vocab_id, token, n FROM r WHERE vocab_id <= 100 ORDER BY vocab_id"),
    "q_dataset_mixture" ->
      ("SELECT doc_id, source, lang FROM documents " +
        "WHERE ((((doc_id % 2147483648) + 7) * 2654435761) % 4294967296) % 1000 < " +
        "(CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500 WHEN 'src2' THEN 500 ELSE 200 END) " +
        "ORDER BY doc_id"),
    "q_pack_sequences" ->
      ("""WITH t AS (SELECT doc_id, len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS n_tokens FROM documents)""" +
        ", p AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM t) " +
        "SELECT doc_id, n_tokens, start_offset, start_offset // 256 AS pack_id, " +
        "start_offset % 256 AS pack_offset FROM p ORDER BY doc_id"),
    "q_chunk_windows" ->
      (NORM_CTE +
        ", tk AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS toks FROM norm)" +
        ", nn AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tk WHERE len(toks) > 0)" +
        ", st AS (SELECT doc_id, toks, n, unnest(range(0, n, 4)) AS start FROM nn) " +
        "SELECT doc_id, start // 4 AS chunk_id, start, least(8, n - start) AS n_tok, " +
        "md5(array_to_string(list_slice(toks, start + 1, start + 8), ' ')) AS chunk_md5 " +
        "FROM st ORDER BY doc_id, chunk_id"),
    "q_train_split" ->
      ("WITH b AS (SELECT lang, n_chars, " +
        "((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 AS bucket FROM documents), " +
        "g AS (SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split, " +
        "lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars FROM b GROUP BY 1, 2) " +
        "SELECT split, lang, n_docs, n_chars, " +
        "CAST((sum(n_docs) OVER (PARTITION BY split) * 1000000) // (count(*) OVER (PARTITION BY split) * n_docs) AS BIGINT) AS weight_ppm " +
        "FROM g ORDER BY split, lang"),
    "q_rarity_score" ->
      (TP_TOK_CTE +
        ", tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)" +
        ", uni AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ct FROM tf GROUP BY token)" +
        ", tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t_tot FROM uni)" +
        ", sc AS (SELECT doc_id, tf, (t_tot * 1000000) // ct AS rar " +
        "FROM tf JOIN uni USING (token) CROSS JOIN tt) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, " +
        "CAST(sum(tf * rar) // sum(tf) AS BIGINT) AS rarity_ppm " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "q_pmi_topk" ->
      (TP_TOK_CTE +
        ", uni AS (SELECT token, count(*) AS c1 FROM tok GROUP BY token)" +
        ", tt AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tot FROM uni)" +
        ", bg AS (SELECT token AS x, lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS y FROM tok)" +
        ", bc AS (SELECT x, y, count(*) AS c12 FROM bg WHERE y IS NOT NULL GROUP BY x, y HAVING count(*) >= 5) " +
        "SELECT x || ' ' || y AS bigram, c12 AS n, u1.c1 AS cx, u2.c1 AS cy, " +
        "(c12 * t_tot * 100000) // (u1.c1 * u2.c1) AS score " +
        "FROM bc JOIN uni u1 ON bc.x = u1.token JOIN uni u2 ON bc.y = u2.token CROSS JOIN tt " +
        "ORDER BY score DESC, bigram LIMIT 20"),
    "q_global_rank" ->
      ("SELECT doc_id, n_chars, CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank " +
        "FROM documents ORDER BY rank"),
    "q_mad_outliers" ->
      ("WITH c AS (SELECT event_id, event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events), " +
        "m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM c GROUP BY event_type), " +
        "d AS (SELECT c.event_id, c.event_type, c.cents, m.med, abs(c.cents - m.med) AS adev " +
        "FROM c JOIN m USING (event_type)), " +
        "md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY event_type) " +
        "SELECT event_id, event_type, cents, adev, med, mad FROM d JOIN md USING (event_type) " +
        "WHERE adev > 3 * mad ORDER BY event_id"),
    "q_regr_trend" ->
      ("WITH xy AS (SELECT event_type, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x, " +
        "CAST(round(value * 100, 0) AS BIGINT) AS y FROM events), " +
        "s AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM xy GROUP BY event_type) " +
        "SELECT event_type, n, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope, " +
        "round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept " +
        "FROM s ORDER BY event_type"),
    "q_next_token" ->
      (TP_TOK_CTE +
        ", uni AS (SELECT token AS context, count(*) AS cx FROM tok GROUP BY token HAVING count(*) >= 10)" +
        ", bg AS (SELECT token AS context, lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS y FROM tok)" +
        ", bc AS (SELECT context, y, count(*) AS cxy FROM bg WHERE y IS NOT NULL GROUP BY context, y)" +
        ", r AS (SELECT bc.context, y, cxy, cx, row_number() OVER " +
        "(PARTITION BY bc.context ORDER BY cxy DESC, y) AS rn FROM bc JOIN uni USING (context)) " +
        "SELECT context, y AS next_tok, cxy AS n, " + ppmDivSql("cxy", "cx") + " AS cond_ppm " +
        "FROM r WHERE rn = 1 ORDER BY context"),
    "q_vocab_coverage" ->
      (TP_TOK_CTE +
        ", uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token)" +
        ", tt AS (SELECT CAST(sum(c) AS BIGINT) AS t_tot FROM uni)" +
        ", r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rn FROM uni)" +
        ", ks AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k) " +
        "SELECT k, n_vocab, covered, " + ppmDivSql("covered", "t_tot") + " AS share_ppm " +
        "FROM (SELECT k, count(*) AS n_vocab, CAST(sum(c) AS BIGINT) AS covered, t_tot " +
        "FROM ks JOIN r ON r.rn <= ks.k CROSS JOIN tt GROUP BY k, t_tot) g ORDER BY k"),
    "q_dedup_audit" ->
      ("""WITH fp AS (SELECT doc_id, source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f FROM documents), """ +
        "d AS (SELECT source, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY f) THEN 0 ELSE 1 END AS is_dup FROM fp) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dups, " +
        "(CAST(sum(is_dup) AS BIGINT) * 1000) // count(*) AS dup_permille " +
        "FROM d GROUP BY source ORDER BY source"),
    "q_langid_confusion" ->
      (NORM_CTE +
        ", h AS (SELECT lang, t, string_split(t, ' ') AS toks FROM norm)" +
        ", c AS (SELECT lang, t, " +
        "len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS en, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de, " +
        "len(list_filter(toks, x -> x IN ('el','la','los','las','es','y'))) AS es, " +
        "len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr FROM h)" +
        ", p AS (SELECT lang, CASE " +
        "WHEN regexp_matches(t, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
        "WHEN de >= greatest(en, es, fr) AND de > 0 THEN 'de' " +
        "WHEN es >= greatest(en, fr) AND es > 0 THEN 'es' " +
        "WHEN fr >= en AND fr > 0 THEN 'fr' " +
        "ELSE 'en' END AS lang_pred FROM c) " +
        "SELECT lang, lang_pred, count(*) AS n FROM p " +
        "GROUP BY lang, lang_pred ORDER BY lang, lang_pred"),
    "q_cluster_sizes" ->
      (SIG_CTE +
        ", melted AS (" +
        (1 to 4).map(i => s"SELECT doc_id, $i AS band_idx, mh$i AS band_val FROM sig")
          .mkString(" UNION ALL ") +
        "), reps AS (SELECT band_idx, band_val, min(doc_id) AS rep FROM melted GROUP BY band_idx, band_val)" +
        ", map AS (SELECT m.doc_id, min(r.rep) AS canonical_id FROM melted m " +
        "JOIN reps r ON m.band_idx = r.band_idx AND m.band_val = r.band_val GROUP BY m.doc_id)" +
        ", cs AS (SELECT canonical_id, count(*) AS cluster_size FROM map GROUP BY canonical_id) " +
        "SELECT cluster_size, count(*) AS n_clusters, CAST(cluster_size * count(*) AS BIGINT) AS n_docs " +
        "FROM cs GROUP BY cluster_size ORDER BY cluster_size"),
    "q_padding_waste" ->
      ("""WITH nr AS (SELECT source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents), """ +
        "tk AS (SELECT source, CAST(len(list_filter(string_split(t, ' '), x -> x <> '')) AS BIGINT) AS n FROM nr), " +
        "p AS (SELECT source, n, ((n + 255) // 256) * 256 AS padded FROM tk) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS real_tokens, " +
        "CAST(sum(padded) AS BIGINT) AS padded_tokens, " +
        "((CAST(sum(padded) AS BIGINT) - CAST(sum(n) AS BIGINT)) * 1000) // CAST(sum(padded) AS BIGINT) AS waste_permille " +
        "FROM p GROUP BY source ORDER BY source"),
    "q_ks_drift" ->
      ("""WITH tk AS (SELECT source, CAST(len(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), x -> x <> '')) AS BIGINT) AS v """ +
        "FROM documents WHERE source IN ('src0', 'src1')), " +
        "cnt AS (SELECT v, CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c0, " +
        "CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c1 FROM tk GROUP BY v), " +
        "cum AS (SELECT v, CAST(sum(c0) OVER (ORDER BY v) AS BIGINT) AS cum0, " +
        "CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS cum1, " +
        "CAST(sum(c0) OVER () AS BIGINT) AS n0, CAST(sum(c1) OVER () AS BIGINT) AS n1 FROM cnt), " +
        "g AS (SELECT v, n0, n1, abs(cum0 * n1 - cum1 * n0) AS gap FROM cum) " +
        "SELECT v AS v_at_max, n0, n1, (gap * 1000000) // (n0 * n1) AS d_ppm " +
        "FROM g ORDER BY gap DESC, v LIMIT 1"),
    "q_winsorize" ->
      ("WITH c AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events), " +
        "r AS (SELECT event_type, cents, CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM c), " +
        "b AS (SELECT event_type, min(CASE WHEN rn = (5 * n + 99) // 100 THEN cents END) AS lo, " +
        "min(CASE WHEN rn = (95 * n + 99) // 100 THEN cents END) AS hi FROM r GROUP BY event_type), " +
        "w AS (SELECT c.event_type, lo, hi, least(greatest(cents, lo), hi) AS wc FROM c JOIN b USING (event_type)), " +
        "g AS (SELECT event_type, count(*) AS n, min(lo) AS lo, min(hi) AS hi, " +
        "CAST(sum(wc) AS BIGINT) AS w_sum FROM w GROUP BY event_type) " +
        "SELECT event_type, n, lo, hi, " +
        "CAST(" + roundDivSql("w_sum", "n", 10000L) + " AS DOUBLE) / 10000.0 AS wmean " +
        "FROM g ORDER BY event_type"),
    "q_source_terms" ->
      (TP_TOK_CTE +
        ", tfa AS (SELECT source, token, count(*) AS tf_s FROM tok GROUP BY source, token)" +
        ", st AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS n_s FROM tfa GROUP BY source)" +
        ", tfs AS (SELECT * FROM tfa WHERE tf_s >= 5)" +
        ", corp AS (SELECT token, count(*) AS tf_c FROM tok GROUP BY token)" +
        ", tt AS (SELECT CAST(sum(tf_c) AS BIGINT) AS t_tot FROM corp)" +
        ", sc AS (SELECT tfs.source, tfs.token, tf_s, " +
        scaledDivSql("(tf_s * t_tot)", "(n_s * tf_c)", 100L, 100L) + " AS lift_e4 " +
        "FROM tfs JOIN st USING (source) JOIN corp USING (token) CROSS JOIN tt)" +
        ", r AS (SELECT source, token, tf_s, lift_e4, CAST(row_number() OVER " +
        "(PARTITION BY source ORDER BY lift_e4 DESC, token) AS BIGINT) AS rk FROM sc) " +
        "SELECT source, token, tf_s, lift_e4, rk FROM r WHERE rk <= 5 ORDER BY source, rk"),
    "q_token_gini" ->
      (TP_TOK_CTE +
        ", uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token)" +
        ", r AS (SELECT c, CAST(row_number() OVER (ORDER BY c, token) AS BIGINT) AS rank FROM uni)" +
        ", fin AS (SELECT count(*) AS n_vocab, CAST(sum(c) AS BIGINT) AS total_tokens, " +
        "CAST(sum(rank * c) AS BIGINT) AS s1 FROM r) " +
        "SELECT n_vocab, total_tokens, " +
        ppmDivSql("(2 * s1 - (n_vocab + 1) * total_tokens)", "(n_vocab * total_tokens)") +
        " AS gini_ppm FROM fin"),
    "q_trigram_paths" ->
      ("WITH tr AS (SELECT user_id, event_type AS e1, " +
        "lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT e1, e2, e3, count(*) AS n, count(DISTINCT user_id) AS n_users " +
        "FROM tr WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY e1, e2, e3 " +
        "ORDER BY n DESC, e1, e2, e3 LIMIT 10"),
    "q_stickiness" ->
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day), " +
        "wau AS (SELECT d.day, count(DISTINCT a.user_id) AS wau FROM dau d " +
        "JOIN ud a ON a.day <= d.day AND a.day > d.day - INTERVAL 7 DAY GROUP BY d.day) " +
        "SELECT day, dau, wau, (dau * 1000) // wau AS stickiness_permille " +
        "FROM dau JOIN wau USING (day) ORDER BY day"),
    "q_rfm_cells" ->
      ("WITH u AS (SELECT user_id, " +
        "CAST(date_diff('day', DATE '1990-01-01', max(CAST(ts AS DATE))) AS BIGINT) AS r_days, " +
        "count(*) AS freq, CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events GROUP BY user_id), " +
        "r AS (SELECT cents, " +
        "CAST(row_number() OVER (ORDER BY r_days, user_id) AS BIGINT) AS rk_r, " +
        "CAST(row_number() OVER (ORDER BY freq, user_id) AS BIGINT) AS rk_f, " +
        "CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rk_m, " +
        "count(*) OVER () AS n FROM u) " +
        "SELECT ((rk_r - 1) * 4) // n + 1 AS r_q, ((rk_f - 1) * 4) // n + 1 AS f_q, " +
        "((rk_m - 1) * 4) // n + 1 AS m_q, count(*) AS n_users, CAST(sum(cents) AS BIGINT) AS cents " +
        "FROM r GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q"),
    "q_ship_priority" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        "o AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority " +
        "FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-06-01'), " +
        "l AS (SELECT l_orderkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev " +
        "FROM lineitem WHERE CAST(l_shipdate AS DATE) > DATE '1998-06-01') " +
        "SELECT o_orderkey, o_orderdate, o_orderpriority, CAST(sum(rev) AS BIGINT) AS revenue_cp " +
        "FROM l JOIN o ON l_orderkey = o_orderkey JOIN c ON o_custkey = c_custkey " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_cp DESC, o_orderdate, o_orderkey LIMIT 10"),
    "q_market_share" ->
      ("WITH ca AS (SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
        "sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier JOIN nation ON s_nationkey = n_nationkey), " +
        "l AS (SELECT l_orderkey, l_suppkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev FROM lineitem) " +
        "SELECT o_year, total_cp, nation_cp, " + ppmDivSql("nation_cp", "total_cp") + " AS share_ppm " +
        "FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(sum(rev) AS BIGINT) AS total_cp, " +
        "CAST(sum(CASE WHEN supp_nation = 'CHINA' THEN rev ELSE 0 END) AS BIGINT) AS nation_cp " +
        "FROM l JOIN orders ON l_orderkey = o_orderkey JOIN ca ON o_custkey = c_custkey " +
        "JOIN sn ON l_suppkey = s_suppkey GROUP BY 1) yr ORDER BY o_year"),
    "q_part_affinity" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "cnt AS (SELECT l_partkey, count(*) AS c1 FROM op GROUP BY l_partkey), " +
        "tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op), " +
        "pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS c_xy " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 5) " +
        "SELECT part_a, part_b, c_xy, (c_xy * n_orders * 10000) // (x.c1 * y.c1) AS lift_e4 " +
        "FROM pr JOIN cnt x ON pr.part_a = x.l_partkey JOIN cnt y ON pr.part_b = y.l_partkey CROSS JOIN tot " +
        "ORDER BY lift_e4 DESC, part_a, part_b LIMIT 20"),
    "q_auc_per_class" ->
      (SCORED_EMB_CTE +
        " SELECT class, n_pos, u_stat, " +
        ppmDivSql("u_stat", "(n_pos * (n_total - n_pos))") + " AS auc_ppm FROM " +
        "(SELECT label AS class, count(*) AS n_pos, " +
        "CAST(sum(rank) AS BIGINT) - (count(*) * (count(*) + 1)) // 2 AS u_stat " +
        "FROM r GROUP BY 1) g CROSS JOIN t ORDER BY class"),
    "q_calibration_bins" ->
      (SCORED_EMB_CTE +
        " SELECT decile, n, n_pos, " + ppmDivSql("n_pos", "n") + " AS pos_ppm, sum_score FROM " +
        "(SELECT ((rank - 1) * 10) // n_total + 1 AS decile, count(*) AS n, " +
        "CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(sum(score) AS BIGINT) AS sum_score FROM r CROSS JOIN t GROUP BY 1) g " +
        "ORDER BY decile"),
    "q_changepoint" ->
      ("WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1, 2), " +
        "base AS (SELECT o_orderpriority, count(*) AS n_days, CAST(sum(x) AS BIGINT) AS total_cents FROM daily GROUP BY 1), " +
        "p AS (SELECT o_orderpriority, day, CAST(sum(x) OVER (PARTITION BY o_orderpriority ORDER BY day) AS BIGINT) AS p, " +
        "CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY day) AS BIGINT) AS k FROM daily), " +
        "dv AS (SELECT p.o_orderpriority, day, n_days, total_cents, " +
        "abs(n_days * p - k * total_cents) AS cusum_dev FROM p JOIN base USING (o_orderpriority)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY cusum_dev DESC, day) AS rn FROM dv) " +
        "SELECT o_orderpriority, day, n_days, total_cents, cusum_dev FROM r WHERE rn = 1 " +
        "ORDER BY o_orderpriority"),
    "q_seasonal_anomaly" ->
      ("WITH ev AS (SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hr FROM events), " +
        "hourly AS (SELECT day, hr, count(*) AS cnt FROM ev GROUP BY 1, 2), " +
        "dn AS (SELECT dayofweek(day) AS dow, count(*) AS n_dates FROM (SELECT DISTINCT day FROM ev) GROUP BY 1), " +
        "ct AS (SELECT dayofweek(day) AS dow, hr, CAST(sum(cnt) AS BIGINT) AS cell_total FROM hourly GROUP BY 1, 2) " +
        "SELECT day, h.hr AS hr, cnt, n_dates, cell_total, " +
        scaledDivSql("(cnt * n_dates)", "cell_total", 1000L, 1000L) + " AS ratio_ppm " +
        "FROM hourly h JOIN dn ON dayofweek(h.day) = dn.dow " +
        "JOIN ct ON dayofweek(h.day) = ct.dow AND h.hr = ct.hr " +
        "ORDER BY ratio_ppm DESC, day, hr LIMIT 20"),
    "q_fuzzy_match" ->
      ("WITH c AS (SELECT DISTINCT c_name AS name FROM customer) " +
        "SELECT a.name AS name_a, b.name AS name_b FROM c a JOIN c b " +
        "ON a.name < b.name AND levenshtein(a.name, b.name) = 1 " +
        "ORDER BY name_a, name_b"),
    "q_reagg_audit" ->
      ("WITH r AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym, " +
        "strftime(o_orderdate, '%Y') || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS qtr, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CAST('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT), strftime(o_orderdate, '%Y-%m-%d'), " +
        "o_orderpriority)), 1, 15) AS BIGINT) AS h FROM orders) " +
        "SELECT qtr, CAST(count(DISTINCT ym) AS BIGINT) AS n_months, count(*) AS n_rows, " +
        "CAST(sum(cents) AS BIGINT) AS total_cents, min(cents) AS min_cents, " +
        "max(cents) AS max_cents, CAST(bit_xor(h) AS BIGINT) AS checksum " +
        "FROM r GROUP BY qtr ORDER BY qtr"),
    "q_power_iteration" ->
      ("WITH v AS (SELECT list_transform(generate_series(1, 64), j -> " +
        "CAST((j * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 - 0.5) AS v), " +
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings), " +
        "z AS (SELECT vec_id, unnest(emb) AS val, unnest(v) AS vv, " +
        "CAST(generate_subscripts(emb, 1) AS BIGINT) AS pos FROM e CROSS JOIN v), " +
        "dot AS (SELECT vec_id, sum(val * vv) AS dot FROM z GROUP BY vec_id) " +
        "SELECT z.pos AS pos, round(sum(dot * val), 2) AS w " +
        "FROM z JOIN dot USING (vec_id) GROUP BY z.pos ORDER BY pos"),
    "q_zipf_profile" ->
      (TP_TOK_CTE +
        ", c AS (SELECT token, count(*) AS c FROM tok GROUP BY 1)" +
        ", r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rank FROM c)" +
        ", t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c)" +
        ", b AS (SELECT " +
        (0 to 40).reverse.map(b => s"WHEN rank >= ${1L << b} THEN $b")
          .mkString("CASE ", " ", " ELSE -1 END") +
        " AS rank_bucket, c FROM r) " +
        "SELECT CAST(rank_bucket AS BIGINT) AS rank_bucket, n_tokens, freq, " +
        ppmDivSql("freq", "total") + " AS freq_ppm FROM " +
        "(SELECT rank_bucket, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS freq " +
        "FROM b GROUP BY 1) g CROSS JOIN t ORDER BY rank_bucket"),
    "q_table_checksum" ->
      ("WITH r AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym, " +
        "CAST('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT), strftime(o_orderdate, '%Y-%m-%d'), " +
        "o_orderpriority)), 1, 15) AS BIGINT) AS h FROM orders) " +
        "SELECT ym, count(*) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS checksum " +
        "FROM r GROUP BY ym ORDER BY ym"),
    "q_triangle_count" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "t AS (SELECT x.pa AS a, x.pb AS b, y.pb AS c FROM e x " +
        "JOIN e y ON x.pb = y.pa JOIN e z ON z.pa = x.pa AND z.pb = y.pb), " +
        "m AS (SELECT unnest([a, b, c]) AS l_partkey FROM t) " +
        "SELECT l_partkey, count(*) AS n_tri FROM m GROUP BY 1 " +
        "ORDER BY n_tri DESC, l_partkey LIMIT 20"),
    "q_simpson_diversity" ->
      (TP_TOK_CTE +
        ", c AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2)" +
        ", a AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_tok, count(*) AS n_types, " +
        "CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM c GROUP BY 1) " +
        "SELECT source, t_tok, n_types, sum_c2, " +
        "(" + scaledDivSql("sum_c2", "t_tok", 10L, 100000L) + ") // t_tok AS simpson_ppm, " +
        "(t_tok * t_tok) // sum_c2 AS eff_types FROM a ORDER BY source"),
    "q_ttr_profile" ->
      (TP_TOK_CTE +
        ", dc AS (SELECT doc_id, source, count(*) AS n_tok, " +
        "CAST(count(DISTINCT token) AS BIGINT) AS n_types FROM tok GROUP BY 1, 2)" +
        ", tt AS (SELECT source, (n_types * 1000000) // n_tok AS ttr_ppm FROM dc) " +
        "SELECT source, count(*) AS n_docs, min(ttr_ppm) AS min_ttr_ppm, " +
        "max(ttr_ppm) AS max_ttr_ppm, CAST(sum(ttr_ppm) AS BIGINT) // count(*) AS avg_ttr_ppm " +
        "FROM tt GROUP BY source ORDER BY source"),
    "q_small_qty_revenue" ->
      ("WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c FROM lineitem), " +
        "pa AS (SELECT l_partkey, count(*) AS cnt, CAST(sum(qty) AS BIGINT) AS sum_qty FROM li GROUP BY 1) " +
        "SELECT p_brand, count(*) AS n_small_lines, CAST(sum(price_c) AS BIGINT) AS loss_c " +
        "FROM li JOIN pa USING (l_partkey) JOIN part ON l_partkey = p_partkey " +
        "WHERE qty * 5 * cnt < sum_qty GROUP BY p_brand ORDER BY p_brand"),
    "q_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_cp " +
        "FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01' " +
        "AND CAST(l_shipdate AS DATE) < DATE '1998-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, revenue_cp FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE revenue_cp = (SELECT max(revenue_cp) FROM rev) ORDER BY s_suppkey"),
    "q_large_orders" ->
      ("WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 280) " +
        "SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents, total_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY total_cents DESC, o_orderkey"),
    "q_vocab_overlap" ->
      (TP_TOK_CTE +
        ", st AS (SELECT DISTINCT source, token FROM tok)" +
        ", sz AS (SELECT source, count(*) AS n_tok FROM st GROUP BY source)" +
        ", i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common " +
        "FROM st a JOIN st b ON a.token = b.token AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_common, x.n_tok + y.n_tok - n_common AS n_union, " +
        "(n_common * 1000000) // (x.n_tok + y.n_tok - n_common) AS jaccard_ppm " +
        "FROM i JOIN sz x ON src_a = x.source JOIN sz y ON src_b = y.source " +
        "ORDER BY src_a, src_b"),
    "q_null_profile" ->
      ("WITH s AS (SELECT count(*) AS n_rows, " +
        Seq("event_id", "ts", "user_id", "event_type", "value", "props").map(c =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_n, " +
            s"count(DISTINCT $c) AS ${c}_d").mkString(", ") +
        " FROM events) " +
        Seq("event_id", "ts", "user_id", "event_type", "value", "props").map(c =>
          s"SELECT '$c' AS column_name, n_rows, ${c}_n AS n_null, ${c}_d AS n_distinct FROM s")
          .mkString(" UNION ALL ") +
        " ORDER BY column_name"),
    "q_lsh_precision" ->
      (SIG_CTE + ", allpairs AS (" +
        (1 to 4).map(i =>
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.mh$i = b.mh$i AND a.doc_id < b.doc_id " +
            s"WHERE a.mh$i IN (SELECT mh$i FROM sig GROUP BY mh$i HAVING count(*) <= 1000)")
          .mkString(" UNION ") + ")" +
        // deterministic scale-adaptive thinning: keep-one-in-K by 60-bit
        // md5 prefix, K sized from the band-bucket histogram (identity
        // below the 100k budget)
        ", bs AS (" +
        (1 to 4).map(i =>
          s"SELECT count(*) AS n FROM sig GROUP BY mh$i HAVING count(*) BETWEEN 2 AND 1000")
          .mkString(" UNION ALL ") + ")" +
        ", np AS (SELECT greatest(1, (coalesce(sum((n * (n - 1)) // 2), 0) + 99999) // 100000) AS k FROM bs)" +
        ", pairs AS (SELECT id_a, id_b FROM allpairs, np " +
        "WHERE CAST('0x' || substr(md5(concat_ws('|', id_a, id_b)), 1, 15) AS BIGINT) " +
        "% k = 0)" +
        ", dist AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)" +
        ", szs AS (SELECT doc_id, count(*) AS sz FROM dist GROUP BY doc_id)" +
        ", pm AS (SELECT p.id_a, p.id_b, CAST(" +
        (1 to 4).map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS BIGINT) AS matches FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id)" +
        ", iv AS (SELECT p.id_a, p.id_b, count(*) AS inter FROM pairs p " +
        "JOIN dist x ON p.id_a = x.doc_id JOIN dist y ON p.id_b = y.doc_id AND x.shingle = y.shingle " +
        "GROUP BY 1, 2)" +
        ", j AS (SELECT pm.matches, coalesce(iv.inter, 0) AS inter, sa.sz AS sza, sb.sz AS szb " +
        "FROM pm LEFT JOIN iv ON pm.id_a = iv.id_a AND pm.id_b = iv.id_b " +
        "JOIN szs sa ON pm.id_a = sa.doc_id JOIN szs sb ON pm.id_b = sb.doc_id) " +
        "SELECT matches, count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN inter * 3 >= sza + szb THEN 1 ELSE 0 END) AS BIGINT) AS n_true, " +
        "(CAST(sum(CASE WHEN inter * 3 >= sza + szb THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS precision_ppm " +
        "FROM j GROUP BY matches ORDER BY matches"),
    "q_user_growth" ->
      ("WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id), " +
        "d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day) " +
        "SELECT day, new_users, CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users " +
        "FROM d ORDER BY day"),
    "q_doc_novelty" ->
      (NORM_CTE +
        """, tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm)""" +
        """, sh AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))""" +
        ", dist AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)" +
        ", fo AS (SELECT shingle, min(doc_id) AS first_doc FROM dist GROUP BY shingle) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000) // count(*) AS novelty_permille " +
        "FROM dist JOIN fo USING (shingle) GROUP BY doc_id ORDER BY doc_id"),
    "q_burstiness" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh, count(*) AS x FROM events GROUP BY 1, 2), " +
        "s AS (SELECT event_type, count(*) AS n_hours, CAST(sum(x) AS BIGINT) AS n_events, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx FROM h GROUP BY event_type) " +
        "SELECT event_type, n_hours, n_events, " +
        "((n_hours * sxx - n_events * n_events) * 1000000) // (n_hours * n_events) AS fano_ppm " +
        "FROM s ORDER BY event_type"),
    "q_equi_height" ->
      ("WITH cents AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c FROM lineitem), " +
        "r AS (SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT) AS rank FROM cents), " +
        "t AS (SELECT count(*) AS n FROM cents), " +
        "b AS (SELECT CAST(i AS BIGINT) AS bucket, (CAST(i AS BIGINT) * n + 7) // 8 AS target " +
        "FROM generate_series(1, 8) AS g(i) CROSS JOIN t) " +
        "SELECT bucket, min(c) AS upper_cents, min(target) AS rank_at " +
        "FROM r JOIN b ON r.rank = b.target GROUP BY bucket ORDER BY bucket"),
    "q_conversion_time" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id), " +
        "d AS (SELECT CAST(floor(epoch(s3.t3)) AS BIGINT) - CAST(floor(epoch(s1.t1)) AS BIGINT) AS secs " +
        "FROM s3 JOIN s1 USING (user_id)) " +
        "SELECT count(*) AS n_converted, " +
        "round(quantile_cont(CAST(secs AS DOUBLE), 0.25), 2) AS p25, " +
        "round(quantile_cont(CAST(secs AS DOUBLE), 0.5), 2) AS p50, " +
        "round(quantile_cont(CAST(secs AS DOUBLE), 0.9), 2) AS p90 FROM d"),
    "q_lsh_recall" ->
      ("""WITH norm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents)""" +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm)" +
        ", sh AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", dig AS (SELECT doc_id, md5(shingle) AS h FROM sh WHERE shingle IS NOT NULL)" +
        ", sig AS (SELECT doc_id, min(substr(h, 1, 8)) AS mh1, min(substr(h, 9, 8)) AS mh2, min(substr(h, 17, 8)) AS mh3, min(substr(h, 25, 8)) AS mh4 FROM dig GROUP BY doc_id)" +
        ", dist AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)" +
        ", szs AS (SELECT doc_id, count(*) AS sz FROM dist GROUP BY doc_id)" +
        ", dft AS (SELECT shingle, count(*) AS df FROM dist GROUP BY shingle HAVING count(*) BETWEEN 2 AND 1000)" +
        // deterministic sample of the true-pair universe: keep-one-in-K by
        // 60-bit md5 prefix of the pair ids, K from the df histogram
        // (identity below the 100k budget); the SAME rule thins both sides
        ", np AS (SELECT greatest(1, (coalesce(sum((df * (df - 1)) // 2), 0) + 99999) // 100000) AS k FROM dft)" +
        ", iv AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter " +
        "FROM dist x JOIN dist y ON x.shingle = y.shingle AND x.doc_id < y.doc_id, np " +
        "WHERE x.shingle IN (SELECT shingle FROM dft) " +
        "AND CAST('0x' || substr(md5(concat_ws('|', x.doc_id, y.doc_id)), 1, 15) AS BIGINT) % k = 0 " +
        "GROUP BY 1, 2)" +
        ", tp AS (SELECT id_a, id_b FROM iv JOIN szs sa ON iv.id_a = sa.doc_id " +
        "JOIN szs sb ON iv.id_b = sb.doc_id WHERE inter * 3 >= sa.sz + sb.sz)" +
        ", candraw AS (" +
        (1 to 4).map(i =>
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.mh$i = b.mh$i AND a.doc_id < b.doc_id " +
            s"WHERE a.mh$i IN (SELECT mh$i FROM sig GROUP BY mh$i HAVING count(*) <= 1000)")
          .mkString(" UNION ") + ")" +
        ", cand AS (SELECT id_a, id_b FROM candraw, np " +
        "WHERE CAST('0x' || substr(md5(concat_ws('|', id_a, id_b)), 1, 15) AS BIGINT) % k = 0) " +
        "SELECT count(*) AS n_true, " +
        "CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_captured, " +
        "CASE WHEN count(*) = 0 THEN 0 ELSE (CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) END AS recall_ppm " +
        "FROM tp LEFT JOIN cand c ON tp.id_a = c.id_a AND tp.id_b = c.id_b"),
    "q_order_gaps" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d2 FROM orders), " +
        "g AS (SELECT o_custkey, CAST(date_diff('day', lag(d2, 1) OVER " +
        "(PARTITION BY o_custkey ORDER BY d2, o_orderkey), d2) AS BIGINT) AS gap FROM o), " +
        "gg AS (SELECT c_mktsegment, gap FROM g JOIN customer ON o_custkey = c_custkey WHERE gap IS NOT NULL) " +
        "SELECT c_mktsegment, count(*) AS n_gaps, " +
        "round(quantile_cont(CAST(gap AS DOUBLE), 0.25), 2) AS p25, " +
        "round(quantile_cont(CAST(gap AS DOUBLE), 0.5), 2) AS p50, " +
        "round(quantile_cont(CAST(gap AS DOUBLE), 0.9), 2) AS p90 " +
        "FROM gg GROUP BY 1 ORDER BY 1"),
    "q_dup_degree" ->
      (SIG_CTE + ", pairs AS (" +
        (1 to 4).map(i =>
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.mh$i = b.mh$i AND a.doc_id < b.doc_id " +
            s"WHERE a.mh$i IN (SELECT mh$i FROM sig GROUP BY mh$i HAVING count(*) BETWEEN 2 AND 1000)")
          .mkString(" UNION ") + ")" +
        ", deg AS (SELECT doc_id, count(*) AS degree FROM (" +
        "SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs) u GROUP BY doc_id) " +
        "SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree ORDER BY degree"),
    "q_len_profile" ->
      (NORM_CTE +
        ", tk AS (SELECT lang, CAST(len(list_filter(string_split(t, ' '), x -> x <> '')) AS BIGINT) AS n FROM norm)" +
        ", b AS (SELECT lang, n, CASE " +
        (11 to 0 by -1).map(i => s"WHEN n >= ${1L << i} THEN $i").mkString(" ") +
        " ELSE -1 END AS len_bucket FROM tk WHERE n > 0) " +
        "SELECT lang, CAST(len_bucket AS BIGINT) AS len_bucket, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens " +
        "FROM b GROUP BY lang, len_bucket ORDER BY lang, len_bucket"),
    "q_tvd_drift" ->
      ("WITH c AS (SELECT event_type, " +
        "CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS BIGINT) AS c2 " +
        "FROM events GROUP BY event_type), " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "g AS (SELECT event_type, c1, c2, abs(c1 * n2 - c2 * n1) AS gap, n1, n2 FROM c CROSS JOIN t), " +
        "g2 AS (SELECT event_type, c1, c2, gap, CAST(sum(gap) OVER () AS BIGINT) AS gap_sum, n1, n2 FROM g) " +
        "SELECT event_type, c1, c2, gap, " +
        "CAST(" + ppmDivSql("gap_sum", "(2 * n1 * n2)") + " AS BIGINT) AS tvd_ppm " +
        "FROM g2 ORDER BY event_type"),
    "q_window_dedup" ->
      ("WITH b AS (SELECT event_id, user_id, event_type, ts, " +
        "CAST(floor(epoch(ts)) AS BIGINT) // 300 AS wb FROM events), " +
        "r AS (SELECT event_type, row_number() OVER " +
        "(PARTITION BY user_id, event_type, wb ORDER BY ts, event_id) AS rn FROM b) " +
        "SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "((count(*) - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)) * 1000) // count(*) AS drop_permille " +
        "FROM r GROUP BY event_type ORDER BY event_type"),
    "q_pareto" ->
      ("WITH c AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1), " +
        "r AS (SELECT o_custkey, cents, CAST(row_number() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS rank FROM c), " +
        "t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents, count(*) AS n_customers FROM c), " +
        "cum AS (SELECT rank, CAST(sum(cents) OVER (ORDER BY rank) AS BIGINT) AS cum FROM r) " +
        "SELECT rank AS top_customers, n_customers, " +
        ppmDivSql("cum", "total_cents") + " AS share_ppm, " +
        "(rank * 1000000) // n_customers AS pct_customers_ppm " +
        "FROM cum CROSS JOIN t WHERE cum * 5 >= total_cents * 4 ORDER BY rank LIMIT 1"),
    "q_clamped_balance" ->
      ("WITH e AS (SELECT user_id, event_id, ts, " +
        "CASE WHEN event_type IN ('signup', 'purchase') " +
        "THEN CAST(round(value * 100, 0) AS BIGINT) " +
        "ELSE -CAST(round(value * 100, 0) AS BIGINT) END AS delta FROM events), " +
        "p AS (SELECT user_id, event_id, ts, delta, CAST(sum(delta) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pref FROM e), " +
        "m AS (SELECT user_id, event_id, delta, pref, min(pref) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin FROM p) " +
        "SELECT user_id, event_id, delta, pref - least(0, runmin) AS balance " +
        "FROM m ORDER BY user_id, event_id"),
    "q_ewma_decay" ->
      ("WITH e AS (SELECT user_id, event_id, ts, " +
        "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events) " +
        "SELECT user_id, event_id, cents, " +
        (0 to 7).map(k =>
          s"coalesce(lag(cents, $k) OVER w, 0) * ${1L << (7 - k)}")
          .mkString(" + ") + " AS ewma_q8 " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, event_id"),
    "q_rolling_corr" ->
      ("WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS x, " +
        "count(*) AS y FROM orders GROUP BY 1, 2), " +
        "s AS (SELECT o_orderpriority, day, " +
        "CAST(count(*) OVER w AS BIGINT) AS n, " +
        "CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy, " +
        "CAST(sum(x * x) OVER w AS BIGINT) AS sxx, " +
        "CAST(sum(x * y) OVER w AS BIGINT) AS sxy, " +
        "CAST(sum(y * y) OVER w AS BIGINT) AS syy " +
        "FROM daily WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)), " +
        "m AS (SELECT o_orderpriority, day, n, " +
        "n * sxy - sx * sy AS num, n * sxx - sx * sx AS d1, " +
        "n * syy - sy * sy AS d2 FROM s) " +
        "SELECT o_orderpriority, day, n, num, d1, d2, " +
        "CASE WHEN d1 = 0 OR d2 = 0 THEN NULL " +
        "WHEN num < 0 THEN -round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) / " +
        "(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) " +
        "ELSE round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) / " +
        "(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) END AS signed_r2 " +
        "FROM m ORDER BY o_orderpriority, day"),
    "q_pagerank_step" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e), " +
        "d AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1), " +
        "c AS (SELECT dst, 1000000 // deg AS contrib FROM sym JOIN d USING (src)) " +
        "SELECT dst AS l_partkey, 150000 + (85 * CAST(sum(contrib) AS BIGINT)) // 100 AS rank_ppm " +
        "FROM c GROUP BY dst ORDER BY rank_ppm DESC, l_partkey LIMIT 20"),
    "q_label_prop" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e), " +
        "v AS (SELECT dst, p_brand AS nlabel, count(*) AS votes " +
        "FROM sym JOIN part ON src = p_partkey GROUP BY 1, 2), " +
        "r AS (SELECT dst, nlabel, votes, row_number() OVER " +
        "(PARTITION BY dst ORDER BY votes DESC, nlabel) AS rn FROM v) " +
        "SELECT dst AS l_partkey, p_brand AS old_label, nlabel AS new_label, votes, " +
        "CAST(CASE WHEN p_brand = nlabel THEN 0 ELSE 1 END AS BIGINT) AS changed " +
        "FROM r JOIN part ON dst = p_partkey WHERE rn = 1 ORDER BY l_partkey"),
    "q_inverted_index" ->
      (TP_TOK_CTE +
        ", tf AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "r AS (SELECT token, doc_id, tf, " +
        "CAST(row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS BIGINT) AS pos, " +
        "CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS posting_len FROM tf) " +
        "SELECT token, doc_id, tf, pos, posting_len FROM r WHERE pos <= 5 " +
        "ORDER BY token, pos"),
  )
}
