package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Core` — relational core, dedup/sampling, joins, analytics and the text-curation foundations.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesCore { this: Queries.type =>

  // ---------------------------------------------------------------- scans

  /** S22/S12 — fixed-column projection (pushed to the parquet scan). */
  def qScanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      // every output column participates in the sort: the fixture does NOT
      // guarantee (l_orderkey, l_linenumber) unique, so a shorter prefix is
      // not a total order and tied rows could legally differ between
      // engines (first seen live at sf1 — 1.18 M duplicate key pairs)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))

  /** S2/S9 — predicate filters (pushed down to the scan). */
  def qFilterNonnull(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("props").isNotNull && col("event_type") =!= "error")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------- dedup

  /** S9 — set-dedup of ids. */
  def qDistinctIds(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("user_id").distinct().orderBy("user_id")

  /** S19 — sorted distinct. */
  def qSortedDistinct(s: SparkSession, d: String): DataFrame =
    Ops.sortedDistinct(Tables.lineitem(s, d), "l_partkey")

  /** S14/S20 — first-occurrence dedup with a deterministic total order. */
  def qDedupFirstWins(s: SparkSession, d: String): DataFrame =
    Ops.dedupFirstWins(Tables.events(s, d), Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"))

  /** S16/S21 — pair-dedup. */
  def qDedupPairs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")

  // ------------------------------------------------- sampling / chunking

  /** S10 — deterministic seeded sample-N via Knuth-hash order
    * (TakeOrderedAndProject: per-partition heap, no global sort). */
  def qSeededSample(s: SparkSession, d: String): DataFrame =
    Ops.seededTopN(Tables.customer(s, d), "c_custkey", 20)

  /** S3 — fixed-size chunking / 1-based batch assignment, via the scalable
    * two-phase numbering (bucket offsets + bucket-local windows): no global
    * single-partition window anywhere in the plan. */
  def qBatchAssign(s: SparkSession, d: String): DataFrame =
    Ops.runningSums(Tables.customer(s, d).select("c_custkey", "c_name"), Nil,
        Seq("c_custkey"), "rn" -> lit(1L))
      .select(col("c_custkey"), col("c_name"), expr("(rn - 1) div 500 + 1").as("batch_id"))
      .orderBy("c_custkey")

  // ------------------------------------------------------------- strings

  /** S6/S7 — whitespace normalization + lowercase. */
  def qNormalizeText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Ops.normalizeText(col("text")).as("norm_text"))
      .orderBy("doc_id")

  /** S12 — nested/JSON field extraction with typed cast. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy(col("k"))

  // --------------------------------------------------------------- joins

  /** S16/S21 — bridge-table construction through a join. */
  def qBridgeTable(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name").distinct()
      .orderBy("o_orderkey")

  /** S18 — FK-driven scan as a left-semi join. */
  def qSemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).where(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      // l_quantity joins the sort: (l_orderkey, l_linenumber) is not unique
      // in the fixture, so the full column set makes the order total
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  // -------------------------------------------------------- partitioning

  /** S23/S24 — run-date partition layout as a group key. */
  def qPartitionedCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n"))
      .transform(ps(col("event_date")))

  /** S24 — load verification: row count per entity, answered from parquet
    * FOOTER metadata ([[graft.sources.ParquetMeta]]) — COUNT(*) needs no
    * column I/O; a 100 TB table counts in O(files) distributed footer
    * reads (the same pushdown the DuckDB oracle applies natively), and
    * every entity's footers are read in one job. */
  def qEntityCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = graft.sources.ParquetMeta.rowCount(s,
      Tables.entityNames.map(name => s"$d/$name.parquet"))
    Tables.entityNames.map(name => (name, counts(s"$d/$name.parquet")))
      .toDF("entity", "n").transform(ps(col("entity")))
  }

  // ----------------------------------------------------------- analytics

  /** TPC-H Q1-shaped pricing summary (the BigQuery-delegated tier). */
  def qAggPricing(s: SparkSession, d: String): DataFrame =
    // TPC-H Q1 in EXACT integer units (qty, price cents, discount 1e-4):
    // sums are exact longs (the discounted extension in 1e-6-dollar units
    // — pc·(10⁴−d4) — is order-free where the double sum drifts with
    // partitioning), averages are exact round-half-up integer division
    // (roundDiv — a plain round(avg(x), 2) flips engines whenever the
    // group count puts the mean exactly on a .xx5 boundary). Final
    // presentation divisions are single IEEE ops, identical both engines.
    Tables.lineitem(s, d)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("pc"),
        expr("CAST(round(l_discount * 10000, 0) AS BIGINT)").as("d4"))
      .groupBy("l_returnflag", "l_linestatus")
      // Headroom bound: the 1e-6-dollar discounted term pc·(10⁴−d4)
      // reaches ~10¹¹ per row, so a per-group int64 sum holds to ~9·10⁷
      // rows/group ≈ sf150–200 — two orders past this engine's proven
      // range but ~100× tighter than the cents sums (DuckDB's BIGINT sum
      // promotes to HUGEINT, so past the bound the engines would silently
      // diverge rather than both fail). Before running beyond ~sf100,
      // split the group (e.g. sub-aggregate by month then merge as
      // DECIMAL(38,0)) or flip on spark.sql.ansi.enabled so overflow
      // throws instead of wrapping.
      .agg(sum(col("q")).as("sq"), sum(col("pc")).as("spc"),
        sum(expr("pc * (10000 - d4)")).as("se6"), sum(col("d4")).as("sd4"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        (col("spc").cast("double") / 100.0).as("sum_base"),
        (col("se6").cast("double") / 1000000.0).as("sum_disc"),
        (expr(roundDiv("sq", "n", 100L)).cast("double") / 100.0).as("avg_qty"),
        (expr(roundDiv("spc", "n", 1L)).cast("double") / 100.0).as("avg_price"),
        (expr(roundDiv("sd4", "n", 1L)).cast("double") / 10000.0).as("avg_disc"),
        col("n"))
      .transform(ps(col("l_returnflag"), col("l_linestatus")))

  /** Revenue per nation: 3-way join star query. `nation` (25 rows) is
    * explicitly broadcast; orders⋈customer⋈lineitem shuffle on their keys
    * and AQE handles skew at scale. */
  def qJoinAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .transform(ps(col("n_name")))

  /** Top-3 orders per customer (window top-k). */
  def qWindowTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .where(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** Running sum per user (window frame). The cumulative additions happen in
    * the identical order in any engine given the same total order, so the
    * double is bit-stable; rounded anyway for defense. */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), round(sum(col("value")).over(w), 2).as("running"))
      .orderBy("user_id", "event_id")
  }

  /** S9 set semantics — EXCEPT: customers with orders minus customers with a
    * returned lineitem. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val withOrders = Tables.orders(s, d).select("o_custkey")
    val withReturns = Tables.orders(s, d)
      .join(Tables.lineitem(s, d).where(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select("o_custkey")
    withOrders.except(withReturns).orderBy("o_custkey")
  }

  /** North-star scale: HLL sketch vs exact distinct (no oracle — approx). */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      approx_count_distinct(col("user_id")).as("approx_users"),
      countDistinct(col("user_id")).as("exact_users"))

  // ------------------------------------------------- text / LLM-data tier

  /** Token frequency: top-10 tokens per language. */
  def qTextTokens(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(split(Ops.normalizeText(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
    val counted = toks.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
    counted.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 10)
      .orderBy("lang", "rn")
  }

  /** Portable MinHash signatures (4 salted-md5 hashes over 3-word shingles). */
  def qMinhashSignature(s: SparkSession, d: String): DataFrame =
    TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
      .orderBy("doc_id")

  /** MinHash-LSH candidate near-dup pairs: docs agreeing on ≥1 of 4 bands.
    * Band buckets over 1000 members are skipped (mirrored in the oracle) —
    * the quadratic pair expansion is demo-tier; [[qMinhashDedupMap]] is the
    * linear scale path that still covers docs in skipped buckets. */
  def qMinhashDedup(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
    TextOps.lshCandidatePairs(sig, "doc_id", 4).orderBy("id_a", "id_b")
  }

  /** Exact set-similarity join via PREFIX FILTERING (AllPairs/PPJoin
    * family) — the DETERMINISTIC-recall complement to the MinHash-LSH
    * candidate join: within the declared universe it finds EVERY pair
    * with Jaccard ≥ 0.7, no probabilistic misses. Sets are each doc's
    * distinct 3-shingles with global df ≤ 10 (the universe cap — the
    * same stopword-frequency argument as [[qNgramJaccard]]'s posting cap:
    * a shingle shared by more documents is boilerplate that contributes
    * ~0 to a 0.7-Jaccard ranking but quadratic pair mass; similarity is
    * DEFINED over the capped universe, so the result stays exact, not
    * approximate). The filter: order each set by ascending global df
    * (rarest first — one doc-keyed window), keep only the first
    * `|T| − ⌈0.7·|T|⌉ + 1` shingles as the PREFIX; two sets with
    * Jaccard ≥ t MUST share a prefix element under any consistent
    * global order, so the shingle-keyed self-join of prefixes generates
    * a complete candidate set while touching only the rarest postings.
    *
    * PPJoin pruning (Xiao et al.) cuts the verify input BEFORE the
    * exact-intersection joins ever see a pair: (1) the LENGTH filter
    * rides the candidate join itself — `J ≥ 0.7` forces
    * `10·min(|A|,|B|) ≥ 7·max(|A|,|B|)`; (2) the POSITIONAL filter uses
    * the consistency of the (df, shingle) total order: both prefixes are
    * sorted by the SAME global order, so the shared prefix matches of a
    * pair are co-monotone — `max(rn_a)` and `max(rn_b)` land on the same
    * token, and every shared token NOT matched in both prefixes sits
    * strictly beyond that last match in BOTH sets. Hence
    * `|A∩B| ≤ np + min(|A|−pa, |B|−pb)` (np = shared-prefix count,
    * pa/pb = last-match positions), and `J ≥ 0.7` needs
    * `|A∩B| ≥ ⌈7(|A|+|B|)/17⌉` — pairs whose bound can't reach it are
    * pruned with integer-exact arithmetic, changing nothing in the
    * output (the bound is sound, only impossible pairs die).
    * Verification computes the exact intersection per surviving
    * candidate (two co-keyed joins against the full capped sets) and
    * the integer permille Jaccard, with set sizes carried from the
    * candidate stage instead of re-joined. Output is Ω(true pair mass)
    * by semantics — on the clone-heavy sf1 fixture that is the ~105k
    * intra-clone pairs. */
  def qSetsimJoin(s: SparkSession, d: String): DataFrame = {
    val maxDf = 10
    val sh = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 3)
      .distinct()
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val cs = sh.join(dfc, "shingle")
    val sz = cs.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val pr = cs.join(sz, "doc_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= col("sz") - expr("(7 * sz + 9) div 10") + 1)
      .select("doc_id", "shingle", "rn", "sz")
    val cand = pr.as("a").join(pr.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          lit(10) * least(col("a.sz"), col("b.sz")) >=
            lit(7) * greatest(col("a.sz"), col("b.sz")))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("np"),
        max(col("a.rn")).as("pa"), max(col("b.rn")).as("pb"))
      .where(col("np") + least(col("sza") - col("pa"), col("szb") - col("pb")) >=
        expr("(7 * (sza + szb) + 16) div 17"))
      .select("id_a", "id_b", "sza", "szb")
    val inter = cand
      .join(cs.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(cs.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "sza", "szb").agg(count(lit(1)).as("i"))
    inter
      .withColumn("jac_permille", expr("(i * 1000) div (sza + szb - i)"))
      .where(col("jac_permille") >= 700)
      .select("id_a", "id_b", "jac_permille")
      .orderBy("id_a", "id_b")
  }

  /** MinHash-LSH dedup MAP ([[graft.operators.TextOps.lshDedupMap]]):
    * every doc → min doc id sharing a band (single-hop canonical
    * representative) — the linear, pair-free form a 100 TB dedup pass
    * materializes ([[qMinhashDedup]] keeps the pair-list form; the
    * connected-components fixpoint is `lshDedupClusters`, ScalaTest-
    * checked). Docs with no shingles (fewer than 3 tokens) are absent,
    * matching the signature aggregate. */
  def qMinhashDedupMap(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
    TextOps.lshDedupMap(sig, "doc_id", 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Exact n-gram (token-set) Jaccard similarity on a deterministic 2%
    * sample, blocked by language. The unsampled scale path uses MinHash-LSH
    * prefiltering ([[qMinhashDedup]]) before exact Jaccard. Posting lists
    * are df-capped at 1000: a token shared by more documents than that is a
    * stopword-frequency token that contributes ~0 to a 0.5-Jaccard ranking
    * but squares the pair expansion — it is dropped BEFORE the list is ever
    * collected, so a degenerate bucket can't materialize at 100 TB. */
  def qNgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccard(Tables.documents(s, d).where(col("doc_id") % 50 === 0),
      dfCap = 1000)

  /** [[qNgramJaccard]] body with the document-frequency cap exposed for
    * testing. `df` per (lang, token) is aggregated FIRST and hot tokens
    * (df > dfCap) are filtered out before `collect_list`, so the quadratic
    * pair expansion is bounded by dfCap² per posting list and no oversized
    * array is ever built. All three (lang, token) shuffles hash-partition on
    * the same key, so the df join and the list aggregation reuse the token
    * exchange. Set sizes (`sz`) stay computed on the UNCAPPED token sets —
    * the cap only prunes intersection candidates, not the denominator. */
  private[graft] def ngramJaccard(docs: DataFrame, dfCap: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(split(Ops.normalizeText(col("text")), " ")).as("token"))
      .where(col("token") =!= "").distinct()
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dft = tok.groupBy("lang", "token").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, dfCap))
    // Pair expansion inside each (lang, token) posting list — one token
    // pipeline + one shuffle; the equivalent self-join recomputes the
    // tokenization on both sides. Lists are bounded by dfCap.
    val inter = tok.join(dft.select("lang", "token"), Seq("lang", "token"))
      .groupBy("lang", "token")
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"))
    inter
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("nb")), "id_b")
      // threshold and output both in exact integers: the union size can
      // carry a factor of 5, putting c/union exactly on a 4-dp .5
      // boundary where double rounding is engine-specific
      .where(col("c") * 2 >= col("na") + col("nb") - col("c"))
      .withColumn("u", col("na") + col("nb") - col("c"))
      .select(col("id_a"), col("id_b"),
        (expr(roundDiv("c", "u", 10000L)).cast("double") / 10000.0).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Exact dedup on documents via fingerprint equality: every doc mapped to
    * its canonical representative (smallest doc_id sharing the normalized-
    * text md5) — the dedup MAP a 100 TB exact-dedup pass materializes.
    * One hash-partitioned window over the fingerprint (dup groups are tiny,
    * cardinality is high — fully parallel). `is_canonical` marks survivors. */
  def qExactDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Whole-document fingerprint (portable md5 of normalized text). */
  def qDocFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Per-document quality metrics. */
  def qQualityScore(s: SparkSession, d: String): DataFrame =
    TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text", STOPWORDS)
      .orderBy("doc_id")

  /** Composite Gopher-style quality gate: per-doc boolean verdicts from the
    * repetition signals ([[graft.operators.TrainPrep.repetitionStats]] —
    * one pass, two map-side-combinable aggregates), thresholded the way a
    * training-data filter stage composes them. Degenerate docs (no bigrams)
    * pass the bigram gate vacuously (null-safe coalesce). */
  def qQualityFilter(s: SparkSession, d: String): DataFrame =
    TrainPrep.repetitionStats(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"),
        col("n_tokens").between(20, 100000).as("length_ok"),
        (col("dup_word_frac") <= 0.6).as("repetition_ok"),
        coalesce(col("top_bigram_frac") <= 0.2, lit(true)).as("bigram_ok"))
      .withColumn("keep",
        col("length_ok") && col("repetition_ok") && col("bigram_ok"))
      .orderBy("doc_id")

  /** Corpus n-gram statistics: top-20 bigrams per language by count.
    * Bigrams are formed ROW-LOCALLY by the native `Shingles` expression
    * (never crossing documents, zero token shuffle); the count aggregate
    * combines map-side, so the per-lang ranking window only ever sees the
    * bounded distinct-bigram frame — the shape a corpus-statistics pass
    * keeps at 100 TB. */
  def qNgramCounts(s: SparkSession, d: String): DataFrame = {
    val sh = TextOps.explodedShingles(
      Tables.documents(s, d).select("lang", "text"), "lang", "text", 2)
    val counts = sh.groupBy(col("lang"), col("shingle").as("bigram"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 20)
      .orderBy("lang", "rk")
  }

  /** Session-lifetime memo of the deterministic k=8 seed centroids, keyed
    * by data dir: [[qKmeansStep]], [[qKnnJoinBlocked]] and [[qSemDedup]]
    * share one bounded k-row collect instead of re-seeding per query
    * (round-5 advice). The key is the input PATH — the standard
    * immutable-snapshot assumption of a warehouse batch; a racing
    * `getOrElseUpdate` may seed twice, harmlessly (same deterministic
    * result). */
  private[graft] val seedCentroidCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Int), Array[(Long, Array[Double])]]
  private[graft] def cachedSeedCentroids(s: SparkSession, d: String,
                                  k: Int): Array[(Long, Array[Double])] =
    seedCentroidCache.getOrElseUpdate((d, k),
      Similarity.seedCentroids(Tables.embeddings(s, d), "vec_id",
        "embedding", k))

  /** Fixed-probe fetch for the retrieval tier, TOTAL on an empty corpus:
    * the probe row's embedding plus `found = true`, or — when the row is
    * absent (empty or pruned corpus) — a 1-element zero vector plus
    * `found = false`. Callers gate their corpus scan with `lit(found)`:
    * the plan (and thus the output schema) is unchanged, the constant
    * `AND true` folds away on the normal path, and on the empty path no
    * row is ever scored against the dummy vector. */
  private[graft] def probeOrEmpty(emb: DataFrame, id: Long): (Array[Float], Boolean) = {
    val rows = emb.where(col("vec_id") === id).select("embedding").take(1)
    if (rows.isEmpty) (Array(0.0f), false)
    else (rows.head.getSeq[Float](0).toArray, true)
  }

  /** Cached embeddings row count per data dir — sizes [[qSemDedup]]'s
    * adaptive cluster count (same immutable-snapshot assumption and
    * bounded-driver-round-trip class as the seed-centroid cache above). */
  private[graft] val embCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def cachedEmbCount(s: SparkSession, d: String): Long =
    embCountCache.getOrElseUpdate(d, Tables.embeddings(s, d).count())

  /** One Lloyd k-means iteration over the embeddings
    * ([[graft.operators.Similarity.kmeansStep]]): deterministic k=8 seed
    * centroids, exact argmin assignment, per-(cluster, dim) mean — output
    * is k·dim rows regardless of corpus size. The oracle re-ranks by
    * DuckDB's `list_distance` (monotone sqrt of the same double sum), so
    * the assignment matches exactly; the centroid is the order-free
    * µ-quantized integer sum reduced to EXACT 4-dp fixed point in pure
    * integer arithmetic on BOTH engines (sign-adjusted truncating
    * division — Spark `div` and DuckDB `//` both truncate toward zero).
    * No double is ever rounded: `round(double, 4)` is engine-specific at
    * boundary cells (BigDecimal vs multiply-round-divide) and cost two
    * rounds of hash mismatches. */
  def qKmeansStep(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansStepPrecomputed(Tables.embeddings(s, d), "vec_id",
        "embedding", cachedSeedCentroids(s, d, 8))
      .orderBy("cluster_id", "pos")

  /** Int8 scalar quantization of every embedding
    * ([[graft.operators.Similarity.quantizeInt8]]): per-vector scale,
    * integer codes, max reconstruction error. Row-local, zero shuffle. */
  def qVectorQuantize(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy("vec_id")

  /** Exact k-nearest-neighbor JOIN ([[graft.operators.Similarity
    * .knnJoinExact]]): every 20th vector finds its 3 nearest corpus
    * neighbors by cosine. The query side is broadcast (narrow scoring
    * pass over the corpus scan); the only exchange carries the slim score
    * triples into the per-query ranking window. The 100 TB path swaps in
    * `knnJoinBlocked` (cluster-blocked candidates) — ScalaTest asserts its
    * recall against this exact form. */
  def qKnnJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    Similarity.knnJoinExact(e, "vec_id", "embedding", q, 3)
      .orderBy("q_id", "rk")
  }

  /** The cluster-blocked kNN join ([[graft.operators.Similarity
    * .knnJoinBlocked]]) as a DECLARED query: unlike the ANN probes this
    * approximation is fully deterministic (seeded centroids, exact argmin
    * assignment, rounded-sim ranking), so the whole blocked pipeline —
    * coarse assignment, candidate restriction, per-query rerank — has an
    * EXACT DuckDB oracle. Candidates drop from |Q|·|corpus| to |Q|·|bucket|;
    * at scale the cluster id is a partition key and the candidate scan is
    * metadata-pruned I/O. */
  def qKnnJoinBlocked(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    Similarity.knnJoinBlocked(e, "vec_id", "embedding", q, 3,
        cachedSeedCentroids(s, d, 8))
      .orderBy("q_id", "rk")
  }

  /** SemDeDup-style semantic near-dup pairs ([[graft.operators.Similarity
    * .semDedupPairs]]): k-means-assign every embedding to its nearest seed
    * centroid, compare pairs only WITHIN a cluster (equi-join on the
    * cluster id — n²/k compares, never a cross join), keep cosine ≥ 0.3.
    * The cluster count is the scale dial and is DECLARED adaptive:
    * k = max(8, n div 2500), so the expected cluster size — and with it
    * the per-cluster quadratic pair pass AND the join's parallelism (one
    * task per cluster id) — stays constant as the corpus grows, which is
    * the SemDeDup production posture (k ∝ n; the cluster id becomes a
    * materialized partition key and each cluster's pair pass is local
    * I/O). The rule is the identity (k = 8) at every oracle fixture up to
    * sf1 and is restated in the oracle's LIMIT, so a 100× check exercises
    * the adaptive path on both engines. The n lookup is one cached
    * driver-side count — same bounded round-trip class as the seed
    * collect it feeds. */
  def qSemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val k = math.max(8L, cachedEmbCount(s, d) / 2500L).toInt
    Similarity.semDedupPairsPrecomputed(emb, "vec_id",
        "embedding", cachedSeedCentroids(s, d, k), threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** MinHash-estimated Jaccard for the LSH candidate pairs
    * ([[graft.operators.TextOps.minhashEstimatedJaccard]]): est = matching
    * md5 hash families / 4 — the signature-only triage a dedup pipeline
    * runs between banding and exact verification (no token re-scan). */
  def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d),
      "doc_id", "text", 3, 4)
    TextOps.minhashEstimatedJaccard(sig, "doc_id", 4)
      .orderBy("id_a", "id_b")
  }

  /** BM25-style relevance top-10 ([[graft.operators.TextOps.bm25TopK]]):
    * integer-exact fixed-point BM25 (rational idf core, k1=1.2 b=0.75) for
    * a fixed 3-term query — one tokenize pass, one per-doc aggregate, one
    * broadcast stats row, TakeOrdered final. */
  def qBm25(s: SparkSession, d: String): DataFrame =
    TextOps.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("vector", "stream", "hash"), 10)

  /** Substring-level duplication stats: per doc, the share of its distinct
    * 3-token shingles that also occur in another document — linear
    * (df-as-window) formulation, no pair expansion. */
  def qDupNgramSpans(s: SparkSession, d: String): DataFrame =
    TextOps.dupSpanStats(Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy("doc_id")

  /** Exact-substring dedup at k=5 tokens ([[graft.operators.TextOps
    * .substringDedup]]): the train-prep operator that REMOVES verbatim
    * cross-document spans (the standard companion to MinHash in a
    * curation stack — near-dup clustering catches whole documents,
    * substring dedup catches the boilerplate/quotation mass inside
    * otherwise-unique ones). Per doc: exact token counts of the
    * duplicated-span union, the post-trim size, and the drop/trim/keep
    * decision. Linear end-to-end — shingle-df, never pairs. */
  def qSubstringDedup(s: SparkSession, d: String): DataFrame =
    TextOps.substringDedup(Tables.documents(s, d), "doc_id", "text", 5)
      .orderBy("doc_id")

  /** Strict ordered funnel view → click → purchase over the event log:
    * users reaching each stage, folded in ONE actor-keyed shuffle
    * ([[graft.operators.EventAnalytics.funnelStages]]). */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val st = EventAnalytics.funnelStages(Tables.events(s, d),
      "user_id", "ts", "event_type", "event_id", Seq("view", "click", "purchase"))
    st.agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .selectExpr("stack(3, 1L, 'view', n1, 2L, 'click', n2, 3L, 'purchase', n3) " +
        "AS (stage, stage_name, n_users)")
      .transform(ps(col("stage")))
  }

  /** Cohort retention grid: users cohorted by first-event week, counted in
    * every (cohort_week, week_offset) cell they are active in. */
  def qCohortRetention(s: SparkSession, d: String): DataFrame =
    EventAnalytics.cohortRetention(Tables.events(s, d), "user_id", "ts")
      .transform(ps(col("cohort_week"), col("week_offset")))

  /** Interval-overlap self-join: pairs of one customer's orders whose
    * 7-day fulfilment windows overlap — equi-join on the customer key with
    * the overlap test as residual (never a cartesian). */
  def qIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").as("w_start"),
      expr("o_orderdate + INTERVAL 7 DAYS").as("w_end"))
    Shuffles.intervalOverlapSelfJoin(o, "o_custkey", "o_orderkey", "w_start", "w_end")
      .select(col("k").as("o_custkey"), col("id_a").as("key_a"),
        col("id_b").as("key_b"),
        datediff(least(col("e_a"), col("e_b")), greatest(col("s_a"), col("s_b")))
          .cast("long").as("overlap_days"))
      .orderBy("o_custkey", "key_a", "key_b")
  }

  /** Deterministic weighted priority sample: 30 orders, inclusion odds
    * proportional to order value, fully reproducible from (key, weight)
    * ([[graft.operators.Ops.weightedSeededTopN]] — TakeOrderedAndProject). */
  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    Ops.weightedSeededTopN(Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        "o_orderkey", expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"), 30)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("__h").as("h"), col("__w").as("w_cents"))
      .orderBy("o_orderkey")

  /** Percentile-gated quality filter (train-prep): keep documents whose
    * whitespace-token count reaches the 25th percentile WITHIN their
    * language (per-language thresholds, as corpus filters are tuned).
    * The gate is `percent_rank() >= 0.25` — percent_rank is the integer
    * rational `(rank-1)/(n-1)`, ONE IEEE division, so the kept set is
    * bit-reproducible across engines (no interpolated quantile threshold
    * to drift in the last ulp). The window is lang-partitioned — never a
    * single-task global sort. */
  def qPercentileGate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      size(filter(split(Ops.normalizeText(col("text")), " "), t => t =!= ""))
        .cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_tokens"), col("doc_id"))
    toks.withColumn("pr0", percent_rank().over(w))
      .where(col("pr0") >= 0.25)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("pr0"), 6).as("pr"))
      .orderBy("doc_id")
  }

  /** Per-cohort standardization: each event's value as a z-score against
    * its event-type cohort. The 5-row stats aggregate is broadcast back —
    * the fact table is scanned once and never shuffled. */
  def qZscore(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("mu")) / nullif(col("sigma"), lit(0.0)), 4).as("z"))
      .orderBy("event_id")
  }

  /** Event-transition matrix (first-order Markov counts): for each ordered
    * per-user pair of consecutive events, the transition count and distinct
    * actors making it. One user-partitioned window + a bounded (5×5)
    * aggregate. */
  def qEventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
      .transform(ps(col("from_type"), col("to_type")))
  }

  /** Skyline / Pareto frontier per priority class: orders not dominated by
    * any strictly-later order with ≥ price, via a value-RANGE window (max
    * price over days > current) — sort + running max, NO pairwise
    * dominance join. Same-day peers are not compared (frontier over
    * distinct days). Days are integer (epoch-anchored) so the range frame
    * is engine-portable. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("days").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
          .cast("long").as("days"))
      .withColumn("best_later", max(col("o_totalprice")).over(w))
      .where(col("best_later").isNull || col("o_totalprice") > col("best_later"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("days"), col("o_totalprice"))
      .orderBy("o_orderpriority", "days", "o_orderkey")
  }

  /** Brute-force cosine top-k vs the vec_id=0 probe. Both engines compute
    * the dot/norms in double (the oracle casts FLOAT[] → DOUBLE[]), rank by
    * the 4-decimal-rounded similarity, and break ties by vec_id — so the
    * selected set is stable under the ~1e-15 summation-order drift and the
    * oracle hash-matches. Plans as TakeOrderedAndProject (per-partition
    * heaps, no global sort). */
  def qCosineTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, found) = probeOrEmpty(emb, 0)
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    emb.where(col("vec_id") =!= 0 && lit(found))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), probeCol), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** ONE driver round-trip for the whole IVF index state: the probe vector
    * (vec_id = 0) and the `nlist` seeded centroids fetched as a union of
    * two tiny plans — one collect, one scheduling round, instead of two
    * (the per-query latency floor is jobs, not rows). The centroid hash
    * rank is carried as a column and re-sorted driver-side, reproducing
    * [[graft.operators.Similarity.seededCentroids]]'s order exactly. */
  private[graft] def probeAndCentroids(emb: DataFrame, nlist: Int,
                                seed: Long = 42L): (Array[Double], Array[Array[Double]], Boolean) = {
    val h = Similarity.seededRank(col("vec_id"), seed)
    val rows = emb.where(col("vec_id") === 0)
      .select(lit(-1L).as("h"), col("vec_id").as("id"), col("embedding"))
      .unionAll(emb.where(col("vec_id") =!= 0)
        .orderBy(h, col("vec_id"))
        .limit(nlist)
        .select(h.as("h"), col("vec_id").as("id"), col("embedding")))
      .collect()
    val probeRow = rows.find(_.getLong(0) == -1L)
    val centroids = rows.filter(_.getLong(0) >= 0L)
      .sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(Similarity.toDoubleVec(_, 2))
    // Empty/pruned corpus: no probe row or no centroids — return dummy
    // index state plus found = false; callers gate their corpus scan with
    // `lit(found)` so the plan (and output schema) still builds and no row
    // is ever scored against the dummy. Inert on any non-empty corpus.
    if (probeRow.isEmpty || centroids.isEmpty)
      (Array(0.0), Array(Array(0.0)), false)
    else (Similarity.toDoubleVec(probeRow.get, 2), centroids, true)
  }

  /** IVF approximate nearest neighbor (rows-only: recall depends on nprobe,
    * so there is no exact SQL oracle; exhaustive-nprobe equivalence to brute
    * force is asserted in ScalaTest). */
  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, cents, found) = probeAndCentroids(emb, nlist = 16)
    // cap at the realized centroid count (a tiny table yields < nlist
    // centroids), mirroring ivfTopK's graceful degradation
    Similarity.ivfTopKPrecomputed(emb.where(col("vec_id") =!= 0 && lit(found)), "vec_id",
        "embedding", cents, probe, 10,
        nprobe = math.min(4, cents.length).max(1))
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** Signed-random-projection LSH approximate nearest neighbor — the
    * bucket-pruned scale path beside IVF: candidates = vectors whose 8-bit
    * hyperplane signature is within hamming 2 of the probe's, then exact
    * cosine rerank. Deterministic (seeded hyperplanes, total tie order) but
    * approximate in recall — rows-only like [[qAnnIvf]]; bucket-restricted
    * ⊆ brute-force equivalence is asserted in ScalaTest. */
  def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, found) = probeOrEmpty(emb, 0)
    Similarity.cosineTopKLsh(emb.where(col("vec_id") =!= 0 && lit(found)), "vec_id",
        "embedding", probe, 10, nBits = 8, hamming = 2)
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** The LSH path under the oracle: with `hamming == nBits` every vector
    * passes the bucket filter (a Hamming distance over nBits bits can
    * never exceed nBits), so the candidate set is the full corpus and the
    * exact cosine rerank is EXACTLY brute-force top-k — the recall dial's
    * honest endpoint for signed-random-projection LSH, the same way
    * `nprobe == nlist` is for IVF. The seeded hyperplane buckets and the
    * bit_count filter still EXECUTE for every row (the oracle covers the
    * whole bucket→filter→rerank pipeline, not a shortcut around it);
    * [[qAnnLsh]] keeps the pruned hamming=2 operating point, rows-only. */
  def qAnnLshExact(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, found) = probeOrEmpty(emb, 0)
    Similarity.cosineTopKLsh(emb.where(col("vec_id") =!= 0 && lit(found)), "vec_id",
        "embedding", probe, 10, nBits = 8, hamming = 8)
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** The IVF path under the oracle: with `nprobe == nlist` every inverted
    * list is scanned, so the result is EXACTLY brute-force top-k — the
    * DuckDB cosine oracle verifies the whole assign→prune→rerank pipeline
    * end to end (the recall dial's honest endpoint; [[qAnnIvf]] keeps the
    * pruned operating point, rows-only). */
  def qAnnExhaustive(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, cents, found) = probeAndCentroids(emb, nlist = 16)
    Similarity.ivfTopKPrecomputed(emb.where(col("vec_id") =!= 0 && lit(found)), "vec_id",
        "embedding", cents, probe, 10,
        nprobe = math.min(16, cents.length).max(1))
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** IVF recall audit — puts the approximate path's QUALITY on the oracle
    * board even though its row set is not ([[qAnnIvf]] stays rows-only):
    * recall@10 at every point of the probe dial, nprobe ∈ {1,2,4,8,16},
    * against the exact top-10, as exact integers. Exploits the containment
    * property of IVF's exact rerank: a true top-k member appears in the
    * IVF result iff its assigned list is probed (scanned candidates rerank
    * exactly, and a global top-k member outranks every non-member among
    * the candidates), so `recall(nprobe) = |{v ∈ exact top-k :
    * probe_rank(assign(v)) ≤ nprobe}| / k` — ONE TakeOrdered corpus pass
    * plus bounded broadcast arithmetic, never a 5× re-run of the pipeline.
    * Portability follows the md5-vs-xxhash64 doctrine
    * ([[graft.operators.TextOps]]): this audit twin selects its coarse
    * quantizer by the Knuth hash rank and snaps every cosine to e4 (the
    * [[qCosineTopk]] tolerance) before ANY comparison, so centroid
    * selection, assignment, probe ranking and the top-10 are each
    * integer-decided identically in both engines; the xxhash64 quantizer
    * stays the scale path (SimilaritySpec separately pins that shipped
    * dial's recall at nprobe=4, and QueriesSpec pins this audit's whole
    * curve against a brute-force replay plus the monotone/endpoint laws).
    * Output: 5 rows. */
  def qAnnIvfRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    def simE4(a: Column, b: Column): Column =
      round(cosine_sim(a, b) * 10000, 0).cast("bigint")
    val probe = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("p"))
    val corpus = emb.where(col("vec_id") =!= 0)
    // portable coarse quantizer: 16 centroids by Knuth-hash rank, indexed
    // 0..15 in selection order (the seededCentroids contract, portably)
    val knuth = expr("((vec_id % 2147483648) * 2654435761) % 4294967296")
    val cidx = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("c"),
        knuth.as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(16)
      .select(col("c"), (row_number().over(
        Window.orderBy(col("h"), col("vec_id"))) - 1L).as("ci"))
    // probe order of the 16 lists: rank centroids by snapped sim to probe
    val prank = cidx.crossJoin(broadcast(probe))
      .select(col("ci"), simE4(col("c"), col("p")).as("s"))
      .select(col("ci"), row_number().over(
        Window.orderBy(col("s").desc, col("ci"))).cast("bigint").as("pr"))
    // the one corpus pass: exact top-10 by snapped cosine (TakeOrdered)
    val top = corpus.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        simE4(col("embedding"), col("p")).as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(10)
    // assign each of the 10 to its nearest list (160-row broadcast nest)
    val assigned = top.crossJoin(broadcast(cidx))
      .select(col("vec_id"), col("ci"), simE4(col("v"), col("c")).as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("ci"))))
      .where(col("rn") === 1)
      .join(broadcast(prank), "ci")
    val levels = s.createDataFrame(Seq(1L, 2L, 4L, 8L, 16L).map(Tuple1(_)))
      .toDF("nprobe")
    broadcast(levels).crossJoin(assigned.select(col("pr")))
      .groupBy(col("nprobe"))
      .agg(sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L)).as("hits"))
      .select(col("nprobe"), lit(10L).as("k"), col("hits"),
        (col("hits") * 100000L).as("recall_ppm"))
      .transform(ps(col("nprobe")))
  }

  /** L2 norms over the embedding column — the array-function tier
    * (`transform`/`aggregate` higher-order functions) with an exact oracle. */
  def qVectorNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(Similarity.l2norm(col("embedding")), 4).as("l2"),
        col("label"))
      .orderBy("vec_id")

  /** Exact embedding near-dup pairs on a deterministic 10% sample — the
    * oracle-able tier of vector dedup. The unsampled scale path is
    * [[graft.operators.Similarity.embeddingNearDupPairs]] (LSH-blocked,
    * equi-join on bucket — never a cross join); this declared query keeps
    * exact all-pairs semantics so DuckDB can verify every similarity. */
  def qEmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).where(col("vec_id") % 10 === 0)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine_sim(col("va"), col("vb")), 4).as("sim"))
      .where(col("sim") >= 0.3)
      .orderBy("id_a", "id_b")
  }

  /** SimHash-64 near-dup buckets: docs whose simhashes are ≤8 bits apart,
    * LSH-blocked on the top-16 bits, pairs expanded inside each block
    * (one signature computation, one shuffle — same shape as
    * [[graft.operators.TextOps.lshCandidatePairs]]). No oracle: xxhash64
    * is Spark-private. */
  def qSimhashDedup(s: SparkSession, d: String): DataFrame = {
    val sh = TextOps.simhash64(Tables.documents(s, d), "doc_id", "text")
    sh.groupBy(shiftright(col("simhash"), 48).as("blk"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("docs"))
      .where(size(col("docs")) > 1)
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextOps.hammingDist(col("a.simhash"), col("b.simhash")).as("hamming"))
      .where(col("hamming") <= 8)
      .orderBy("id_a", "id_b")
  }

  /** Portable SimHash twin ON the oracle board — [[qSimhashDedup]] stays
    * the xxhash64 scale path (8-byte hashes, native one-sweep expression;
    * rows-only), and this twin replays the SAME pipeline shape
    * (signature → top-bits block → in-block pairs → hamming filter) with
    * an md5-derived 32-bit hash both engines compute identically: the
    * [[graft.operators.TextOps]] md5-vs-xxhash64 doctrine applied to
    * SimHash, retiring the last approximate family whose quality had no
    * oracle-checked row. Term frequency weights the votes (no token
    * dedup, matching [[graft.operators.TextOps.simhash64Agg]]); vote > 0
    * sets the bit; block = top 12 of 32 bits (4096 blocks — the same
    * 2^B/2^bits proportion as the 64-bit path's top-16); pairs at
    * hamming ≤ 4. Pair-output by semantics (Ω(true near-dup mass), the
    * [[qSetsimJoin]] demo-tier contract — measured 2 411 375 pairs at
    * sf1, both engines agreeing), and like every fixed-bit LSH block the
    * CANDIDATE mass is n²/4096 worst-case — the demo tier; the xxhash64
    * scale path carries the production dial. The 32 bit-votes aggregate
    * map-side in ONE token-grain census; the self-join is block-keyed
    * equi — never all-pairs.
    *
    * Degenerate-block guard (DECLARED semantics, mirrored in the
    * oracle): blocks over [[SimhashMaxBucket]] = 2000 members are
    * skipped before pair expansion — the
    * [[graft.operators.TextOps.lshCandidatePairs]] `maxBucket` doctrine
    * applied to this block join, so a templated/near-empty corpus slice
    * whose votes collapse to one 12-bit prefix can never go n²/4096
    * unbounded (worst surviving block costs C(2000,2) ≈ 2 M in-task
    * pairs). The cap sits above the largest ORGANIC block ever observed
    * (1 220 members over 50 000 docs at the sf1 fixture, max 23 at
    * sf0.001 / 12 at sf0.01), so on non-degenerate corpora — including
    * every fixture — the guard provably filters nothing and the
    * recorded results stand; like [[qLinkPredict]]'s deg ≤ 50 it is part
    * of what the query MEANS, not a silent truncation. Sized BEFORE any
    * pair is built via a count aggregate on the block key the self-join
    * already shuffles on. */
  def qSimhashPortable(s: SparkSession, d: String): DataFrame =
    simhashPortablePairs(Tables.documents(s, d), SimhashMaxBucket)

  /** The declared per-block membership cap of [[qSimhashPortable]]. */
  val SimhashMaxBucket = 2000

  /** [[qSimhashPortable]]'s pipeline, parameterized on the corpus and the
    * block cap so the guard is testable against a degenerate fixture
    * (every doc identical → one block of n members → capped to zero
    * pairs) without touching the declared production semantics. */
  private[graft] def simhashPortablePairs(docs: DataFrame,
                                          maxBucket: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Ops.normalizeText(col("text")).as("t"))
      .where(col("t") =!= "")
      .select(col("doc_id"), explode(split(col("t"), " ")).as("token"))
      .withColumn("h",
        expr("CAST(conv(substr(md5(token), 1, 8), 16, 10) AS BIGINT)"))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b")
    }
    val packed = (0 until 32).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val sig = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("sig"))
      .withColumn("blk", shiftright(col("sig"), 20))
    // Guard: size each block BEFORE pair expansion; singleton blocks
    // cannot pair and oversized blocks are the declared degenerate cap.
    // shuffle-hash keeps both sides on the blk hash partitioning the
    // pair join needs anyway (same shape as lshCandidatePairs' guard).
    val keep = sig.groupBy("blk").agg(count(lit(1)).as("__n"))
      .where(col("__n").between(2, maxBucket))
      .select("blk").hint("shuffle_hash")
    val kept = sig.join(keep, Seq("blk"))
    kept.as("a").join(kept.as("b"),
        expr("a.blk = b.blk AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("bigint")
          .as("hamming"))
      .where(col("hamming") <= 4)
      .orderBy("id_a", "id_b")
  }

  /** Pivot: quantities by return flag × line status as columns. Pivot
    * values are declared explicitly — at scale, never let pivot() run its
    * value-discovery pre-query over the full input. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .transform(ps(col("l_returnflag")))

  /** Equi + range join: lineitems shipped within 30 days of their order's
    * date. The equi key makes this a plain co-partitioned join with the
    * range as a residual filter — the shape Catalyst handles natively
    * (keyless ranges use [[graft.operators.Ops.binnedRangeJoin]]). */
  def qRangeJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .orderBy("o_orderkey")

  /** Typed JSON parsing via from_json (vs [[qJsonExtract]]'s path
    * extraction): parse `props` into a struct and project the typed field. */
  def qJsonStruct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))
      .orderBy("event_id")

  /** Numeric RANGE window frame: per user, sum of `value` over events whose
    * event_id lies within 5 of the current one. */
  def qWindowRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rangeBetween(-5, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 2).as("recent_sum"))
      .orderBy("user_id", "event_id")
  }

  /** Trending leaderboard: per day, the top-3 event types by TRAILING
    * 7-day volume — the sliding-window rank behind every "trending now"
    * surface. The daily grid is one map-side-combinable aggregate
    * (calendar × |types| rows at ANY event volume — the only pass over
    * the fact); the trailing sum is a type-keyed RANGE frame over the
    * integer day key (gap-correct: absent days simply contribute
    * nothing), and the leaderboard rank is day-keyed over the bounded
    * type set. Nothing after the first aggregate touches O(events)
    * rows. */
  def qTrending(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dkey",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val wroll = Window.partitionBy(col("event_type")).orderBy(col("dkey"))
      .rangeBetween(-6, 0)
    val wrank = Window.partitionBy(col("day"))
      .orderBy(col("n7").desc, col("event_type"))
    daily.withColumn("n7", sum(col("n")).over(wroll))
      .withColumn("rnk", row_number().over(wrank).cast("long"))
      .where(col("rnk") <= 3)
      .select(col("day"), col("rnk"), col("event_type"), col("n7"))
      .orderBy("day", "rnk")
  }

  /** lag(): exact µs gap between consecutive events per user (µs integer
    * arithmetic on both engines — no float, no truncation drift). */
  def qWindowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** INTERSECT: customers having both a fulfilled ('F') and an open ('O')
    * order. */
  def qSetIntersect(s: SparkSession, d: String): DataFrame = {
    val f = Tables.orders(s, d).where(col("o_orderstatus") === "F").select("o_custkey")
    val o = Tables.orders(s, d).where(col("o_orderstatus") === "O").select("o_custkey")
    f.intersect(o).orderBy("o_custkey")
  }

  /** Calendar aggregation: revenue per month via date_trunc. */
  def qMonthlyRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n"))
      .transform(ps(col("month")))

  /** Zero-padded object naming (the reference's `batch_%06d.json`,
    * create_artist_batches.py:34). */
  def qBatchFormat(s: SparkSession, d: String): DataFrame =
    Ops.runningSums(Tables.customer(s, d).select("c_custkey"), Nil,
        Seq("c_custkey"), "rn" -> lit(1L))
      .select(col("c_custkey"),
        format_string("batch_%06d.json", expr("(rn - 1) div 500 + 1")).as("object_name"))
      .orderBy("c_custkey")

  /** Full CUBE: every grouping-set combination of (flag, status) in one
    * pass. */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("n"))
      .transform(ps(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** Hierarchical aggregation via ROLLUP: per (flag, status), per flag, and
    * grand total in one pass (partial-aggregated like any groupBy). */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .transform(ps(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** Token counting: whitespace tokens + a BPE-ish pre-tokenizer regex
    * (letter runs / digit runs / single punctuation) — both expressible in
    * the oracle's regex dialect. */
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(filter(split(Ops.normalizeText(col("text")), " "), t => t =!= ""))
        .cast("long").as("ws_tokens"),
      TextOps.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens"))
      .orderBy("doc_id")

  /** Left-anti join: customers with no high-value (>400k) order — the
    * complement of the S18 semi-join shape. The filter is applied to the
    * right side BEFORE the join, so the anti probe is against the small
    * filtered set. */
  def qAntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_totalprice") > 400000).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Explicit GROUPING SETS — per-flag and per-status marginals in one pass
    * (the cube/rollup generalization; partial-aggregates like any groupBy). */
  def qGroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .transform(ps(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** Skew-salted fact⋈dim join ([[graft.operators.Shuffles.saltedJoin]]):
    * events fan in on 150 distinct user_ids, the canonical hot-key shape.
    * The salt spreads each key over 8 subkeys; the oracle is the PLAIN join
    * — proving the salted plan is semantics-preserving end to end. */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id").as("k"), col("value"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    Shuffles.saltedJoin(ev, cust, "k", salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .transform(ps(col("c_mktsegment")))
  }

  /** Sliding 6-hour windows advancing every 3 hours via the streaming-
    * compatible `window()` operator over static events — each event lands
    * in exactly 6h/3h = 2 overlapping windows (the oracle restates the
    * epoch-aligned membership as a 2-row generator cross join). */
  def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("n"), col("total"))
      .orderBy("window_start_us")

  /** Bloom-runtime-filtered semi-join ([[graft.operators.Shuffles.bloomSemiJoin]]):
    * lineitems of high-value orders, with the fact side pre-filtered by a
    * bloom sketch of the qualifying order keys INSIDE the scan stage — only
    * ~|matches| rows reach the shuffle. The oracle is the PLAIN semi-join:
    * bloom false positives are dropped by the exact join, so the filter is
    * proven semantics-preserving end to end. */
  def qBloomSemiJoin(s: SparkSession, d: String): DataFrame = {
    val highValue = Tables.orders(s, d)
      .where(col("o_totalprice") > 300000).select("o_orderkey")
    Shuffles.bloomSemiJoin(Tables.lineitem(s, d), highValue,
        "l_orderkey", "o_orderkey", expectedItems = 100000L)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      // full-column sort: (l_orderkey, l_linenumber) is not unique in the
      // fixture, so the price column must participate for a total order
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** Session windows in BATCH: events within 24 h of the previous event
    * merge into one session per user (`session_window` — the same operator
    * Structured Streaming uses, here over the static table). Output keyed
    * by the session's first-event time in µs (integer — no timestamp
    * precision drift against the oracle). */
  def qSessionize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "24 hours"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"), col("total"))
      .orderBy("user_id", "session_start_us")

  /** CLOSED sessions at a 30-minute gap — the batch statement of the
    * streaming contract ([[graft.streaming.EventStreams
    * .closedSessionsBatch]]): lag/gap sessionization minus each user's
    * trailing still-open session, i.e. exactly the set the
    * `flatMapGroupsWithState` emitter has produced after an AvailableNow
    * replay of the same log (StreamingSpec asserts that equality; this
    * row puts the same semantics on the oracle board). All windows
    * user-keyed; output one row per closed session in epoch micros. */
  def qClosedSessions(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams.closedSessionsBatch(Tables.events(s, d), 30)
      .orderBy("user_id", "start_us")

  /** Stream-stream interval join on the oracle board — the one stateful
    * streaming operator whose batch statement had no `q_*` row
    * ([[qClosedSessions]]/[[qRunningTopk]] cover the session and top-k
    * state shapes): each event paired with same-user events in
    * `[ts, ts + 30 min]`, self-pairs excluded. Runs the LITERAL streaming
    * operator [[graft.streaming.EventStreams.intervalJoin]] — on a batch
    * frame Catalyst's EliminateEventTimeWatermark drops the watermark
    * nodes and the identical join tree executes as a plain theta join, so
    * this row and the StreamingSpec AvailableNow replay assert the same
    * frame from both engines' sides. Scale shape: the join keys on
    * user_id with a bounded ±30 min time band, so with watermarks the
    * stream state is bounded per key and the pair mass is fact-LINEAR
    * (the per-user event rate is a constant of the fixture — measured
    * 459 pairs at sf0.01 → 46 440 at sf1, ratio 101). */
  def qStreamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.streaming.EventStreams.intervalJoin(ev, ev, "10 minutes", "30 minutes")
      .orderBy("user_id", "l_event_id", "r_event_id")
  }

  /** Language-ID heuristic (script detection + stopword voting) — the
    * semantics stay fully declarative so the oracle restates them in SQL;
    * the execution is the native zero-shuffle single-sweep expression
    * ([[graft.operators.TextOps.langIdNative]] / StopwordVotes — the
    * explode+aggregate form is the cross-checked reference). */
  def qLangId(s: SparkSession, d: String): DataFrame =
    TextOps.langIdNative(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** As-of join: each event picks the customer's latest order at or before
    * the event time (greatest (o_orderdate, o_orderkey)). Runs the scalable
    * union+carry-forward operator ([[graft.operators.AsOfJoin]]) — one
    * shuffle of |L|+|R|; the oracle states the same semantics naively. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
    val ord = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
    graft.operators.AsOfJoin.asOf(ev, ord, "user_id", "ts", "o_orderdate",
        "o_orderkey")
      .select("event_id", "user_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Nearest as-of join: each event picks the customer's order closest in
    * time on either side (backward preferred on exact ties), with the
    * winning |distance| in µs. One |L|+|R| shuffle computes both
    * directional carries over a single window sort
    * ([[graft.operators.AsOfJoin.asOfNearest]]); the oracle restates the
    * semantics as the naive pair ranking, which the operator must match
    * without ever materializing the pairs. */
  def qAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
    val ord = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
    graft.operators.AsOfJoin.asOfNearest(ev, ord, "user_id", "ts",
        "o_orderdate", "o_orderkey")
      .select("event_id", "user_id", "o_orderkey", "dist_us")
      .orderBy("event_id")
  }

  /** Exact interpolated percentiles + median per group (≡ DuckDB
    * `quantile_cont` on the integer-unit inputs), via
    * [[graft.operators.Ops.exactPercentileBounds]] — distributed
    * two-round selection + EXACT integer interpolation. Spark's built-in
    * exact `percentile` aggregate buffers a whole group in one task
    * (measured 7× slower at sf0.1, and an OOM at 100 TB); the sort-based
    * form spills and parallelizes.
    *
    * Determinism: inputs are integer units (price cents, whole qty), and
    * since every requested p has p·20 integer (5/10/18), the interpolated
    * value is EXACTLY `(lo·20 + (hi−lo)·((n−1)·p·20 mod 20)) / 20` —
    * computed in long arithmetic and divided once at the end, identical
    * in any engine. The previous `round(lo + frac·(hi−lo), 2)` flipped a
    * cent at sf0.001 where the p50 midpoint landed on a .xx5 boundary
    * (Spark BigDecimal-HALF_UP vs DuckDB multiply-round). */
  def qPercentiles(s: SparkSession, d: String): DataFrame = {
    // melt both metrics into one (group, metric) pass — one ranking
    // pipeline (and one pair of tiny stats/offset jobs) instead of two
    val melted = Tables.lineitem(s, d).select(col("l_returnflag"),
      expr("stack(2, 'price', CAST(round(l_extendedprice * 100, 0) AS DOUBLE), " +
        "'qty', CAST(round(l_quantity, 0) AS DOUBLE)) AS (metric, v)"))
    val b = Ops.exactPercentileBounds(melted, Seq("l_returnflag", "metric"), "v",
      Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
    def c20(name: String, p20: Int) =
      col(s"${name}_lo").cast("long") * 20 +
        (col(s"${name}_hi").cast("long") - col(s"${name}_lo").cast("long")) *
          expr(s"((n - 1) * $p20) % 20")
    val pct = b.select(col("l_returnflag"), col("metric"),
      c20("p25", 5).as("p25_20"), c20("p50", 10).as("p50_20"),
      c20("p90", 18).as("p90_20"))
    pct.groupBy("l_returnflag").agg(
        (max(when(col("metric") === "price", col("p25_20"))).cast("double") / 2000.0).as("p25"),
        (max(when(col("metric") === "price", col("p50_20"))).cast("double") / 2000.0).as("p50"),
        (max(when(col("metric") === "price", col("p90_20"))).cast("double") / 2000.0).as("p90"),
        (max(when(col("metric") === "qty", col("p50_20"))).cast("double") / 20.0).as("med_qty"))
      .transform(ps(col("l_returnflag")))
  }

  /** Deterministic arg-max via struct-ordered max: per segment, the
    * highest-balance customer, ties broken by custkey — one partial-agg
    * pass, no window. (`max_by` alone has nondeterministic ties; the
    * struct's lexicographic order makes the winner total.) */
  def qArgmax(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(max(struct(col("c_acctbal"), col("c_custkey"), col("c_name"))).as("top"))
      .select(col("c_mktsegment"), col("top.c_acctbal").as("top_acctbal"),
        col("top.c_custkey").as("top_custkey"), col("top.c_name").as("top_name"))
      .transform(ps(col("c_mktsegment")))

  /** Conditional aggregation (FILTER-clause semantics): count_if /
    * filtered sum / filtered distinct-count in one grouped pass. */
  def qConditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_quantity") > 25).as("hi_qty_n"),
        round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))), 2).as("disc_rev"),
        countDistinct(when(col("l_quantity") < 5, col("l_partkey"))).as("lo_qty_parts"))
      .transform(ps(col("l_returnflag")))

  /** Statistical aggregates: sample stddev/variance, correlation,
    * covariance — all partial-mergeable (Welford-style) so they scale like
    * any groupBy; rounded because merge order perturbs low-order bits. */
  def qStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"))
      .transform(ps(col("l_returnflag")))

  /** Ordered set aggregation to a canonical string: per user, the sorted
    * distinct event types. `sort_array(collect_set(...))` keeps the result
    * deterministic regardless of partition order. */
  def qStringAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** Map-typed JSON: parse `props` into map<string,int>, project the sorted
    * key list (canonical string form) and a typed value lookup. */
  def qMapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("props").isNotNull)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_id"),
        concat_ws(",", sort_array(map_keys(col("m")))).as("keys"),
        col("m").getItem("k").as("k"))
      .orderBy("event_id")

  /** Variable-precision date parsing — the reference's `release_date` can
    * be YYYY, YYYY-MM, or YYYY-MM-DD (spotify_etl_v2.py:165). Re-created
    * here by formatting o_orderdate at 3 precisions, then parsed by
    * normalize-then-parse-ONCE: pad the missing "-01"/"-01-01" suffix by
    * length and run a single strict `try_to_date` — one formatter pass per
    * row instead of a 3-deep `coalesce(try_to_date...)` fallback chain
    * (measured 2× the parse cost; results identical — a malformed string
    * fails the strict full pattern either way). The oracle states the
    * same semantics with DuckDB's strict `try_strptime` chain. */
  def qDateParse(s: SparkSession, d: String): DataFrame = {
    val raw = when(pmod(col("o_orderkey"), lit(3)) === 0, date_format(col("o_orderdate"), "yyyy"))
      .when(pmod(col("o_orderkey"), lit(3)) === 1, date_format(col("o_orderdate"), "yyyy-MM"))
      .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), raw.as("release_date"))
      .withColumn("parsed", Ops.parsePartialDate(col("release_date")))
      .orderBy("o_orderkey")
  }

  /** Scalar subquery through the SQL surface: customers above the global
    * average balance (subquery plans as a one-row broadcast). */
  def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer
             WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
             ORDER BY c_custkey""")
  }

  /** Correlated EXISTS through the SQL surface (Catalyst rewrites it to the
    * same left-semi join as [[qSemiJoin]] — asserted in PlanSpec). */
  def qExistsSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""SELECT c_custkey, c_name FROM customer c
             WHERE EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
             ORDER BY c_custkey""")
  }

  /** ntile quartile assignment per segment (deterministic: the window order
    * is total). */
  def qNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("c_custkey")
  }

  /** first_value/last_value over an unbounded frame: each event annotated
    * with its user's first and last `value`. Doubles pass through untouched
    * (bit-identical from the shared parquet — no rounding needed). */
  def qFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        first(col("value")).over(w).as("first_val"),
        last(col("value")).over(w).as("last_val"))
      .orderBy("user_id", "event_id")
  }

  /** Calendar densification (gap filling): a generated month spine LEFT
    * JOINed against monthly revenue, missing months zero-filled — the
    * standard reporting shape `sequence()` + join expresses declaratively
    * (the spine is a LocalRelation-sized generator, never data-derived
    * state). Output is calendar-bounded, so presentation-sorted. */
  def qDateSeries(s: SparkSession, d: String): DataFrame = {
    val months = s.range(1).select(explode(sequence(
      lit("1995-01-01").cast("date"), lit("2001-08-01").cast("date"),
      expr("INTERVAL 1 MONTH"))).as("month"))
    val rev = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n"))
    months.join(rev, Seq("month"), "left")
      .select(col("month"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("n"), lit(0L)).as("n"))
      .transform(ps(col("month")))
  }

  /** String-function tier sampler (every function portable to the oracle
    * dialect): case mapping, padding, reversal, substring replacement,
    * repetition, and edit distance against a fixed probe term. */
  def qStringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up"),
        lpad(col("p_brand"), 12, "#").as("padded"),
        reverse(col("p_type")).as("rev"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        repeat(col("p_brand"), 2).as("doubled"),
        levenshtein(col("p_type"), lit("ECONOMY")).cast("long").as("edit_dist"))
      .orderBy("p_partkey")

  /** MERGE-INTO upsert ([[graft.operators.Ops.mergeUpsert]]): a batch of
    * updates (balance bump, segment retag) and inserts (re-keyed copies)
    * applied to the customer dimension — matched keys take the update,
    * new keys insert, the rest pass through. The oracle restates the
    * union + first-wins window directly. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
    val updates = base.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal") + 1000, 2).as("c_acctbal"),
        lit("UPDATED").as("c_mktsegment"))
      // inserts are re-keyed STRICTLY negative (-(k+1), so -0 cannot alias
      // key 0) — they can never collide with a real key at any scale factor
      .unionByName(base.where(col("c_custkey") % 13 === 0)
        .select((-col("c_custkey") - 1).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), lit("INSERTED").as("c_mktsegment")))
    Ops.mergeUpsert(base, updates, Seq("c_custkey")).orderBy("c_custkey")
  }

  /** CDC changelog apply ([[graft.operators.Ops.applyChangelog]]): events
    * as a keyed change stream — per user the latest record wins, and a
    * latest 'error' record deletes the key. The surviving state table is
    * keyed by user with the last value and time. */
  def qCdcApply(s: SparkSession, d: String): DataFrame =
    Ops.applyChangelog(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"), col("event_id")),
        Seq("user_id"), "event_type", "error",
        Seq(col("ts_us"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("value"), col("ts_us"))
      .orderBy("user_id")

  /** Wide→long melt via the native `unpivot` operator (the inverse of
    * [[qPivot]]): the three lineitem measures stacked into (metric, v)
    * rows, then aggregated per (flag, metric). Unpivot is a row-local
    * generator — no shuffle beyond the final groupBy. */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "v")
      .groupBy("l_returnflag", "metric")
      .agg(round(sum(col("v")), 2).as("total"), count(lit(1)).as("n"))
      .transform(ps(col("l_returnflag"), col("metric")))

  /** Lateral explode with empty-array preservation: each document's long
    * (≥8-char) tokens, one row per token, and documents with NO long token
    * kept as a single null-token row (`explode_outer` — the LEFT JOIN
    * LATERAL shape; plain `explode` would silently drop them). */
  def qExplodeOuter(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode_outer(filter(split(Ops.normalizeText(col("text")), " "),
          t => length(t) >= 8)).as("token"))
      .orderBy(col("doc_id"), col("token").asc_nulls_first)

  /** Regex capture-group extraction (the reference's string-wrangling tier
    * generalized): first word of the part name, trailing word of the type,
    * numeric suffix of the brand. Spark and the oracle both return '' on
    * no-match. */
  def qRegexpExtract(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "(\\w+)$", 1).as("last_type_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))
      .orderBy("p_partkey")

  /** Array algebra over collected sets: per user, the sorted distinct
    * event-type array intersected / unioned / subtracted against a fixed
    * reference set. Arrays canonicalized (sorted, comma-joined) so the
    * result is order-insensitive and portable. */
  def qArrayFuncs(s: SparkSession, d: String): DataFrame = {
    val ref = array(lit("purchase"), lit("signup"), lit("error"))
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
      .select(col("user_id"),
        concat_ws(",", col("types")).as("types"),
        // types is sorted-distinct, so intersect/except (which preserve
        // left order) are already canonical
        concat_ws(",", array_intersect(col("types"), ref)).as("overlap"),
        concat_ws(",", sort_array(array_union(col("types"), ref))).as("combined"),
        concat_ws(",", array_except(col("types"), ref)).as("extra"),
        size(col("types")).cast("long").as("n_types"))
      .orderBy("user_id")
  }

  /** Calendar arithmetic: due date (+90 days), days since an epoch date,
    * end-of-month, ISO weekday, quarter — the date-function tier beyond
    * parsing ([[qDateParse]]) and truncation ([[qMonthlyRevenue]]). */
  def qDateArith(s: SparkSession, d: String): DataFrame = {
    val od = col("o_orderdate").cast("date")
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        date_add(od, 90).as("due_date"),
        datediff(od, lit("1992-01-01").cast("date")).cast("long").as("days_since"),
        last_day(od).as("month_end"),
        (weekday(od) + 1).cast("long").as("isodow"),
        quarter(od).cast("long").as("qtr"))
      .orderBy("o_orderkey")
  }

  /** Fixed-width histogram via explicit integer bucketing — pure arithmetic
    * (no engine-specific width_bucket), so the binning is bit-identical
    * everywhere and aggregates map-side like any groupBy. */
  def qHistogram(s: SparkSession, d: String): DataFrame = {
    val bucket = floor(col("o_totalprice") / 50000).cast("long")
    Tables.orders(s, d)
      .select(bucket.as("bucket"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("pc"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("spc"))
      // exact round-half-up mean in cents (roundDiv) — avg(double) lands
      // on engine-divergent .xx5 boundaries when n carries a factor of 5
      .withColumn("avg_price",
        expr(roundDiv("spc", "n", 1L)).cast("double") / 100.0)
      .withColumn("range",
        format_string("[%d,%d)", col("bucket") * 50000, (col("bucket") + 1) * 50000))
      .select("bucket", "range", "n", "avg_price")
      .transform(ps(col("bucket")))
  }

  /** FULL OUTER join on deliberately disjoint key ranges: orders-per-day
    * (1995-2001) against events-per-day (2024) — every row has one null
    * side, exercising both unmatched directions at once. */
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("orders_n"))
    val e = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("events_n"))
    o.join(e, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("orders_n"), lit(0L)).as("orders_n"),
        coalesce(col("events_n"), lit(0L)).as("events_n"))
      .transform(ps(col("day")))
  }

  /** Relative-rank window functions: percent_rank and cume_dist over a
    * TOTAL order (acctbal, custkey) — ties impossible, so both engines
    * produce identical ranks; rounded against division drift. */
  def qPercentRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("c_custkey")
  }

  /** Stratified deterministic sampling: exactly 5 customers per market
    * segment, chosen by seeded Knuth-hash order within each stratum — the
    * per-group generalization of [[qSeededSample]]. One window pass; no
    * rand(), so reruns and retries return the same sample. */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(Ops.seededHash(col("c_custkey"), 0L), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        row_number().over(w).cast("long").as("rn"))
      .where(col("rn") <= 5)
      .orderBy("c_mktsegment", "rn")
  }

  /** SCD-2 effective-dated dimension build: each customer's order history
    * becomes versioned rows with [valid_from, valid_to) ranges via lead()
    * — valid_to = next version's start, null (open-ended) for the current
    * row. The standard warehouse dimension-maintenance shape. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("valid_from"),
        lead(col("o_orderdate").cast("date"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Multimodal-column plumbing with an exact oracle: the text payload
    * treated as an opaque BINARY column — byte length (≠ char length for
    * non-ASCII), md5 digest of the raw bytes, and a hex "magic number"
    * sniff of the leading bytes (the first 4 characters' UTF-8 encoding,
    * so both engines slice at a char boundary). The real decode/feature
    * paths over such columns live in [[graft.operators.Multimodal]]. */
  def qBinaryMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        length(col("text")).cast("long").as("char_len"),
        md5(col("text").cast("binary")).as("digest"),
        lower(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic"))
      .orderBy("doc_id")

  /** Schema-evolution append: two entity versions unioned BY NAME with a
    * missing column null-filled (`allowMissingColumns` — positional UNION
    * would silently mis-align). The supplier side models a v1 schema
    * without the balance column. */
  def qUnionByName(s: SparkSession, d: String): DataFrame = {
    val v2 = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
    val v1 = Tables.supplier(s, d)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        lit("supplier").as("src"))
    v2.unionByName(v1, allowMissingColumns = true).orderBy("src", "id")
  }

  /** Tumbling 6-hour windows via the streaming-compatible `window()`
    * operator over the static events table (epoch-aligned buckets — the
    * oracle restates the alignment in integer µs arithmetic). */
  def qTumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total"))
      .orderBy("window_start_us", "event_type")

  // --------------------------------------- training-data prep tier (r4)

  /** Benchmark decontamination ([[graft.operators.TrainPrep.contaminationFlags]]):
    * docs outside source `src0` that share an 8-token shingle with the
    * `src0` "benchmark" split — the n-gram-overlap contamination check run
    * before training. Benchmark digests broadcast; corpus never shuffled
    * before the per-doc count. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TrainPrep.contaminationFlags(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", 8)
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals: duplicate-word fraction and
    * top-bigram fraction per document. */
  def qRepetitionScore(s: SparkSession, d: String): DataFrame =
    TrainPrep.repetitionStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Top-3 tokens per doc by integer-arithmetic TF-IDF (exact, portable:
    * (tf·10⁹) div df — no log/float in the ranking key; the corpus size N
    * is dropped as a rank-preserving global constant). */
  def qTfidf(s: SparkSession, d: String): DataFrame =
    TrainPrep.tfIdfTopK(Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy("doc_id", "rk")

  private[graft] val registryCore: Map[String, Q] = Map(
    "q_scan_project" -> (qScanProject _),
    "q_filter_nonnull" -> (qFilterNonnull _),
    "q_distinct_ids" -> (qDistinctIds _),
    "q_sorted_distinct" -> (qSortedDistinct _),
    "q_dedup_first_wins" -> (qDedupFirstWins _),
    "q_dedup_pairs" -> (qDedupPairs _),
    "q_seeded_sample" -> (qSeededSample _),
    "q_batch_assign" -> (qBatchAssign _),
    "q_normalize_text" -> (qNormalizeText _),
    "q_json_extract" -> (qJsonExtract _),
    "q_bridge_table" -> (qBridgeTable _),
    "q_semi_join" -> (qSemiJoin _),
    "q_partitioned_counts" -> (qPartitionedCounts _),
    "q_entity_counts" -> (qEntityCounts _),
    "q_agg_pricing" -> (qAggPricing _),
    "q_join_agg" -> (qJoinAgg _),
    "q_window_topk" -> (qWindowTopk _),
    "q_window_running" -> (qWindowRunning _),
    "q_set_ops" -> (qSetOps _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_text_tokens" -> (qTextTokens _),
    "q_minhash_signature" -> (qMinhashSignature _),
    "q_minhash_dedup" -> (qMinhashDedup _),
    "q_setsim_join" -> (qSetsimJoin _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_doc_fingerprint" -> (qDocFingerprint _),
    "q_exact_dedup" -> (qExactDedup _),
    "q_quality_score" -> (qQualityScore _),
    "q_cosine_topk" -> (qCosineTopk _),
    "q_simhash_dedup" -> (qSimhashDedup _),
    "q_simhash_portable" -> (qSimhashPortable _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_nearest" -> (qAsofNearest _),
    "q_rollup" -> (qRollup _),
    "q_token_count" -> (qTokenCount _),
    "q_window_range" -> (qWindowRange _),
    "q_trending" -> (qTrending _),
    "q_window_lag" -> (qWindowLag _),
    "q_set_intersect" -> (qSetIntersect _),
    "q_monthly_revenue" -> (qMonthlyRevenue _),
    "q_batch_format" -> (qBatchFormat _),
    "q_json_struct" -> (qJsonStruct _),
    "q_cube" -> (qCube _),
    "q_range_join" -> (qRangeJoin _),
    "q_pivot" -> (qPivot _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_exhaustive" -> (qAnnExhaustive _),
    "q_ann_lsh_exact" -> (qAnnLshExact _),
    "q_ann_ivf_recall" -> (qAnnIvfRecall _),
    "q_vector_norm" -> (qVectorNorm _),
    "q_embed_neardup" -> (qEmbedNeardup _),
    "q_anti_join" -> (qAntiJoin _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_sessionize" -> (qSessionize _),
    "q_closed_sessions" -> (qClosedSessions _),
    "q_stream_interval_join" -> (qStreamIntervalJoin _),
    "q_lang_id" -> (qLangId _),
    "q_percentiles" -> (qPercentiles _),
    "q_argmax" -> (qArgmax _),
    "q_conditional_agg" -> (qConditionalAgg _),
    "q_stats" -> (qStats _),
    "q_string_agg" -> (qStringAgg _),
    "q_map_funcs" -> (qMapFuncs _),
    "q_date_parse" -> (qDateParse _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_exists_subquery" -> (qExistsSubquery _),
    "q_ntile" -> (qNtile _),
    "q_first_last" -> (qFirstLast _),
    "q_unpivot" -> (qUnpivot _),
    "q_explode_outer" -> (qExplodeOuter _),
    "q_regexp_extract" -> (qRegexpExtract _),
    "q_array_funcs" -> (qArrayFuncs _),
    "q_date_arith" -> (qDateArith _),
    "q_histogram" -> (qHistogram _),
    "q_full_outer" -> (qFullOuter _),
    "q_percent_rank" -> (qPercentRank _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_scd2" -> (qScd2 _),
    "q_binary_meta" -> (qBinaryMeta _),
    "q_union_by_name" -> (qUnionByName _),
    "q_tumbling_window" -> (qTumblingWindow _),
    "q_bloom_semi_join" -> (qBloomSemiJoin _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_date_series" -> (qDateSeries _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_sliding_window" -> (qSlidingWindow _),
    "q_minhash_dedup_map" -> (qMinhashDedupMap _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_repetition_score" -> (qRepetitionScore _),
    "q_tfidf" -> (qTfidf _),
    "q_quality_filter" -> (qQualityFilter _),
    "q_ngram_counts" -> (qNgramCounts _),
    "q_kmeans_step" -> (qKmeansStep _),
    "q_vector_quantize" -> (qVectorQuantize _),
    "q_knn_join" -> (qKnnJoin _),
    "q_knn_join_blocked" -> (qKnnJoinBlocked _),
    "q_sem_dedup" -> (qSemDedup _),
    "q_minhash_est" -> (qMinhashEst _),
    "q_bm25" -> (qBm25 _),
    "q_dup_ngram_spans" -> (qDupNgramSpans _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_funnel" -> (qFunnel _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_percentile_gate" -> (qPercentileGate _),
    "q_zscore" -> (qZscore _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_skyline" -> (qSkyline _),
  )

  private[graft] val oraclesCore: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_returnflag",
    "q_filter_nonnull" ->
      "SELECT event_id, user_id, event_type, value FROM events WHERE props IS NOT NULL AND event_type <> 'error' ORDER BY event_id",
    "q_distinct_ids" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q_sorted_distinct" ->
      "SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL ORDER BY l_partkey",
    "q_dedup_first_wins" ->
      "SELECT user_id, event_id, event_type FROM (SELECT user_id, event_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) t WHERE rn = 1 ORDER BY user_id",
    "q_dedup_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
    "q_seeded_sample" ->
      "SELECT c_custkey, ((c_custkey % 2147483648) * 2654435761) % 4294967296 AS h FROM customer ORDER BY h, c_custkey LIMIT 20",
    "q_batch_assign" ->
      "SELECT c_custkey, c_name, CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 500) AS BIGINT) + 1 AS batch_id FROM customer ORDER BY c_custkey",
    "q_normalize_text" ->
      """SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text FROM documents ORDER BY doc_id""",
    "q_json_extract" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST",
    "q_bridge_table" ->
      "SELECT DISTINCT o_orderkey, c_custkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey",
    "q_semi_join" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') ORDER BY l_orderkey, l_linenumber, l_quantity",
    "q_partitioned_counts" ->
      "SELECT CAST(ts AS DATE) AS event_date, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",
    "q_entity_counts" ->
      Tables.entityNames.map(n => s"SELECT '$n' AS entity, count(*) AS n FROM $n")
        .mkString("SELECT entity, n FROM (", " UNION ALL ", ") t ORDER BY entity"),
    "q_agg_pricing" ->
      ("WITH u AS (SELECT l_returnflag, l_linestatus, " +
        "CAST(round(l_quantity) AS BIGINT) AS q, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS pc, " +
        "CAST(round(l_discount * 10000) AS BIGINT) AS d4 " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'), " +
        "b AS (SELECT l_returnflag, l_linestatus, CAST(sum(q) AS BIGINT) AS sq, " +
        "CAST(sum(pc) AS BIGINT) AS spc, CAST(sum(pc * (10000 - d4)) AS BIGINT) AS se6, " +
        "CAST(sum(d4) AS BIGINT) AS sd4, count(*) AS n FROM u GROUP BY 1, 2) " +
        "SELECT l_returnflag, l_linestatus, CAST(sq AS DOUBLE) AS sum_qty, " +
        "CAST(spc AS DOUBLE) / 100.0 AS sum_base, " +
        "CAST(se6 AS DOUBLE) / 1000000.0 AS sum_disc, " +
        "CAST(" + roundDivSql("sq", "n", 100L) + " AS DOUBLE) / 100.0 AS avg_qty, " +
        "CAST(" + roundDivSql("spc", "n", 1L) + " AS DOUBLE) / 100.0 AS avg_price, " +
        "CAST(" + roundDivSql("sd4", "n", 1L) + " AS DOUBLE) / 10000.0 AS avg_disc, " +
        "n FROM b ORDER BY l_returnflag, l_linestatus"),
    "q_join_agg" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),
    "q_window_topk" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q_window_running" ->
      ("SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running FROM events ORDER BY user_id, event_id"),
    "q_set_ops" ->
      ("SELECT o_custkey FROM (SELECT o_custkey FROM orders EXCEPT SELECT o_custkey FROM orders " +
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'R') t ORDER BY o_custkey"),
    "q_text_tokens" ->
      (NORM_CTE +
        ", tok AS (SELECT lang, unnest(string_split(t, ' ')) AS token FROM norm)" +
        ", counted AS (SELECT lang, token, count(*) AS cnt FROM tok WHERE token <> '' GROUP BY lang, token)" +
        ", ranked AS (SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn FROM counted) " +
        "SELECT lang, token, cnt, rn FROM ranked WHERE rn <= 10 ORDER BY lang, rn"),
    "q_minhash_signature" ->
      (SIG_CTE + " SELECT doc_id, mh1, mh2, mh3, mh4 FROM sig ORDER BY doc_id"),
    "q_setsim_join" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm)" +
        ", shw AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle " +
        "FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", sh3 AS (SELECT DISTINCT doc_id, shingle FROM shw WHERE shingle IS NOT NULL)" +
        ", dfc AS (SELECT shingle, count(*) AS df FROM sh3 GROUP BY shingle HAVING count(*) <= 10)" +
        ", cs AS (SELECT sh3.doc_id, sh3.shingle, dfc.df FROM sh3 JOIN dfc USING (shingle))" +
        ", sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM cs GROUP BY doc_id)" +
        ", pr AS (SELECT doc_id, shingle FROM (" +
        "SELECT cs.doc_id, cs.shingle, row_number() OVER (PARTITION BY cs.doc_id ORDER BY cs.df, cs.shingle) AS rn, sz.sz " +
        "FROM cs JOIN sz USING (doc_id)) WHERE rn <= sz - (7 * sz + 9) // 10 + 1)" +
        ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM pr a JOIN pr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)" +
        ", inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i " +
        "FROM cand c JOIN cs x ON x.doc_id = c.id_a JOIN cs y ON y.doc_id = c.id_b AND y.shingle = x.shingle " +
        "GROUP BY 1, 2) " +
        "SELECT id_a, id_b, (i * 1000) // (sa.sz + sb.sz - i) AS jac_permille " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE (i * 1000) // (sa.sz + sb.sz - i) >= 700 ORDER BY id_a, id_b"),
    "q_minhash_dedup" ->
      (SIG_CTE + ", pairs AS (" +
        (1 to 4).map(i =>
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.mh$i = b.mh$i AND a.doc_id < b.doc_id " +
            s"WHERE a.mh$i IN (SELECT mh$i FROM sig GROUP BY mh$i HAVING count(*) <= 1000)")
          .mkString(" UNION ") +
        ") SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b"),
    "q_ngram_jaccard" ->
      (NORM_CTE.replace("FROM documents", "FROM documents WHERE doc_id % 50 = 0") +
        ", tok AS (SELECT DISTINCT doc_id, lang, unnest(string_split(t, ' ')) AS token FROM norm)" +
        ", tok2 AS (SELECT * FROM tok WHERE token <> '')" +
        ", sz AS (SELECT doc_id, count(*) AS sz FROM tok2 GROUP BY doc_id)" +
        ", dfc AS (SELECT lang, token FROM tok2 GROUP BY lang, token HAVING count(*) BETWEEN 2 AND 1000)" +
        ", tok3 AS (SELECT t.* FROM tok2 t JOIN dfc USING (lang, token))" +
        ", inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c FROM tok3 a JOIN tok3 b " +
        "ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) " +
        ", ju AS (SELECT id_a, id_b, c, sa.sz + sb.sz - c AS u FROM inter " +
        "JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) " +
        "SELECT id_a, id_b, " +
        "CAST(" + roundDivSql("c", "u", 10000L) + " AS DOUBLE) / 10000.0 AS jaccard " +
        "FROM ju WHERE c * 2 >= u ORDER BY id_a, id_b"),
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM documents ORDER BY doc_id""",
    "q_exact_dedup" ->
      ("""WITH fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f FROM documents) """ +
        "SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS canonical_id, " +
        "doc_id = min(doc_id) OVER (PARTITION BY f) AS is_canonical FROM fp ORDER BY doc_id"),
    "q_quality_score" ->
      (NORM_CTE + " SELECT doc_id, len(string_split(t, ' ')) AS n_tokens, length(t) AS n_chars_norm, " +
        "round(CAST(length(t) AS DOUBLE) / nullif(len(string_split(t, ' ')), 0), 4) AS chars_per_token, " +
        s"round(CAST(len(list_filter(string_split(t, ' '), x -> x IN $STOP_SQL)) AS DOUBLE) / nullif(len(string_split(t, ' ')), 0), 4) AS stopword_ratio, " +
        "round(CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(t), 0), 4) AS punct_ratio " +
        "FROM norm ORDER BY doc_id"),
    "q_asof_join" ->
      ("SELECT event_id, user_id, o_orderkey FROM (SELECT e.event_id, e.user_id, o.o_orderkey, " +
        "row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
        "FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t " +
        "WHERE rn = 1 ORDER BY event_id"),
    "q_asof_nearest" ->
      ("WITH p AS (SELECT e.event_id, e.user_id, o.o_orderkey, " +
        "abs(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(o.o_orderdate)) AS dist_us, " +
        "CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END AS fwd, " +
        "CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END AS tb " +
        "FROM events e JOIN orders o ON o.o_custkey = e.user_id) " +
        "SELECT event_id, user_id, o_orderkey, dist_us FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY dist_us, fwd, tb) AS rn FROM p) t " +
        "WHERE rn = 1 ORDER BY event_id"),
    "q_rollup" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_token_count" ->
      (NORM_CTE + " SELECT doc_id, len(list_filter(string_split(t, ' '), x -> x <> '')) AS ws_tokens, " +
        """len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens """ +
        "FROM norm JOIN documents USING (doc_id) ORDER BY doc_id"),
    "q_trending" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT day, event_type, CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day " +
        "RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n7 FROM daily), " +
        "k AS (SELECT day, event_type, n7, CAST(row_number() OVER (PARTITION BY day " +
        "ORDER BY n7 DESC, event_type) AS BIGINT) AS rnk FROM r) " +
        "SELECT day, rnk, event_type, n7 FROM k WHERE rnk <= 3 ORDER BY day, rnk"),
    "q_window_range" ->
      ("SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id " +
        "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS recent_sum FROM events " +
        "ORDER BY user_id, event_id"),
    "q_window_lag" ->
      ("SELECT user_id, event_id, epoch_us(ts) - epoch_us(lag(ts, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us FROM events " +
        "ORDER BY user_id, event_id"),
    "q_set_intersect" ->
      ("SELECT o_custkey FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t ORDER BY o_custkey"),
    "q_monthly_revenue" ->
      ("SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, " +
        "round(sum(o_totalprice), 2) AS revenue, count(*) AS n FROM orders " +
        "GROUP BY 1 ORDER BY 1"),
    "q_batch_format" ->
      ("SELECT c_custkey, printf('batch_%06d.json', batch_id) AS object_name FROM " +
        "(SELECT c_custkey, CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 500) AS BIGINT) + 1 AS batch_id " +
        "FROM customer) t ORDER BY c_custkey"),
    "q_json_struct" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events ORDER BY event_id"),
    "q_cube" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_range_join" ->
      ("SELECT o_orderkey, count(*) AS n FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY " +
        "GROUP BY o_orderkey ORDER BY o_orderkey"),
    "q_pivot" ->
      ("SELECT l_returnflag, round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F, " +
        "round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_ann_exhaustive" ->
      ("WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4) AS sim " +
        "FROM embeddings, probe WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10"),
    "q_ann_ivf_recall" ->
      // the full audit replayed: Knuth-rank coarse quantizer, e4-snapped
      // cosine everywhere, containment-property recall per nprobe level
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "probe AS (SELECT v AS p FROM e WHERE vec_id = 0), " +
        "cents AS (SELECT vec_id, v AS c, ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h " +
        "FROM e WHERE vec_id <> 0 ORDER BY h, vec_id LIMIT 16), " +
        "cidx AS (SELECT c, row_number() OVER (ORDER BY h, vec_id) - 1 AS ci FROM cents), " +
        "prank AS (SELECT ci, CAST(row_number() OVER (ORDER BY " +
        "CAST(round(list_cosine_similarity(c, p) * 10000, 0) AS BIGINT) DESC, ci) AS BIGINT) AS pr " +
        "FROM cidx, probe), " +
        "top10 AS (SELECT vec_id, v FROM e, probe WHERE vec_id <> 0 ORDER BY " +
        "CAST(round(list_cosine_similarity(v, p) * 10000, 0) AS BIGINT) DESC, vec_id LIMIT 10), " +
        "asg AS (SELECT vec_id, ci FROM (SELECT t.vec_id, x.ci, row_number() OVER " +
        "(PARTITION BY t.vec_id ORDER BY " +
        "CAST(round(list_cosine_similarity(t.v, x.c) * 10000, 0) AS BIGINT) DESC, x.ci) AS rn " +
        "FROM top10 t CROSS JOIN cidx x) WHERE rn = 1), " +
        "pp AS (SELECT a.vec_id, r.pr FROM asg a JOIN prank r USING (ci)), " +
        "lvl AS (SELECT unnest([1, 2, 4, 8, 16]) AS np) " +
        "SELECT CAST(np AS BIGINT) AS nprobe, CAST(10 AS BIGINT) AS k, " +
        "CAST(count(CASE WHEN pr <= np THEN 1 END) AS BIGINT) AS hits, " +
        "CAST(count(CASE WHEN pr <= np THEN 1 END) * 100000 AS BIGINT) AS recall_ppm " +
        "FROM lvl CROSS JOIN pp GROUP BY np ORDER BY nprobe"),
    "q_ann_lsh_exact" ->
      // hamming == nBits keeps every vector, so the LSH pipeline's exact
      // endpoint is brute-force cosine top-k (the bucket filter still runs
      // on the Spark side — the oracle checks the full pipeline's output)
      ("WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4) AS sim " +
        "FROM embeddings, probe WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10"),
    "q_cosine_topk" ->
      ("WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 4) AS sim " +
        "FROM embeddings, probe WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10"),
    "q_vector_norm" ->
      ("SELECT vec_id, round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS l2, " +
        "label FROM embeddings ORDER BY vec_id"),
    "q_embed_neardup" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(list_cosine_similarity(a.v, b.v), 4) AS sim " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3 ORDER BY id_a, id_b"),
    "q_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "ORDER BY c_custkey"),
    "q_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_salted_join" ->
      ("SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_sessionize" ->
      ("WITH flagged AS (SELECT user_id, ts, value, " +
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 24 HOUR " +
        "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s FROM events), " +
        "sess AS (SELECT user_id, ts, value, sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged) " +
        "SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS n, round(sum(value), 2) AS total " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start_us"),
    "q_closed_sessions" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), " +
        "m AS (SELECT user_id, ts_us, CASE WHEN ts_us - lag(ts_us) " +
        "OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM e), " +
        "sd AS (SELECT user_id, ts_us, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM m), " +
        "sess AS (SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us, " +
        "count(*) AS n_events FROM sd GROUP BY user_id, sid), " +
        "t AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY user_id) " +
        "SELECT s.user_id, s.start_us, s.end_us, s.n_events FROM sess s " +
        "JOIN t USING (user_id) WHERE s.sid < t.mx ORDER BY user_id, start_us"),
    "q_simhash_portable" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM norm WHERE t <> '')" +
        ", th AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h FROM tok)" +
        ", bits AS (SELECT unnest(generate_series(0, 31)) AS b)" +
        ", votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v " +
        "FROM th CROSS JOIN bits GROUP BY doc_id, b)" +
        ", sig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS s " +
        "FROM votes GROUP BY doc_id)" +
        ", blocked AS (SELECT doc_id, s, s >> 20 AS blk FROM sig)" +
        // the declared degenerate-block cap (SimhashMaxBucket), mirrored
        ", keep AS (SELECT blk FROM blocked GROUP BY blk " +
        "HAVING count(*) BETWEEN 2 AND 2000)" +
        ", kept AS (SELECT b.* FROM blocked b JOIN keep USING (blk)) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming " +
        "FROM kept a JOIN kept b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.s, b.s)) <= 4 ORDER BY id_a, id_b"),
    "q_stream_interval_join" ->
      ("SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id, " +
        "l.event_type AS l_type, r.event_type AS r_type " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE " +
        "AND l.event_id <> r.event_id " +
        "ORDER BY l.user_id, l_event_id, r_event_id"),
    "q_lang_id" ->
      (NORM_CTE +
        ", h AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM norm)" +
        ", c AS (SELECT doc_id, t, " +
        "len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS en, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de, " +
        "len(list_filter(toks, x -> x IN ('el','la','los','las','es','y'))) AS es, " +
        "len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr FROM h) " +
        "SELECT doc_id, CASE " +
        "WHEN regexp_matches(t, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
        "WHEN de >= greatest(en, es, fr) AND de > 0 THEN 'de' " +
        "WHEN es >= greatest(en, fr) AND es > 0 THEN 'es' " +
        "WHEN fr >= en AND fr > 0 THEN 'fr' " +
        "ELSE 'en' END AS lang_pred FROM c ORDER BY doc_id"),
    "q_percentiles" ->
      // rank selection + exact 20th-unit integer interpolation restated
      // value-for-value with the Spark side (p·20 ∈ {5,10,18} integers;
      // quantile_cont's double `lo + frac·(hi−lo)` rounds engine-specific
      // at .xx5 midpoints)
      ("WITH m AS (SELECT l_returnflag, 'price' AS metric, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'qty', CAST(round(l_quantity) AS BIGINT) FROM lineitem), " +
        "r AS (SELECT l_returnflag, metric, v, " +
        "row_number() OVER (PARTITION BY l_returnflag, metric ORDER BY v) AS rn, " +
        "count(*) OVER (PARTITION BY l_returnflag, metric) AS n FROM m), " +
        "b AS (SELECT l_returnflag, metric, " +
        "max(CASE WHEN rn = ((n-1)*5) // 20 + 1 THEN v END) AS p25_lo, " +
        "max(CASE WHEN rn = ((n-1)*5 + 19) // 20 + 1 THEN v END) AS p25_hi, " +
        "max(CASE WHEN rn = ((n-1)*10) // 20 + 1 THEN v END) AS p50_lo, " +
        "max(CASE WHEN rn = ((n-1)*10 + 19) // 20 + 1 THEN v END) AS p50_hi, " +
        "max(CASE WHEN rn = ((n-1)*18) // 20 + 1 THEN v END) AS p90_lo, " +
        "max(CASE WHEN rn = ((n-1)*18 + 19) // 20 + 1 THEN v END) AS p90_hi, " +
        "max(n) AS n FROM r GROUP BY l_returnflag, metric), " +
        "p AS (SELECT l_returnflag, metric, " +
        "p25_lo*20 + (p25_hi-p25_lo)*(((n-1)*5) % 20) AS p25_20, " +
        "p50_lo*20 + (p50_hi-p50_lo)*(((n-1)*10) % 20) AS p50_20, " +
        "p90_lo*20 + (p90_hi-p90_lo)*(((n-1)*18) % 20) AS p90_20 FROM b) " +
        "SELECT l_returnflag, " +
        "CAST(max(CASE WHEN metric = 'price' THEN p25_20 END) AS DOUBLE) / 2000.0 AS p25, " +
        "CAST(max(CASE WHEN metric = 'price' THEN p50_20 END) AS DOUBLE) / 2000.0 AS p50, " +
        "CAST(max(CASE WHEN metric = 'price' THEN p90_20 END) AS DOUBLE) / 2000.0 AS p90, " +
        "CAST(max(CASE WHEN metric = 'qty' THEN p50_20 END) AS DOUBLE) / 20.0 AS med_qty " +
        "FROM p GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_argmax" ->
      ("SELECT c_mktsegment, c_acctbal AS top_acctbal, c_custkey AS top_custkey, c_name AS top_name " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey DESC) AS rn " +
        "FROM customer) t WHERE rn = 1 ORDER BY c_mktsegment"),
    "q_conditional_agg" ->
      ("SELECT l_returnflag, count(*) FILTER (WHERE l_quantity > 25) AS hi_qty_n, " +
        "round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_rev, " +
        "count(DISTINCT l_partkey) FILTER (WHERE l_quantity < 5) AS lo_qty_parts " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_stats" ->
      ("SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "round(var_samp(l_quantity), 4) AS var_qty, " +
        "round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price, " +
        "round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_string_agg" ->
      ("SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types, " +
        "count(*) AS n FROM events GROUP BY user_id ORDER BY user_id"),
    "q_map_funcs" ->
      ("SELECT event_id, array_to_string(list_sort(json_keys(props)), ',') AS keys, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events WHERE props IS NOT NULL ORDER BY event_id"),
    "q_date_parse" ->
      ("WITH raw AS (SELECT o_orderkey, CASE CAST(o_orderkey % 3 AS INTEGER) " +
        "WHEN 0 THEN strftime(o_orderdate, '%Y') " +
        "WHEN 1 THEN strftime(o_orderdate, '%Y-%m') " +
        "ELSE strftime(o_orderdate, '%Y-%m-%d') END AS release_date FROM orders) " +
        "SELECT o_orderkey, release_date, CAST(coalesce(" +
        "try_strptime(release_date, '%Y-%m-%d'), try_strptime(release_date, '%Y-%m'), " +
        "try_strptime(release_date, '%Y')) AS DATE) AS parsed FROM raw ORDER BY o_orderkey"),
    "q_scalar_subquery" ->
      ("SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer) ORDER BY c_custkey"),
    "q_exists_subquery" ->
      ("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000) " +
        "ORDER BY c_custkey"),
    "q_ntile" ->
      ("SELECT c_custkey, c_mktsegment, ntile(4) OVER " +
        "(PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile " +
        "FROM customer ORDER BY c_custkey"),
    "q_first_last" ->
      ("SELECT user_id, event_id, " +
        "first_value(value) OVER w AS first_val, last_value(value) OVER w AS last_val " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY user_id, event_id"),
    "q_unpivot" ->
      ("WITH m AS (SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS v FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem) " +
        "SELECT l_returnflag, metric, round(sum(v), 2) AS total, count(*) AS n " +
        "FROM m GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric"),
    "q_explode_outer" ->
      (NORM_CTE +
        ", toks AS (SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> length(x) >= 8)) AS token FROM norm) " +
        "SELECT doc_id, token FROM toks " +
        "UNION ALL SELECT doc_id, NULL AS token FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM toks) " +
        "ORDER BY doc_id, token NULLS FIRST"),
    "q_regexp_extract" ->
      ("SELECT p_partkey, regexp_extract(p_name, '^(\\w+)', 1) AS first_word, " +
        "regexp_extract(p_type, '(\\w+)$', 1) AS last_type_word, " +
        "regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num " +
        "FROM part ORDER BY p_partkey"),
    "q_array_funcs" ->
      ("WITH t AS (SELECT user_id, list_sort(list_distinct(list(event_type))) AS types FROM events GROUP BY user_id) " +
        "SELECT user_id, array_to_string(types, ',') AS types, " +
        "array_to_string(list_filter(types, x -> x IN ('purchase', 'signup', 'error')), ',') AS overlap, " +
        "array_to_string(list_sort(list_distinct(list_concat(types, ['purchase', 'signup', 'error']))), ',') AS combined, " +
        "array_to_string(list_filter(types, x -> x NOT IN ('purchase', 'signup', 'error')), ',') AS extra, " +
        "len(types) AS n_types FROM t ORDER BY user_id"),
    "q_date_arith" ->
      ("SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS due_date, " +
        "datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days_since, " +
        "last_day(CAST(o_orderdate AS DATE)) AS month_end, " +
        "isodow(o_orderdate) AS isodow, quarter(o_orderdate) AS qtr " +
        "FROM orders ORDER BY o_orderkey"),
    "q_histogram" ->
      ("SELECT bucket, printf('[%d,%d)', bucket * 50000, (bucket + 1) * 50000) AS range, " +
        "n, CAST(" + roundDivSql("spc", "n", 1L) + " AS DOUBLE) / 100.0 AS avg_price " +
        "FROM (SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, " +
        "count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spc " +
        "FROM orders GROUP BY 1) t ORDER BY bucket"),
    "q_full_outer" ->
      ("WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS orders_n FROM orders GROUP BY 1), " +
        "e AS (SELECT CAST(ts AS DATE) AS day, count(*) AS events_n FROM events GROUP BY 1) " +
        "SELECT coalesce(o.day, e.day) AS day, coalesce(orders_n, 0) AS orders_n, " +
        "coalesce(events_n, 0) AS events_n FROM o FULL OUTER JOIN e ON o.day = e.day " +
        "ORDER BY day"),
    "q_percent_rank" ->
      ("SELECT c_custkey, c_mktsegment, " +
        "round(percent_rank() OVER w, 6) AS pr, round(cume_dist() OVER w, 6) AS cd " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) " +
        "ORDER BY c_custkey"),
    "q_stratified_sample" ->
      ("SELECT c_custkey, c_mktsegment, rn FROM (SELECT c_custkey, c_mktsegment, " +
        "row_number() OVER (PARTITION BY c_mktsegment ORDER BY ((c_custkey % 2147483648) * 2654435761) % 4294967296, c_custkey) AS rn " +
        "FROM customer) t WHERE rn <= 5 ORDER BY c_mktsegment, rn"),
    "q_scd2" ->
      ("SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS valid_from, " +
        "lead(CAST(o_orderdate AS DATE), 1) OVER w AS valid_to, " +
        "lead(CAST(o_orderdate AS DATE), 1) OVER w IS NULL AS is_current " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, valid_from, o_orderkey"),
    "q_binary_meta" ->
      ("SELECT doc_id, octet_length(encode(text)) AS byte_len, length(text) AS char_len, " +
        "md5(text) AS digest, lower(hex(encode(substr(text, 1, 4)))) AS magic " +
        "FROM documents ORDER BY doc_id"),
    "q_union_by_name" ->
      ("SELECT id, name, acctbal, src FROM (" +
        "SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer " +
        "UNION ALL SELECT s_suppkey, s_name, NULL, 'supplier' FROM supplier) t " +
        "ORDER BY src, id"),
    "q_tumbling_window" ->
      ("SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start_us, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS total FROM events " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_bloom_semi_join" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000) " +
        "ORDER BY l_orderkey, l_linenumber, l_extendedprice"),
    "q_date_series" ->
      ("WITH months AS (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE) AS month), " +
        "rev AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, " +
        "round(sum(o_totalprice), 2) AS revenue, count(*) AS n FROM orders GROUP BY 1) " +
        "SELECT m.month, coalesce(rev.revenue, 0.0) AS revenue, coalesce(rev.n, 0) AS n " +
        "FROM months m LEFT JOIN rev ON m.month = rev.month ORDER BY m.month"),
    "q_merge_upsert" ->
      ("WITH upd AS (" +
        "SELECT c_custkey, c_name, c_nationkey, round(c_acctbal + 1000, 2) AS c_acctbal, 'UPDATED' AS c_mktsegment " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT -c_custkey - 1, c_name, c_nationkey, c_acctbal, 'INSERTED' " +
        "FROM customer WHERE c_custkey % 13 = 0), " +
        "merged AS (SELECT *, 0 AS pri FROM upd " +
        "UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 1 AS pri FROM customer) " +
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY pri) AS rn FROM merged) t " +
        "WHERE rn = 1 ORDER BY c_custkey"),
    "q_cdc_apply" ->
      ("SELECT user_id, event_type, value, ts_us FROM (" +
        "SELECT user_id, event_type, value, epoch_us(ts) AS ts_us, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t " +
        "WHERE rn = 1 AND event_type IS DISTINCT FROM 'error' ORDER BY user_id"),
    "q_string_funcs" ->
      ("SELECT p_partkey, upper(p_name) AS up, lpad(p_brand, 12, '#') AS padded, " +
        "reverse(p_type) AS rev, regexp_replace(p_name, ' ', '_', 'g') AS snake, " +
        "repeat(p_brand, 2) AS doubled, levenshtein(p_type, 'ECONOMY') AS edit_dist " +
        "FROM part ORDER BY p_partkey"),
    "q_sliding_window" ->
      ("SELECT ((epoch_us(ts) // 10800000000) - k.i) * 10800000000 AS window_start_us, " +
        "count(*) AS n, round(sum(value), 2) AS total " +
        "FROM events, (VALUES (0), (1)) k(i) " +
        "GROUP BY 1 ORDER BY 1"),
    "q_minhash_dedup_map" ->
      (SIG_CTE +
        ", melted AS (" +
        (1 to 4).map(i => s"SELECT doc_id, $i AS band_idx, mh$i AS band_val FROM sig")
          .mkString(" UNION ALL ") +
        "), reps AS (SELECT band_idx, band_val, min(doc_id) AS rep FROM melted GROUP BY band_idx, band_val) " +
        "SELECT m.doc_id, min(r.rep) AS canonical_id FROM melted m " +
        "JOIN reps r ON m.band_idx = r.band_idx AND m.band_val = r.band_val " +
        "GROUP BY m.doc_id ORDER BY m.doc_id"),
    "q_decontaminate" ->
      (TP_TOK_CTE +
        ", sh AS (SELECT doc_id, source, token" +
        (1 to 7).map(i => s" || ' ' || lead(token, $i) OVER w").mkString +
        " AS shingle FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", bench AS (SELECT DISTINCT md5(shingle) AS h FROM sh WHERE source = 'src0' AND shingle IS NOT NULL)" +
        ", corp AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh WHERE source <> 'src0' AND shingle IS NOT NULL) " +
        "SELECT c.doc_id, count(*) AS n_shared FROM corp c JOIN bench b ON c.h = b.h " +
        "GROUP BY c.doc_id ORDER BY c.doc_id"),
    "q_repetition_score" ->
      (TP_TOK_CTE +
        ", uni AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT token) AS nd FROM tok GROUP BY doc_id)" +
        ", bi0 AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w AS sh FROM tok " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", bi1 AS (SELECT doc_id, sh, count(*) AS c FROM bi0 WHERE sh IS NOT NULL GROUP BY doc_id, sh)" +
        ", bi AS (SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS nbi FROM bi1 GROUP BY doc_id) " +
        "SELECT u.doc_id, n_tokens, round(1.0 - nd / n_tokens, 4) AS dup_word_frac, " +
        "round(topc / nbi, 4) AS top_bigram_frac FROM uni u LEFT JOIN bi USING (doc_id) ORDER BY doc_id"),
    "q_tfidf" ->
      (TP_TOK_CTE +
        ", tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)" +
        ", dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token)" +
        ", scored AS (SELECT doc_id, token, (tf * 1000000000) // df AS score " +
        "FROM tf JOIN dft USING (token))" +
        ", ranked AS (SELECT doc_id, token, score, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rk FROM scored) " +
        "SELECT doc_id, token, score, rk FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"),
    "q_quality_filter" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm WHERE t <> '')" +
        ", uni AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT token) AS nd FROM tok GROUP BY doc_id)" +
        ", bi0 AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w AS sh FROM tok " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", bi1 AS (SELECT doc_id, sh, count(*) AS c FROM bi0 WHERE sh IS NOT NULL GROUP BY doc_id, sh)" +
        ", bi AS (SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS nbi FROM bi1 GROUP BY doc_id)" +
        ", f AS (SELECT u.doc_id, n_tokens BETWEEN 20 AND 100000 AS length_ok, " +
        "round(1.0 - nd / n_tokens, 4) <= 0.6 AS repetition_ok, " +
        "coalesce(round(topc / nbi, 4) <= 0.2, TRUE) AS bigram_ok " +
        "FROM uni u LEFT JOIN bi USING (doc_id)) " +
        "SELECT doc_id, length_ok, repetition_ok, bigram_ok, " +
        "length_ok AND repetition_ok AND bigram_ok AS keep FROM f ORDER BY doc_id"),
    "q_ngram_counts" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm WHERE t <> '')" +
        ", bi0 AS (SELECT lang, token || ' ' || lead(token, 1) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS bigram FROM tok)" +
        ", cnt AS (SELECT lang, bigram, count(*) AS n FROM bi0 WHERE bigram IS NOT NULL GROUP BY lang, bigram)" +
        ", rk AS (SELECT lang, bigram, n, row_number() OVER " +
        "(PARTITION BY lang ORDER BY n DESC, bigram) AS rk FROM cnt) " +
        "SELECT lang, bigram, n, rk FROM rk WHERE rk <= 20 ORDER BY lang, rk"),
    "q_kmeans_step" ->
      ("WITH cents AS (SELECT vec_id AS cluster_id, embedding::DOUBLE[] AS centroid " +
        "FROM embeddings ORDER BY vec_id LIMIT 8)" +
        ", assigned AS (SELECT vec_id, cluster_id FROM (" +
        "SELECT e.vec_id, c.cluster_id, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid), c.cluster_id) AS rn " +
        "FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1)" +
        ", exploded AS (SELECT a.cluster_id, u.pos, u.val " +
        "FROM assigned a JOIN embeddings e USING (vec_id), " +
        "LATERAL (SELECT unnest(e.embedding::DOUBLE[]) AS val, " +
        "generate_subscripts(e.embedding, 1) AS pos) u) " +
        ", agg AS (SELECT cluster_id, pos, " +
        "CAST(sum(CAST(round(val * 1e6) AS BIGINT)) AS BIGINT) AS sq, count(*) AS n " +
        "FROM exploded GROUP BY cluster_id, pos) " +
        "SELECT cluster_id, pos - 1 AS pos, " +
        "CAST((sq + (CASE WHEN sq < 0 THEN -50 ELSE 50 END) * n) // (100 * n) AS BIGINT) AS c, " +
        "n FROM agg ORDER BY cluster_id, pos"),
    "q_vector_quantize" ->
      ("WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
        "list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma FROM embeddings) " +
        "SELECT vec_id, round(CASE WHEN ma = 0 THEN 0.0 ELSE ma / 127.0 END, 6) AS scale, " +
        "array_to_string(CASE WHEN ma = 0 THEN list_transform(v, x -> 0) " +
        "ELSE list_transform(v, x -> CAST(round(x * 127.0 / ma, 0) AS INTEGER)) END, ',') AS q, " +
        "round(coalesce(CASE WHEN ma = 0 THEN 0.0 " +
        "ELSE list_max(list_transform(v, x -> abs(x - round(x * 127.0 / ma, 0) * ma / 127.0))) END, 0.0), 6) AS max_err " +
        "FROM m ORDER BY vec_id"),
    "q_knn_join" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 20 = 0), " +
        "p AS (SELECT q_id, e.vec_id AS n_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 4) AS sim " +
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q_id), " +
        "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk FROM p) " +
        "SELECT q_id, n_id, sim, rk FROM r WHERE rk <= 3 ORDER BY q_id, rk"),
    "q_knn_join_blocked" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT 8), " +
        "assigned AS (SELECT vec_id, cid AS cluster_id FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY list_distance(e.v, c.c), c.cid) AS rn FROM e CROSS JOIN cents c) t WHERE rn = 1), " +
        "withv AS (SELECT a.vec_id, a.cluster_id, e.v FROM assigned a JOIN e USING (vec_id)), " +
        "p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id, round(list_cosine_similarity(x.v, q.v), 4) AS sim " +
        "FROM withv q JOIN withv x ON q.cluster_id = x.cluster_id AND x.vec_id <> q.vec_id " +
        "WHERE q.vec_id % 20 = 0), " +
        "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk FROM p) " +
        "SELECT q_id, n_id, sim, rk FROM r WHERE rk <= 3 ORDER BY q_id, rk"),
    "q_sem_dedup" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        // adaptive cluster count (identity k=8 up to 20k vectors): the
        // same k = max(8, n div 2500) rule the Spark side declares
        "cents AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id " +
        "LIMIT greatest(8, (SELECT count(*) FROM e) // 2500)), " +
        "assigned AS (SELECT vec_id, cid AS cluster_id FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY list_distance(e.v, c.c), c.cid) AS rn FROM e CROSS JOIN cents c) t WHERE rn = 1), " +
        "withv AS (SELECT a.vec_id, a.cluster_id, e.v FROM assigned a JOIN e USING (vec_id)) " +
        "SELECT x.cluster_id, x.vec_id AS id_a, y.vec_id AS id_b, round(list_cosine_similarity(x.v, y.v), 4) AS sim " +
        "FROM withv x JOIN withv y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id " +
        "WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.3 ORDER BY id_a, id_b"),
    "q_minhash_est" ->
      (SIG_CTE + ", pairs AS (" +
        (1 to 4).map(i =>
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.mh$i = b.mh$i AND a.doc_id < b.doc_id " +
            s"WHERE a.mh$i IN (SELECT mh$i FROM sig GROUP BY mh$i HAVING count(*) <= 1000)")
          .mkString(" UNION ") +
        ") SELECT p.id_a, p.id_b, CAST(" +
        (1 to 4).map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS BIGINT) AS matches, CAST(" +
        (1 to 4).map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS DOUBLE) / 4.0 AS est_jaccard " +
        "FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id ORDER BY id_a, id_b"),
    "q_bm25" ->
      (NORM_CTE +
        ", tok0 AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM norm)" +
        ", tok AS (SELECT * FROM tok0 WHERE token <> '')" +
        ", dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)" +
        ", st AS (SELECT count(*) AS n_docs, sum(dl) AS total FROM dl)" +
        ", av AS (SELECT n_docs, (total * 1000000) // n_docs AS avgdl6 FROM st)" +
        ", tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token IN ('vector', 'stream', 'hash') GROUP BY doc_id, token)" +
        ", dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)" +
        ", sc AS (SELECT doc_id, (((1000000 * (2 * n_docs - 2 * df + 1)) // (2 * df + 1)) * tf * 2200) // " +
        "(tf * 1000 + (1200 * (250 + (750000000 * dl) // avgdl6)) // 1000) AS ts " +
        "FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN av) " +
        "SELECT doc_id, CAST(sum(ts) AS BIGINT) AS score FROM sc GROUP BY doc_id " +
        "ORDER BY score DESC, doc_id LIMIT 10"),
    "q_dup_ngram_spans" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm)" +
        ", sh AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle " +
        "FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", dist AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)" +
        ", dfc AS (SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM dist) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000) // count(*) AS dup_permille " +
        "FROM dfc GROUP BY doc_id ORDER BY doc_id"),
    "q_substring_dedup" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm)" +
        ", sh AS (SELECT doc_id, pos, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w " +
        "|| ' ' || lead(token, 3) OVER w || ' ' || lead(token, 4) OVER w AS shingle " +
        "FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", shv AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, shingle FROM sh WHERE shingle IS NOT NULL)" +
        ", dup AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM shv) " +
        "GROUP BY shingle HAVING count(*) >= 2)" +
        ", ds AS (SELECT doc_id, pos FROM shv WHERE shingle IN (SELECT shingle FROM dup))" +
        ", cv AS (SELECT doc_id, least(5, coalesce(lead(pos) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS c FROM ds)" +
        ", cov AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM cv GROUP BY doc_id)" +
        ", nt AS (SELECT doc_id, CAST(CASE WHEN t = '' THEN 0 " +
        "ELSE len(string_split(t, ' ')) END AS BIGINT) AS n_tokens FROM norm) " +
        "SELECT nt.doc_id, n_tokens, coalesce(dup_tokens, 0) AS dup_tokens, " +
        "n_tokens - coalesce(dup_tokens, 0) AS kept_tokens, " +
        "CASE WHEN n_tokens > 0 AND coalesce(dup_tokens, 0) * 2 >= n_tokens THEN 'drop' " +
        "WHEN coalesce(dup_tokens, 0) > 0 THEN 'trim' ELSE 'keep' END AS action " +
        "FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id ORDER BY nt.doc_id"),
    "q_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id) " +
        "SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, count(*) AS n_users FROM s1 " +
        "UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2 " +
        "UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3 ORDER BY stage"),
    "q_cohort_retention" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id), " +
        "cells AS (SELECT DISTINCT ev.user_id, CAST(date_trunc('week', cohort_day) AS DATE) AS cohort_week, " +
        "CAST(date_diff('day', cohort_day, day) // 7 AS BIGINT) AS week_offset FROM ev JOIN f USING (user_id)) " +
        "SELECT cohort_week, week_offset, count(*) AS n_users FROM cells " +
        "GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"),
    "q_interval_join" ->
      ("SELECT a.o_custkey, a.o_orderkey AS key_a, b.o_orderkey AS key_b, " +
        "date_diff('day', greatest(a.o_orderdate, b.o_orderdate), " +
        "least(a.o_orderdate + INTERVAL 7 DAY, b.o_orderdate + INTERVAL 7 DAY)) AS overlap_days " +
        "FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey " +
        "AND a.o_orderdate < b.o_orderdate + INTERVAL 7 DAY AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY " +
        "ORDER BY a.o_custkey, key_a, key_b"),
    "q_weighted_sample" ->
      ("SELECT * FROM (SELECT o_orderkey, o_totalprice, h, w_cents FROM (" +
        "SELECT o_orderkey, o_totalprice, ((o_orderkey % 2147483648) * 2654435761) % 4294967296 AS h, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS w_cents FROM orders) w " +
        "WHERE w_cents > 0 " +
        "ORDER BY CAST(h AS DOUBLE) / CAST(w_cents AS DOUBLE), o_orderkey LIMIT 30) " +
        "ORDER BY o_orderkey"),
    "q_percentile_gate" ->
      (NORM_CTE +
        ", tk AS (SELECT doc_id, lang, CAST(len(list_filter(string_split(t, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM norm)" +
        ", r AS (SELECT doc_id, lang, n_tokens, percent_rank() OVER " +
        "(PARTITION BY lang ORDER BY n_tokens, doc_id) AS pr0 FROM tk) " +
        "SELECT doc_id, lang, n_tokens, round(pr0, 6) AS pr FROM r " +
        "WHERE pr0 >= 0.25 ORDER BY doc_id"),
    "q_zscore" ->
      ("WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma " +
        "FROM events GROUP BY event_type) " +
        "SELECT event_id, event_type, round((value - mu) / nullif(sigma, 0.0), 4) AS z " +
        "FROM events JOIN st USING (event_type) ORDER BY event_id"),
    "q_event_transitions" ->
      ("WITH tr AS (SELECT user_id, event_type AS from_type, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type FROM events) " +
        "SELECT from_type, to_type, count(*) AS n, count(DISTINCT user_id) AS n_users " +
        "FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type " +
        "ORDER BY from_type, to_type"),
    "q_skyline" ->
      ("WITH d AS (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "date_diff('day', DATE '1990-01-01', o_orderdate) AS days FROM orders), " +
        "m AS (SELECT *, max(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY days DESC " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_later FROM d) " +
        "SELECT o_orderpriority, o_orderkey, days, o_totalprice FROM m " +
        "WHERE best_later IS NULL OR o_totalprice > best_later " +
        "ORDER BY o_orderpriority, days, o_orderkey"),
  )
}
