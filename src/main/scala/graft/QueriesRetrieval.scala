package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Retrieval` — feature/retrieval serving, similarity, drift and rerank readouts.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesRetrieval { this: Queries.type =>


  /** Hashing-trick collision audit: every corpus token maps to one of 64
    * feature buckets by a PORTABLE md5 hash (the engine-neutral stand-in
    * for the murmur hashing a feature-hashed model uses), and the audit
    * reports per-bucket occupancy — occurrences, distinct token types
    * (the collision count), and load share in exact ppm. The decision
    * input for sizing a hashed feature space: heavy buckets mean
    * gradient collisions. Token counts aggregate map-side twice (token,
    * then bucket); the corpus total is a 1-row broadcast; output is the
    * constant 64-row bucket table at any scale. */
  def qFeatureHash(s: SparkSession, d: String): DataFrame = {
    val perTok = Tables.documents(s, d)
      .select(explode(
        graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val bucketed = perTok
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT) % 64"))
      .groupBy("bucket")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    bucketed
      .crossJoin(broadcast(bucketed.agg(sum(col("n_tokens")).as("__t"))))
      .select(col("bucket"), col("n_tokens"), col("n_types"),
        // two-step ppm: the naive n_tokens*10^6 wraps int64 past ~9.2e12
        // tokens per bucket — real exposure at the query's own 100-TB story
        expr(ppmDiv("n_tokens", "__t")).as("load_ppm"))
      .transform(ps(col("bucket")))
  }

  /** Per-document token Shannon entropy (bits): `H = log2(n) − Σc·log2(c)/n`
    * over the doc's token counts — the lexical-diversity signal that
    * separates natural prose from degenerate repetition (a spam/boilerplate
    * screen complementing the Gopher repetition fractions, which count
    * only top-k duplication). Two map-side-combinable aggregate levels
    * ((doc, token) then doc) — no windows, no collect; entropy is a
    * continuous double rounded at presentation. */
  def qDocEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(
          graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log2(col("c").cast("double"))).as("__clog"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(log2(col("n_tokens").cast("double")) - col("__clog") / col("n_tokens"), 4)
          .as("entropy_bits"))
      .transform(ps(col("doc_id")))

  /** Maximum-inner-product top-20 (the recommender-scoring variant of
    * [[qCosineTopk]]: rank by the raw dot product, no normalization — the
    * metric a trained two-tower model retrieves against, where vector
    * NORM carries popularity signal that cosine would erase). The probe
    * is a literal array folded into the scan projection (one driver
    * round-trip for one vector); the dot is the index-ordered
    * [[Similarity.dot]] fold (both engines accumulate left-to-right in
    * double, so the rounded score matches bit-for-bit); the top-20 is
    * TakeOrderedAndProject under the (dot desc, vec_id) total order —
    * no global sort at any scale. */
  def qMips(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, found) = probeOrEmpty(emb, 1)
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    emb.where(col("vec_id") =!= 1 && lit(found))
      .select(col("vec_id"), round(Similarity.dot(col("embedding"), probeCol), 4).as("dot"),
        col("label"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(20)
  }

  /** One BPE-training count step: the top-20 adjacent character-pair merge
    * candidates over the corpus token stream (the argmax of this table IS
    * the first merge a byte-pair-encoding tokenizer learns; iterating
    * count→merge is BPE training). Pair generation is row-local
    * (sequence + substring over each token occurrence — no joins, no
    * windows), counts combine map-side, and the top-20 is TakeOrdered
    * under the (count desc, pair) total order. At 100 TB this is the
    * canonical map-side-combinable heavy-hitter shape. */
  def qBpeMerges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(
        graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
        .as("token"))
      .where(length(col("token")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(20)

  /** Local clustering coefficient over the co-purchase graph: per part,
    * `triangles · 10⁶ div C(deg, 2)` — how close the node's neighborhood
    * is to a clique (the community-structure signal behind hub/bridge
    * classification). Triangles reuse the degree-ordered orientation
    * (out-degree O(√m), skew-proof wedge join); the per-node count is one
    * bounded aggregate over the triangle set; degree ≥ 2 nodes left-join
    * the count (0-triangle nodes kept). Top-20 by the (coeff desc,
    * partkey) total order. Oracle = naive triple-join enumeration. */
  def qClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coPurchaseGraph(s, d)
    val triPerNode = coPurchaseTriangles(e)
      .select(explode(array(col("w"), col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.where(col("d") >= 2)
      .join(triPerNode, Seq("n"), "left")
      .select(col("n").as("l_partkey"), col("d").as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_ppm",
        expr("(n_tri * 1000000) div ((deg * (deg - 1)) div 2)"))
      .orderBy(col("coeff_ppm").desc, col("l_partkey"))
      .limit(20)
  }

  /** Video frame-sampling schedule ([[graft.operators.Multimodal
    * .frameSchedule]]) over the synthetic media metadata (same
    * documents-derived media frame as [[qMediaSummary]]): one row per
    * frame to decode — every second, capped at 8 per asset — computed
    * from METADATA alone (the binary content column is never touched; the
    * schedule joins back to bytes only for frames actually decoded). Pure
    * row-local sequence+explode map stage; the frame hash is portable md5
    * so the schedule cross-checks in DuckDB. */
  def qFrameSample(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d)
      .where(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"), lit("video").as("kind"),
        expr("4000 + (doc_id % 7) * 1000").as("duration_ms"))
    graft.operators.Multimodal.frameSchedule(media, 1000L, 8)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Product-line profit by supplier nation and order year (TPC-H Q9
    * shape; the fixture has no partsupp, so unit cost is DECLARED as 80 %
    * of the part's retail price). Profit accumulates in exact 10⁻⁶-dollar
    * units: `price_c·(10⁴ − d4) − qty·retail_c·8000` — per-row ≤ ~10¹¹,
    * so the int64 sum holds to ~10⁷ qualifying rows per (nation, year)
    * group (≈ sf100; shard by month beyond). Red-part filter prunes the
    * part dim BEFORE broadcast; supplier→nation is a broadcast chain; the
    * fact shuffles once for the bounded (nation, year) grid. */
  def qNationProfit(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).where(col("p_name").contains("red"))
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)").as("retail_c"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("o_year"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_discount * 10000, 0) AS BIGINT)").as("d4"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("n_name"), col("o_year"),
        (col("price_c") * (lit(10000L) - col("d4")) -
          col("qty") * col("retail_c") * lit(8000L)).as("amount_u6"))
      .groupBy("n_name", "o_year")
      .agg(sum(col("amount_u6")).as("profit_u6"), count(lit(1)).as("n_lines"))
      .transform(ps(col("n_name"), col("o_year")))
  }

  /** Parts/supplier relationship census (TPC-H Q16 shape; the fixture has
    * no partsupp, so the supplier↔part relation is the DISTINCT
    * (partkey, suppkey) pairs observed in lineitem). Per (brand, type,
    * size) outside one excluded brand: how many distinct suppliers offer
    * such parts, excluding "complaint" suppliers (declared: negative
    * account balance — the fixture analog of the Q16 LIKE screen). The
    * fact collapses to the distinct pair table FIRST (one shuffle,
    * map-side combinable), the part dim broadcasts, the blacklist is a
    * broadcast anti-join, and the count-distinct runs over the bounded
    * attribute grid. Top-20 by (suppliers desc, brand, type, size). */
  def qPartSupplierCounts(s: SparkSession, d: String): DataFrame = {
    val rel = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val badSupp = Tables.supplier(s, d).where(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val part = Tables.part(s, d).where(col("p_brand") =!= "Brand#17")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    rel.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
      .limit(20)
  }

  /** Dominant-supplier screen (TPC-H Q20 shape; no partsupp availqty in
    * the fixture, so "excess share" is DECLARED as supplying more than
    * half of a part's 1996 shipped quantity). Per (part, supplier) vs
    * per-part totals — the comparison is the exact integer cross-multiply
    * `2·s_qty > tot_qty` (never a ratio double); both grains ride ONE
    * fact scan (the per-part total re-aggregates from the pair grain —
    * strictly smaller than the fact), the dominated-part count per
    * supplier is bounded by |part|, and the supplier dim broadcasts for
    * the name readout. Top-20 by (parts dominated desc, suppkey). */
  def qDominantSupplier(s: SparkSession, d: String): DataFrame = {
    // the explicit not-null guards match what the downstream equi-join
    // would infer on ONE branch only — stating them on the source keeps
    // the pair and total subtrees statically identical, so AQE stage
    // reuse serves both grains from one shuffle instead of re-scanning
    val pairs = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("s_qty"))
    val totals = pairs.groupBy("l_partkey")
      .agg(sum(col("s_qty")).as("tot_qty"))
    pairs.join(totals, Seq("l_partkey"))
      .where(col("s_qty") * 2 > col("tot_qty"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("n_parts_dominated"),
        sum(col("s_qty")).as("qty_dominated"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        Seq("s_suppkey"))
      .select(col("s_name"), col("s_suppkey"), col("n_parts_dominated"),
        col("qty_dominated"))
      .orderBy(col("n_parts_dominated").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Blocklist curation screen: per source, how many documents contain at
    * least one blocked term, with per-term hit counts — the wordlist
    * filtering pass (NSFW/toxicity/spam lexicons) every corpus curation
    * pipeline runs before training. The blocklist is a literal array
    * folded into the scan projection (broadcast-free: the membership test
    * is `arrays_overlap` / per-term `array_contains` over the row-local
    * token array — no token-stream explode, no join); both output grains
    * aggregate map-side over the bounded (source × term) space. */
  def qBlocklistFilter(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("slow", "dup", "stream", "sort")
    val toks = Tables.documents(s, d)
      .select(col("source"),
        graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1)
          .as("toks"))
    val hits = terms.map(t =>
      sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
        .as(s"hits_$t"))
    val aggs = Seq(
      sum(when(arrays_overlap(col("toks"),
        array(terms.map(lit): _*)), 1L).otherwise(0L)).as("n_blocked")) ++ hits
    toks.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .transform(ps(col("source")))
  }

  /** 2-core decomposition run to the FIXPOINT under a declared round cap
    * ([[KcoreCap]] = 8): each round drops nodes of degree < 2 and the
    * edges touching them, and the loop stops at the first round that
    * drops nothing (edge count unchanged ⇒ degrees unchanged ⇒ keep set
    * unchanged ⇒ fixpoint — pruning is monotone). Output is the full
    * 8-row shrink trace with a per-round `converged` flag; rounds after
    * convergence repeat the fixpoint counts with the flag set, so the
    * row count is DECLARED and the DuckDB oracle restates the loop as 8
    * materialized CTE rounds (identity after the fixpoint) while the
    * Spark loop still stops early — the executed-round count is exposed
    * to the spec via [[kcoreTrace]]. Each executed round is one semi-join
    * per endpoint over the current edge set, its edge count FUSED into
    * the checkpoint materialization as a `Dataset.observe` metric (one
    * job per round, plus one bounded node-count readout); lineage
    * truncates per round via [[graft.operators.Checkpoints.truncate]]
    * (local or reliable by conf) — without it round i re-derives rounds
    * 1..i−1 once per downstream aggregate (measured 24 s → 3 s at
    * sf0.01). The trace itself is ≤8 rows of 4 longs — the one
    * driver-side structure, bounded at any scale. */
  def qKcore(s: SparkSession, d: String): DataFrame = kcoreTrace(s, d)._1

  private[graft] final val KcoreCap = 8

  /** The k-core loop; returns (trace frame, rounds actually executed) so
    * the spec can pin early termination. */
  private[graft] def kcoreTrace(s: SparkSession, d: String): (DataFrame, Int) = {
    import s.implicits._
    val (e0, _) = coPurchaseGraph(s, d)
    // Degree census in ONE scan of the edge frame (explode, not the
    // two-scan unionAll — same rows, half the reads).
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("pa"), col("pb"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
    def observedCount(obs: org.apache.spark.sql.Observation): Long =
      obs.get.getOrElse("n", 0L) match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }
    // ONE materialization of the edge build (r16, guide §2.4): the old
    // pre-loop `e0.isEmpty` probe re-ran the full 3-shuffle co-purchase
    // build as its own execution before the checkpoint did it again. The
    // emptiness guard (AQE's empty-relation propagation can eliminate a
    // CollectMetrics node on a provably-empty SOURCE plan, blocking
    // Observation.get forever) now reads the checkpoint: one cheap count
    // job instead of a second build.
    var e = Checkpoints.truncate(e0)
    var prevEdges = e.count()
    if (prevEdges == 0L) {
      e.unpersist()
      val rows = (1 to KcoreCap).map(i => (i.toLong, 0L, 0L, 1L))
      return (rows.toDF("round", "n_nodes", "n_edges", "converged"), 0)
    }
    // The per-node degree table is materialized ONCE PER ROUND and shared
    // by that round's prune and the trace's node count (the old loop
    // re-aggregated degrees twice per round: once inside prune, once for
    // the separate `degrees(next).count()` job). The node count rides the
    // degree materialization as a fused observe — mid-loop frames are
    // checkpoint-backed (never provably empty at plan time), the same
    // precedent as the prune observe below, swept green on the degenerate
    // boards.
    def truncDeg(edges: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val dg = degrees(edges).observe(obs, count(lit(1)).as("n"))
        .transform(Checkpoints.truncate)
      (dg, observedCount(obs))
    }
    var (deg, _) = truncDeg(e)
    var trace = Vector.empty[(Long, Long, Long, Long)]
    var rounds = 0
    var converged = false
    while (!converged && rounds < KcoreCap) {
      val keep = deg.where(col("d") >= 2).select("n")
      val obs = org.apache.spark.sql.Observation()
      val next = e
        .join(keep.withColumnRenamed("n", "pa"), Seq("pa"), "left_semi")
        .join(keep.withColumnRenamed("n", "pb"), Seq("pb"), "left_semi")
        .select("pa", "pb")
        .observe(obs, count(lit(1)).as("n"))
        .transform(Checkpoints.truncate)
      val nEdges = observedCount(obs)
      if (nEdges == 0L) {
        // Prunes-to-empty short-circuit (ADVICE r16): an empty edge set
        // stays empty, so this round is (0, 0) and the NEXT round — if the
        // cap allows one — is (0, 0, converged) by definition. Emit both
        // directly instead of running two more observed rounds over an
        // empty checkpointed frame (the board where AQE empty-relation
        // propagation could drop a CollectMetrics node and block
        // Observation.get forever). Trace rows identical to the
        // unshort-circuited loop's.
        converged = nEdges == prevEdges
        rounds += 1
        trace :+= ((rounds.toLong, 0L, 0L, if (converged) 1L else 0L))
        if (!converged && rounds < KcoreCap) {
          rounds += 1
          trace :+= ((rounds.toLong, 0L, 0L, 1L))
        }
        converged = true
        prevEdges = nEdges
        e.unpersist()
        deg.unpersist()
        e = next
      } else {
        val (degNext, nNodes) = truncDeg(next)
        converged = nEdges == prevEdges
        rounds += 1
        trace :+= ((rounds.toLong, nNodes, nEdges, if (converged) 1L else 0L))
        prevEdges = nEdges
        e.unpersist()
        deg.unpersist()
        e = next
        deg = degNext
      }
    }
    e.unpersist()
    deg.unpersist()
    val tail = trace.last
    val full = trace ++
      (rounds + 1 to KcoreCap).map(i => (i.toLong, tail._2, tail._3, 1L))
    (full.toDF("round", "n_nodes", "n_edges", "converged"), rounds)
  }

  /** Last-touch marketing attribution: each purchase is credited to the
    * user's most recent PRECEDING non-purchase event within 7 days
    * ('direct' when none) — the channel-credit readout of the event log.
    * The carry is one user-keyed window max of a monotone
    * (ts, event_id, type) struct over non-purchase rows (ts + unique
    * event_id make the order total, so the type field never decides a
    * comparison) — no self-join of the log against itself; the census is
    * a bounded per-channel aggregate. */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("prev",
        max(when(col("event_type") =!= "purchase",
          struct(col("ts"), col("event_id"), col("event_type")))).over(w))
      .where(col("event_type") === "purchase")
      .select(when(col("prev").isNull ||
          col("ts").cast("long") - col("prev.ts").cast("long") > 7L * 86400L,
          lit("direct")).otherwise(col("prev.event_type")).as("channel"))
      .groupBy("channel").agg(count(lit(1)).as("n_purchases"))
      .transform(ps(col("channel")))
  }

  /** Watermark-sizing profile: per event, how far BEHIND the user's
    * event-time high-water mark it arrived — the out-of-order-depth
    * histogram that tells a streaming deployment what
    * `withWatermark(...)` bound actually covers its data. The fixture's
    * event_id sequence is already time-sorted, so arrival order is
    * DECLARED as the portable md5 hash of event_id — a deterministic
    * shuffled ingestion sequence both engines reproduce (the profile
    * MECHANICS are the operator; the scramble just gives them a
    * non-degenerate stream). The high-water mark is one user-keyed
    * window max over the arrival order (never a global single-partition
    * window); lateness buckets are integer power-of-2 seconds via a
    * comparison chain (no float log2); output is the bounded bucket
    * census with in-order traffic as bucket −1. */
  def qLateArrivals(s: SparkSession, d: String): DataFrame = {
    val arrival =
      expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    val w = Window.partitionBy(col("user_id")).orderBy(arrival, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = Tables.events(s, d)
      .withColumn("hwm", max(col("ts")).over(w))
      .select((col("hwm").cast("long") - col("ts").cast("long")).as("late_s"))
      .select(when(col("late_s").isNull || col("late_s") <= 0, lit(-1L))
        .otherwise(
          when(col("late_s") <= 1, 0L).when(col("late_s") <= 2, 1L)
            .when(col("late_s") <= 4, 2L).when(col("late_s") <= 8, 3L)
            .when(col("late_s") <= 16, 4L).when(col("late_s") <= 32, 5L)
            .when(col("late_s") <= 64, 6L).when(col("late_s") <= 128, 7L)
            .when(col("late_s") <= 256, 8L).when(col("late_s") <= 512, 9L)
            .when(col("late_s") <= 1024, 10L).when(col("late_s") <= 2048, 11L)
            .when(col("late_s") <= 4096, 12L).when(col("late_s") <= 8192, 13L)
            .when(col("late_s") <= 16384, 14L).otherwise(15L)).as("bucket"))
    late.groupBy("bucket").agg(count(lit(1)).as("n_events"))
      .transform(ps(col("bucket")))
  }

  /** Product-quantization ANN (the IVF companion: PQ is how billion-scale
    * indexes compress vectors to bytes): the 64-dim space splits into two
    * 32-dim subspaces, each quantized against 8 seeded sub-centroids
    * (vec_id < 8 — the [[Similarity.seedCentroids]] convention), every
    * vector encodes as two codes via exact argmin (min over a
    * (distance, cid) struct — ties to the smallest centroid), and probe
    * distance is ASYMMETRIC (ADC): the probe's 16-entry distance table
    * joins the codes, so ranking costs one 16-row broadcast lookup per
    * vector instead of a 64-dim scan. Everything is relational — the
    * sub-centroid table derives from the embeddings scan (no driver
    * collect), assignment is a broadcast nest folded map-side (the
    * [[Similarity.kmeansAssignJoined]] plan-size discipline), and both
    * engines fold distances in index order so the rounded ranking
    * hash-matches. Top-10 by (approx distance asc, vec_id). */
  def qAnnPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    def halves(src: DataFrame, idAs: String, vecAs: String): DataFrame =
      src.select(col("vec_id").as(idAs),
        explode(array(
          struct(lit(0L).as("half"),
            expr("slice(CAST(embedding AS ARRAY<DOUBLE>), 1, 32)").as(vecAs)),
          struct(lit(1L).as("half"),
            expr("slice(CAST(embedding AS ARRAY<DOUBLE>), 33, 32)").as(vecAs))))
          .as("h"))
        .select(col(idAs), col("h.half").as("half"), col(s"h.$vecAs").as(vecAs))
    val cents = halves(emb.where(col("vec_id") < 8), "cid", "cv")
    val vecs = halves(emb, "vec_id", "sv")
    val dist = vecs.join(broadcast(cents), Seq("half"))
      .select(col("vec_id"), col("half"), col("cid"),
        Similarity.sqDist(col("sv"), col("cv")).as("dd"))
    val codes = dist
      .groupBy("vec_id", "half")
      .agg(min(struct(col("dd").as("d"), col("cid").as("cid"))).as("m"))
      .select(col("vec_id"), col("half"), col("m.cid").as("code"))
    val probeDist = dist.where(col("vec_id") === 0)
      .select(col("half").as("p_half"), col("cid").as("p_cid"),
        col("dd").as("pd"))
    codes.join(broadcast(probeDist),
        col("half") === col("p_half") && col("code") === col("p_cid"))
      .groupBy("vec_id").agg(sum(col("pd")).as("adist_raw"))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), round(col("adist_raw"), 4).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  /** Quantized-prefilter + exact-rerank retrieval (the production ANN
    * serving shape: an int8 scan prunes, full precision reranks). Codes
    * use a GLOBAL symmetric scale (c = round(x·128), int8-representable
    * for the fixture's ±0.53 range — a declared corpus property), so the
    * prefilter score is an EXACT INTEGER dot product — bit-identical
    * across engines, no float ranking at the wide stage. Top-50 integer
    * candidates (TakeOrdered) rerank by exact double cosine, rounded at
    * presentation; final top-10 by (sim desc, vec_id). At 100 TB the
    * int8 codes are ¼ the bytes of fp32 — the scan that actually fits
    * in cache — and the exact rerank touches only 50 vectors. */
  def qQuantizedRerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codes = expr(
      "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 128, 0) AS BIGINT))")
    val (probeRow, found) = probeOrEmpty(emb, 2)
    val pCodes = probeRow.map(v => math.round(v.toDouble * 128))
    val pCol = array(probeRow.map(v => lit(v.toDouble)): _*)
    val pCodeCol = array(pCodes.map(lit): _*)
    val idot = aggregate(
      zip_with(codes, pCodeCol, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val sim = round(cosine_sim(col("embedding"), pCol), 4)
    emb.where(col("vec_id") =!= 2 && lit(found))
      .select(col("vec_id"), col("embedding"), idot.as("idot"))
      .orderBy(col("idot").desc, col("vec_id"))
      .limit(50)
      .select(col("vec_id"), col("idot"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Bigram-LM surprisal per document (the perplexity-proxy curation
    * signal: high mean surprisal = text the corpus LM finds unlikely —
    * gibberish or out-of-domain; the bigram companion to the unigram
    * [[qRarityScore]]). Train and eval corpus coincide, so every eval
    * bigram has count ≥ 1 — no smoothing term to get wrong: surprisal =
    * mean(log2 c(w₁·) − log2 c(w₁w₂)) over the doc's bigram occurrences,
    * a continuous double rounded at presentation. Bigrams form row-locally
    * (native shingle expression — no token-stream shuffle); the count
    * tables are (bigram)- and (prefix)-keyed aggregates joined back on
    * the same keys — at fixture scale they broadcast, at corpus scale
    * they shuffle co-keyed with the stream (the standard LM-scoring
    * join). */
  def qBigramPpx(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(
          graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 2))
          .as("bigram"))
      .withColumn("w1", expr("substring_index(bigram, ' ', 1)"))
    val biCnt = bi.groupBy("bigram").agg(count(lit(1)).as("c12"))
    val w1Cnt = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(biCnt, Seq("bigram")).join(w1Cnt, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log2(col("c1").cast("double")) - log2(col("c12").cast("double")))
          .as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__s") / col("n_bigrams"), 4).as("surprisal_bits"))
      .transform(ps(col("doc_id")))
  }

  /** Point-in-time (temporally correct) feature join — the feature-store
    * pattern that prevents label leakage in training data: each event
    * reads the customer's order-count feature AS OF the event time, never
    * a later value. The dimension is the SCD2 effective-dated build (one
    * customer-keyed lead window over orders; same-date rows collapse into
    * empty intervals, so exactly one interval covers any instant); the
    * join is equi on the customer key with the interval residual inside
    * it — co-keyed shuffle, never a cross join; events before the first
    * order keep feature 0 via the left join. Output is the bounded
    * (feature value → event count/value) census. */
  def qPitJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("valid_from"), col("o_orderkey"))
    val dim = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("valid_from"))
      .withColumn("n_orders",
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .drop("o_orderkey")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("ed"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("val_c"))
    ev.join(dim,
        col("user_id") === col("o_custkey") &&
          col("ed") >= col("valid_from") &&
          (col("valid_to").isNull || col("ed") < col("valid_to")),
        "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("n_orders_at_event"),
        col("val_c"))
      .groupBy("n_orders_at_event")
      .agg(count(lit(1)).as("n_events"), sum(col("val_c")).as("value_c"))
      .transform(ps(col("n_orders_at_event")))
  }

  /** Deterministic negative sampling for contrastive training: for every
    * customer with at least one purchase, 5 parts they did NOT buy,
    * drawn from a DECLARED candidate pool (the top-50 most-ordered parts
    * — production negative samplers draw from a popularity pool so
    * negatives are plausible, not random catalog noise) in seeded-hash
    * order. The pool is a bounded TakeOrdered broadcast; the user×pool
    * nest anti-joins the purchase table CO-KEYED on (customer, part);
    * ranking is a customer-partitioned window over ≤50 rows — never a
    * full catalog scan per user. Knuth-arithmetic hash restates exactly
    * in SQL. */
  def qNegativeSample(s: SparkSession, d: String): DataFrame = {
    val bought = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val pool = bought.groupBy("p").agg(count(lit(1)).as("n_buyers"))
      .orderBy(col("n_buyers").desc, col("p"))
      .limit(50)
      .select(col("p").as("cand"))
    val users = bought.select(col("c")).distinct()
    val h = expr("((c * 131071 + cand) % 2147483648) * 2654435761 % 4294967296")
    val w = Window.partitionBy(col("c")).orderBy(h, col("cand"))
    users.crossJoin(broadcast(pool))
      .join(bought.withColumnRenamed("p", "cand"), Seq("c", "cand"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("c").as("c_custkey"), col("cand").as("l_partkey"), col("rank"))
      .orderBy("c_custkey", "rank")
  }

  /** KMV (k-minimum-values) distinct-count sketch, audited against the
    * exact answer: per event type, the k=64 smallest 52-bit md5 hashes of
    * the user ids estimate distinct users as `(k−1)·2⁵²/h₍ₖ₎` — the
    * classic bottom-k estimator, and unlike HLL fully portable (md5 both
    * engines) so the oracle checks it EXACTLY. The k-smallest selection
    * is the two-phase bucketed form: uniform hashes range-bucket evenly
    * on their top bits, so phase 1 ranks inside 128 balanced (type,
    * hash-range) partitions and phase 2 ranks only the ≤128·k survivors
    * per type — no single-task full sort at any scale (the global top-k
    * of a set is always inside the union of per-bucket top-k). At 100 TB
    * the sketch side touches each distinct hash once and keeps 64 values
    * per group; the exact side is the audit, not the product. */
  def qKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val hv = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct() // KMV is defined over the distinct HASH set
    val b1 = Window.partitionBy(col("event_type"), col("hb")).orderBy(col("h"))
    val b2 = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = hv
      .withColumn("hb", expr("h div 35184372088832")) // 2^45 → 128 range buckets
      .withColumn("r1", row_number().over(b1)).where(col("r1") <= K)
      .withColumn("r2", row_number().over(b2)).where(col("r2") <= K)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
    val exact = Tables.events(s, d).select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    sk.join(exact, "event_type")
      // below k distinct hashes the sketch holds the whole set — exact;
      // 63·2⁵² ≈ 2.8e17 stays far inside int64
      .select(col("event_type"), col("n_exact"),
        when(col("n_sk") < K, col("n_sk"))
          .otherwise(expr(s"(${K - 1}L * 4503599627370496L) div kth"))
          .as("n_kmv"))
      .withColumn("err_ppm", expr("(abs(n_kmv - n_exact) * 1000000L) div n_exact"))
      .transform(ps(col("event_type")))
  }

  /** Count-min-sketch frequency estimation, audited against exact counts:
    * a d=4 × w=8 CMS over the corpus token stream (portable md5 row
    * hashes, so both engines build the IDENTICAL sketch), read back for
    * the 20 most frequent tokens — estimate = min over the 4 counters,
    * always ≥ exact, and the `overcount` column is the collision-induced
    * bias a CMS user budgets for. w=8 is DELIBERATELY undersized for the
    * fixture's 31-type vocabulary so the collision regime is actually
    * exercised (a wide sketch over this corpus measures nothing);
    * production sizes w to the heavy-hitter budget — every shape below
    * is w-independent. The counter table is one map-side-combined
    * aggregate over per-token counts (d·w rows at ANY corpus size — the
    * mergeable-sketch shape that turns 100 TB of tokens into a
    * broadcastable frequency oracle); the top-20 readout is a
    * TakeOrdered, and the probe↔counter join is a broadcast hash join.
    * AQE stage reuse serves the token-count exchange to both the sketch
    * build and the readout. */
  def qCmsEstimate(s: SparkSession, d: String): DataFrame = {
    val bucketOf = "CAST(conv(substr(md5(concat(CAST(j AS STRING), '|', token)), " +
      "1, 13), 16, 10) AS BIGINT) % 8"
    val tc = Tables.documents(s, d)
      .select(explode(
        graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val cnt = tc
      .select(col("c"), col("token"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("bucket", expr(bucketOf))
      .groupBy("j", "bucket").agg(sum(col("c")).as("counter"))
    tc.orderBy(col("c").desc, col("token")).limit(20)
      .select(col("token"), col("c"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("bucket", expr(bucketOf))
      .join(broadcast(cnt), Seq("j", "bucket"))
      .groupBy("token", "c")
      .agg(min(col("counter")).as("cms_est"))
      .select(col("token"), col("c").as("n_exact"), col("cms_est"),
        (col("cms_est") - col("c")).as("overcount"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** KMV sketch ALGEBRA — the property that makes bottom-k sketches a
    * 100-TB tool: two sketches built INDEPENDENTLY (per day, per
    * partition, per source) combine into union / intersection / Jaccard
    * estimates WITHOUT rescanning either input. Sides here are the
    * distinct customer sets ordering in 1996 (A) and 1997 (B) — overlap
    * ≈ 2/3 at every fixture, so the estimators are genuinely active.
    * Each side's K=64 bottom-k selection is the two-phase range-bucketed
    * rank (the [[qKmvDistinct]] scale guard: phase-1 windows are
    * (side, range-bucket)-bounded — never a single-task sort over the
    * distinct-hash set); everything after runs on the ≤2K sketch ROWS:
    * the union sketch is the bottom-K of the merged hash sets (a ≤128-row
    * frame — its single-partition rank is input-bounded by construction),
    * |A∪B|-hat comes from its k-th value, Jaccard-hat = shared/|usk|
    * where `shared_k` counts union-sketch hashes present in BOTH side
    * sketches, and |A∩B|-hat = Jaccard-hat · |A∪B|-hat in exact integer
    * arithmetic. Exact counterparts audited alongside with ppm errors;
    * below K distinct hashes every estimate degrades to exact. All
    * combining joins are over ≤K-row broadcasts. */
  def qKmvSetOps(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val base = Tables.orders(s, d)
      .where(expr("year(o_orderdate) IN (1996, 1997)"))
      .select(expr("CAST(year(o_orderdate) AS BIGINT)").as("side"),
        col("o_custkey"))
    val hv = base
      .select(col("side"),
        expr("CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 13), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
    val b1 = Window.partitionBy(col("side"), col("hb")).orderBy(col("h"))
    val b2 = Window.partitionBy(col("side")).orderBy(col("h"))
    val sk = hv
      .withColumn("hb", expr("h div 35184372088832")) // 2^45 → 128 range buckets
      .withColumn("r1", row_number().over(b1)).where(col("r1") <= K)
      .withColumn("r2", row_number().over(b2)).where(col("r2") <= K)
      .select("side", "h")
    val uw = Window.partitionBy(lit(1)).orderBy(col("h")) // ≤2K rows by construction
    val usk = sk.select("h").distinct()
      .withColumn("r", row_number().over(uw)).where(col("r") <= K)
      .select("h")
    val stats = usk.agg(count(lit(1)).as("n_usk"), max(col("h")).as("kth"))
    val shared = usk
      .join(sk.where(col("side") === 1996).select("h"), Seq("h"), "left_semi")
      .join(sk.where(col("side") === 1997).select("h"), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("shared_k"))
    val du = base.distinct()
    val unionExact = du.agg(countDistinct(col("o_custkey")).as("n_union_exact"))
    val interExact = du.groupBy("o_custkey").agg(count(lit(1)).as("ns"))
      .where(col("ns") === 2).agg(count(lit(1)).as("n_inter_exact"))
    stats.crossJoin(broadcast(shared))
      .crossJoin(broadcast(unionExact)).crossJoin(broadcast(interExact))
      .withColumn("n_union_kmv",
        when(col("n_usk") < K, col("n_usk"))
          .otherwise(expr(s"(${K - 1}L * 4503599627370496L) div kth")))
      .withColumn("n_inter_kmv", expr("(shared_k * n_union_kmv) div nullif(n_usk, 0)"))
      .select(col("n_union_exact"), col("n_union_kmv"),
        expr("(abs(n_union_kmv - n_union_exact) * 1000000L) div nullif(n_union_exact, 0)")
          .as("union_err_ppm"),
        col("n_inter_exact"), col("n_inter_kmv"),
        expr("(abs(n_inter_kmv - n_inter_exact) * 1000000L) div nullif(n_inter_exact, 0)")
          .as("inter_err_ppm"),
        col("shared_k"), col("n_usk"))
  }

  /** Mergeable histogram quantiles — the QUANTILE member of the sketch
    * family ([[qKmvDistinct]] distinct, [[qCmsEstimate]] frequency,
    * q_heavy_hitters top-k): a B=64 equi-width counter histogram over
    * price cents is the mergeable shape (per-partition histograms ADD —
    * at 100 TB each executor emits 64 longs and the quantile never sees
    * the data again), read back by interpolating the target rank inside
    * its bucket, audited against the EXACT order statistic. Deliberately
    * coarse (64 buckets over the full price domain) so the interpolation
    * error is real and the `err_ppm` audit measures something. Every step
    * is exact integer arithmetic on cents (domain split and bucket edges
    * by the same `(i·(mx−mn+1)) div B` formula in both engines, so edges
    * are byte-identical); the exact side extracts ranks
    * `(p·(n−1)) div 100` via the two-phase scalable global row number —
    * never a single-task sort of the data. The only single-partition
    * window is the cumulative sum over the 64-row histogram itself —
    * bounded by construction at any scale. Domain stats and the 3-row
    * target table ride 1-row/bounded broadcasts. */
  def qHistQuantiles(s: SparkSession, d: String): DataFrame = {
    val B = 64
    val cents = Tables.lineitem(s, d)
      .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
    val stats = cents.agg(count(lit(1)).as("n"), min("c").as("mn"), max("c").as("mx"))
    val hist = cents.crossJoin(broadcast(stats))
      .withColumn("b",
        expr(s"CASE WHEN mx = mn THEN 0L ELSE ((c - mn) * $B) div (mx - mn + 1) END"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val wcum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1) // ≤64 rows by construction
    val cum = hist.withColumn("cum", coalesce(sum(col("cnt")).over(wcum), lit(0L)))
    val targets = stats
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("p"),
        col("n"), col("mn"), col("mx"))
      .withColumn("r", expr("(p * (n - 1)) div 100"))
    val est = targets.join(broadcast(cum),
        col("r") >= col("cum") && col("r") < col("cum") + col("cnt"))
      .withColumn("lo",
        expr(s"CASE WHEN mx = mn THEN mn ELSE mn + (b * (mx - mn + 1)) div $B END"))
      .withColumn("hi",
        expr(s"CASE WHEN mx = mn THEN mx + 1 ELSE mn + ((b + 1) * (mx - mn + 1)) div $B END"))
      .withColumn("est_cents", expr("lo + ((r - cum) * (hi - lo)) div cnt"))
      .select("p", "n", "r", "est_cents")
    val ranked = Ops.runningSums(cents, Nil, Seq("c"), "rk" -> lit(1L))
    val exact = broadcast(targets.select(col("p").as("__p"), (col("r") + 1).as("__t")))
      .join(ranked, col("rk") === col("__t"))
      .select(col("__p").as("p"), col("c").as("exact_cents"))
    est.join(exact, "p")
      .select(col("p"), col("n"), col("est_cents"), col("exact_cents"),
        expr("(abs(est_cents - exact_cents) * 1000000L) div exact_cents")
          .as("err_ppm"))
      .transform(ps(col("p")))
  }

  /** DDSketch-style mergeable RELATIVE-error quantile sketch — the
    * log-bucket member of the sketch family, closing the bias the
    * equi-width [[qHistQuantiles]] carries by construction: 64 equal
    * buckets bound ABSOLUTE error by domain/64, which on a skewed domain
    * packs whole percentile ranges into one bucket, while the log bucket
    * key `8·msb(v) + next-3-bits` (msb via the portable
    * `length(bin(v)) − 1`; sub-bits as `(v·8) div 2^msb − 8`) keeps every
    * bucket's width/lo ≤ 1/8, so the readout is GUARANTEED within 12.5 %
    * of the exact order statistic (err_ppm ≤ 125 000) for ANY
    * distribution — the relative-error sketch contract of the public
    * DDSketch design (Masson, Rim & Lee, VLDB 2019), here with
    * pure-integer bucket arithmetic both engines compute bit-identically
    * (valid for v ≥ 1; price cents are ≥ 10⁴, and `pow(2, m)` casts
    * exactly for m ≤ 62). MERGEABILITY is on the oracle board, not just
    * claimed: this side builds one sketch per ship-MONTH and merges the
    * partials by counter addition, while the DuckDB oracle histograms the
    * corpus DIRECTLY — the hash match proves merge ≡ direct, the
    * [[qReaggAudit]] doctrine. Shapes at 100 TB: the census combines
    * map-side to ≤ |buckets| ≈ 60 longs per (month, partition); merge,
    * cumulative window, targets and interpolation all run on the bounded
    * bucket table; n comes from the merged sketch (never a second corpus
    * scan); the exact audit side is the two-phase scalable global rank. */
  def qDdsketchQuantiles(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d).select(
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"),
      expr("month(l_shipdate)").as("mo"))
    val monthly = cents
      .withColumn("m", expr("length(bin(c)) - 1"))
      .withColumn("bkt", expr("m * 8 + (c * 8) div CAST(pow(2.0D, m) AS BIGINT) - 8"))
      .groupBy("mo", "bkt").agg(count(lit(1)).as("cnt")) // 12 shard sketches
    val hist = monthly.groupBy("bkt").agg(sum("cnt").as("cnt")) // the merge
    val wcum = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1) // bounded bucket table
    val cum = hist.withColumn("cum", coalesce(sum(col("cnt")).over(wcum), lit(0L)))
    val targets = hist.agg(sum(col("cnt")).as("n"))
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("p"), col("n"))
      .withColumn("r", expr("(p * (n - 1)) div 100"))
    val est = targets.join(broadcast(cum),
        col("r") >= col("cum") && col("r") < col("cum") + col("cnt"))
      .withColumn("lo",
        expr("((8 + bkt % 8) * CAST(pow(2.0D, bkt div 8) AS BIGINT)) div 8"))
      .withColumn("hi",
        expr("((9 + bkt % 8) * CAST(pow(2.0D, bkt div 8) AS BIGINT)) div 8"))
      .withColumn("est_cents", expr("lo + ((r - cum) * (hi - lo)) div cnt"))
      .select("p", "n", "r", "est_cents")
    val ranked = Ops.runningSums(cents.select("c"), Nil, Seq("c"), "rk" -> lit(1L))
    val exact = broadcast(targets.select(col("p").as("__p"), (col("r") + 1).as("__t")))
      .join(ranked, col("rk") === col("__t"))
      .select(col("__p").as("p"), col("c").as("exact_cents"))
    est.join(exact, "p")
      .select(col("p"), col("n"), col("est_cents"), col("exact_cents"),
        expr("(abs(est_cents - exact_cents) * 1000000L) div exact_cents")
          .as("err_ppm"))
      .transform(ps(col("p")))
  }

  /** Join-cardinality estimation from Fast-AGMS (count) sketches — the CBO
    * input that prices a many-to-many join WITHOUT running it (the
    * [[qNdvStats]] companion: NDV prices distinct-ness, this prices the
    * blowup). Sides are 1996 vs 1997 shipments keyed by `l_partkey`; the
    * true join size `Σₖ aₖ·bₖ` never materializes the join — it folds over
    * the per-key count table. Each side compresses into a d=9 × w=64
    * COUNT-SKETCH (bucket AND ±1 sign from portable md5, so both engines
    * build the IDENTICAL sketch), and the estimate is the Fast-AGMS inner
    * product: per depth `Σ_w cA[j][w]·cB[j][w]`, read out at the MEDIAN —
    * d odd so the median is ONE order statistic over the 9-row estimate
    * frame. Unlike the CMS inner product (whose collision mass overcounts
    * quadratically in key density — measured 250× over at sf0.01), the
    * signed estimator is UNBIASED with variance ∝ F₂(A)·F₂(B)/w: measured
    * 1–10 % across fixtures, and EXACT whenever ≤ w keys land
    * collision-free (signs cancel only across distinct keys). Shapes at
    * 100 TB: ONE fact scan feeds the per-key count aggregate (map-side
    * combined; AQE stage reuse serves it to the exact fold and the sketch
    * build), counter tables are d·w = 576 rows per side at ANY scale, the
    * estimate joins 576-row frames, and the median ranks 9 rows. Bucket
    * sums are signed row counts — int64-safe to ~9.2·10¹⁸ row-pairs per
    * bucket product (the [[qNationProfit]]-style declared ceiling). */
  def qJoinSizeEst(s: SparkSession, d: String): DataFrame = {
    val bucketOf = "CAST(conv(substr(md5(concat(CAST(j AS STRING), '|', " +
      "CAST(k AS STRING))), 1, 13), 16, 10) AS BIGINT) % 64"
    val signOf = "CASE WHEN CAST(conv(substr(md5(concat('s', CAST(j AS STRING), '|', " +
      "CAST(k AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2 = 0 THEN 1L ELSE -1L END"
    val kc = Tables.lineitem(s, d)
      .where(expr("year(l_shipdate) IN (1996, 1997)"))
      .groupBy(col("l_partkey").as("k"))
      .agg(sum(expr("CAST(year(l_shipdate) = 1996 AS BIGINT)")).as("a"),
        sum(expr("CAST(year(l_shipdate) = 1997 AS BIGINT)")).as("b"))
    val exact = kc.agg(sum(col("a") * col("b")).as("n_exact"))
    val wm = Window.orderBy(col("ip"), col("j")) // 9 rows by construction
    val est = kc
      .select(col("k"), col("a"), col("b"), explode(expr("sequence(0, 8)")).as("j"))
      .withColumn("bucket", expr(bucketOf))
      .withColumn("sgn", expr(signOf))
      .groupBy("j", "bucket")
      .agg(sum(col("a") * col("sgn")).as("ca"), sum(col("b") * col("sgn")).as("cb"))
      .groupBy("j").agg(sum(col("ca") * col("cb")).as("ip"))
      .withColumn("r", row_number().over(wm)).where(col("r") === 5)
      .select(col("ip").as("est_agms"))
    est.crossJoin(broadcast(exact))
      .select(col("n_exact"), col("est_agms"),
        expr("(abs(est_agms - n_exact) * 1000000L) div nullif(n_exact, 0)").as("err_ppm"))
  }

  /** AMS second-moment (self-join size) estimation, audited against exact
    * F₂ — the OTHER half of the sketch-driven CBO: F₂ = Σᵤ cᵤ² on the
    * event log's user key prices self-joins and skew (a heavy key
    * dominates F₂ long before it dominates the row count). The Fast-AGMS
    * form of the tug-of-war sketch: d=9 rows × w=64 signed-count buckets
    * (bucket and ±1 sign both portable md5, so the sketch is IDENTICAL in
    * both engines), per-row estimate `Σ_w S[j][w]²`, read out at the
    * median — d odd so the median is ONE order statistic, a rank over the
    * 9-row estimate frame (bounded by construction at any scale).
    * Unbiased, variance ∝ 2·F₂²/w (measured ≤ 6 % at every fixture), and
    * EXACT whenever ≤ w keys land collision-free. Per-key counts combine
    * map-side and AQE stage reuse serves them to both the exact fold and
    * the sketch; the sketch shuffle is d·w = 576 longs per executor
    * regardless of input. Bucket sums are signed row counts — int64-safe
    * while F₂ < 9.2·10¹⁸ (same declared ceiling as the exact side it
    * audits). */
  def qAmsF2(s: SparkSession, d: String): DataFrame = {
    val bucketOf = "CAST(conv(substr(md5(concat(CAST(j AS STRING), '|', " +
      "CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT) % 64"
    val signOf = "CASE WHEN CAST(conv(substr(md5(concat('s', CAST(j AS STRING), '|', " +
      "CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2 = 0 " +
      "THEN 1L ELSE -1L END"
    val uc = Tables.events(s, d).groupBy("user_id").agg(count(lit(1)).as("c"))
    val exact = uc.agg(sum(col("c") * col("c")).as("f2_exact"))
    val wm = Window.orderBy(col("estj"), col("j")) // 9 rows by construction
    val med = uc
      .select(col("user_id"), col("c"), explode(expr("sequence(0, 8)")).as("j"))
      .withColumn("bucket", expr(bucketOf))
      .withColumn("sgn", expr(signOf))
      .groupBy("j", "bucket").agg(sum(col("c") * col("sgn")).as("sb"))
      .groupBy("j").agg(sum(col("sb") * col("sb")).as("estj"))
      .withColumn("r", row_number().over(wm)).where(col("r") === 5)
      .select(col("estj").as("f2_ams"))
    med.crossJoin(broadcast(exact))
      .select(col("f2_exact"), col("f2_ams"),
        expr("(abs(f2_ams - f2_exact) * 1000000L) div f2_exact").as("err_ppm"))
  }

  /** Mean-reciprocal-rank eval at k=10 over the [[qNdcg]] probe protocol
    * (same 10 broadcast probes, same rounded-sim + vec_id total order,
    * same label-match relevance) — the first-hit metric a retrieval stack
    * reports next to NDCG: per probe, the rank of the FIRST relevant
    * result inside the top-10 (0 = miss) and its reciprocal in exact ppm
    * (`10⁶ div rank` — integer, no float division to disagree on). The
    * per-probe ranking partitions on q_id exactly as q_ndcg does (10
    * bounded probe partitions; the candidate set is the parallel unit);
    * misses survive via the probe-side left join, so the output is always
    * the full 10-row probe table. */
  def qMrr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("simr").desc, col("vec_id"))
    val hits = emb.where(col("vec_id") >= 10)
      .crossJoin(broadcast(probes))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(cosine_sim(col("embedding"), col("q_emb")), 4).as("simr"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10 && col("label") === col("q_label"))
      .groupBy("q_id").agg(min(col("rank")).cast("long").as("frr"))
    probes.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("frr"), lit(0L)).as("first_rel_rank"),
        when(col("frr").isNull, lit(0L))
          .otherwise(expr("1000000L div frr")).as("rr_ppm"))
      .transform(ps(col("q_id")))
  }

  /** Reciprocal-rank fusion of two retrieval rankers — the standard hybrid
    * combine (`score = Σ 1/(60+rank)`, Cormack et al.) restated in exact
    * integer parts-per-billion (`10⁹ div (60+rank)`) so both engines agree
    * bit-for-bit. The two rankers are the repo's own dense pair: cosine
    * ([[qCosineTopk]]'s metric) and raw inner product ([[qMips]]'s) against
    * the vec_id=1 probe — they genuinely disagree wherever vector norm
    * carries signal. Fusion is over each ranker's top-20 LIST (absent ⇒
    * contributes 0 — the production form: lists are what the servers
    * return), so the only windows rank 20-row frames (bounded by
    * construction; the top-20s themselves are TakeOrdered, no global
    * sort), the combine is a 20∪20-row full-outer join, and the probe is
    * the one bounded driver round-trip the MIPS family already budgets. */
  def qRankFusion(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (probe, found) = probeOrEmpty(emb, 1)
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    val scored = emb.where(col("vec_id") =!= 1 && lit(found))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), probeCol), 4).as("simr"),
        round(Similarity.dot(col("embedding"), probeCol), 4).as("dotr"))
    val topCos = scored.orderBy(col("simr").desc, col("vec_id")).limit(20)
      .withColumn("rank_cos", // 20 rows by construction
        row_number().over(Window.orderBy(col("simr").desc, col("vec_id"))))
      .select("vec_id", "rank_cos")
    val topDot = scored.orderBy(col("dotr").desc, col("vec_id")).limit(20)
      .withColumn("rank_dot", // 20 rows by construction
        row_number().over(Window.orderBy(col("dotr").desc, col("vec_id"))))
      .select("vec_id", "rank_dot")
    topCos.join(topDot, Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        coalesce(col("rank_cos"), lit(0)).cast("long").as("rank_cos"),
        coalesce(col("rank_dot"), lit(0)).cast("long").as("rank_dot"))
      .withColumn("rrf_ppb",
        expr("CASE WHEN rank_cos = 0 THEN 0L ELSE 1000000000L div (60 + rank_cos) END + " +
          "CASE WHEN rank_dot = 0 THEN 0L ELSE 1000000000L div (60 + rank_dot) END"))
      .orderBy(col("rrf_ppb").desc, col("vec_id"))
      .limit(10)
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023, in its deterministic hashed-feature
    * form) — the curation operator that SCORES raw data by how
    * target-like it is instead of filtering by hand-written rules. Both
    * distributions live in a 256-bucket hashed unigram feature space
    * (portable md5, the [[qFeatureHash]] trick): `target` = the declared
    * high-quality source (`src0`), `raw` = the rest; each gets
    * add-one-smoothed bucket probabilities, and a document's weight is its
    * token-wise log-likelihood ratio `Σ log₂ p_t(b(tok)) − log₂ p_r(b(tok))`
    * (rounded at presentation — continuous, measure-zero boundary). `keep`
    * flags logw > 0: resampling by these weights shifts raw data toward
    * the target distribution. Shapes at 100 TB: token → bucket is
    * row-local, both distribution tables are 256-row map-side aggregates
    * broadcast into the scoring join, the per-doc sum is one map-side-
    * combinable aggregate — linear end-to-end, no windows, no pairs. */
  def qDsirWeights(s: SparkSession, d: String): DataFrame = {
    val B = 256
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(
          graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .withColumn("b",
        expr(s"CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT) % $B"))
    val dist = toks
      .groupBy("b")
      .agg(sum(expr("CAST(source = 'src0' AS BIGINT)")).as("ct"),
        sum(expr("CAST(source <> 'src0' AS BIGINT)")).as("cr"))
    val tot = dist.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val ratio = dist.crossJoin(broadcast(tot))
      .select(col("b"),
        // add-one smoothing keeps empty buckets finite on both sides
        (log2((col("ct") + 1).cast("double")) - log2((col("nt") + B).cast("double"))
          - log2((col("cr") + 1).cast("double")) + log2((col("nr") + B).cast("double")))
          .as("llr"))
    toks.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("llr")).as("lw"))
      .select(col("doc_id"), col("n_tokens"), round(col("lw"), 4).as("logw"),
        expr("CAST(lw > 0 AS BIGINT)").as("keep"))
      .transform(ps(col("doc_id")))
  }

  /** χ²-based discriminative-token selection — the feature-selection step
    * behind fastText-style domain/language classifiers (the model CCNet
    * and DSIR pipelines train to score raw crawl): for each token, a 2×2
    * contingency of occurrence counts in the declared target class
    * (`lang = 'en'`) vs the rest, scored `χ² = n·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))`
    * and read back as the top-20 under the (rounded χ², token) total
    * order. Counts are exact integers; the statistic is evaluated in
    * double from exact int64 counts (identical expression both engines,
    * counts ≪ 2⁵³) and rounded at presentation. A min-support screen
    * (a+b ≥ 5) drops degenerate rare-token spikes. Shapes at 100 TB: one
    * token-grain map-side count aggregate, a 1-row total broadcast, a
    * row-local statistic, TakeOrdered top-20 — no windows, no pairs. */
  def qChi2Tokens(s: SparkSession, d: String): DataFrame = {
    // ONE tokenize pass: totals fold from the per-token count table (the
    // pre-filter aggregate), never from a second scan of the corpus
    val counts = Tables.documents(s, d)
      .select(col("lang"),
        explode(
          graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 1))
          .as("token"))
      .groupBy("token")
      .agg(sum(expr("CAST(lang = 'en' AS BIGINT)")).as("a"),
        sum(expr("CAST(lang <> 'en' AS BIGINT)")).as("b"))
    val tc = counts.where(col("a") + col("b") >= 5)
    val tot = counts.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    tc.crossJoin(broadcast(tot))
      .select(col("token"), col("a"), col("b"),
        (col("ta") - col("a")).as("c"), (col("tb") - col("b")).as("d"))
      // every operand to double BEFORE multiplying: a·d etc. would overflow
      // int64 at web-corpus counts; in double the statistic stays continuous
      // and both engines execute the identical IEEE expression. A zero
      // margin (single-language corpus slice: tb = 0 so b = d = 0) makes
      // the 2×2 table degenerate — no discrimination to measure, χ² = 0
      // by convention, and the guard keeps ANSI division total (the 3-row
      // gate sweep crashed here; ad − bc = 0 whenever a margin is 0, so
      // the guarded value is the 0/0 limit, not an arbitrary fill).
      .withColumn("chi2", round(
        expr("CASE WHEN a + c = 0 OR b + d = 0 OR c + d = 0 THEN 0.0 ELSE " +
          "CAST(a + b + c + d AS DOUBLE) * " +
          "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * " +
          "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))" +
          " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) END"), 4))
      .select("token", "a", "b", "chi2")
      .orderBy(col("chi2").desc, col("token"))
      .limit(20)
  }

  /** Per-group mergeable histogram quantiles — [[qHistQuantiles]] lifted
    * to the GROUPED form a warehouse actually serves (per-nation price
    * p50/p95): every nation gets its own B=32 equi-width cent histogram
    * (per-nation domain from a bounded 25-row stats broadcast; edges by
    * the same `(i·(mx−mn+1)) div B` integer formula both engines), counters
    * merge map-side, and rank interpolation reads each target inside its
    * containing bucket. The exact audit uses the SKETCH to bound its own
    * cost: the histogram names each target's containing bucket, so the
    * order statistic ranks only that (nation, bucket, target) slice —
    * every window frame is ~1/B of its nation's rows (a naive
    * nation-keyed rank would put a whole nation in ONE task at 100 TB);
    * equal cent values make the extracted value invariant to tie order.
    * Output is the fixed |nations| × 2-target grid, all integer cents. */
  def qGroupQuantiles(s: SparkSession, d: String): DataFrame = {
    val B = 32
    val bucketExpr =
      s"CASE WHEN mx = mn THEN 0L ELSE ((c - mn) * $B) div (mx - mn + 1) END"
    val cents = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
    val stats = cents.groupBy("nation")
      .agg(count(lit(1)).as("n"), min("c").as("mn"), max("c").as("mx"))
    val withB = cents.join(broadcast(stats), "nation").withColumn("b", expr(bucketExpr))
    val hist = withB.groupBy("nation", "b").agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("nation")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1) // ≤32 rows per nation
    val cum = hist.withColumn("cum", coalesce(sum(col("cnt")).over(wcum), lit(0L)))
    val targets = stats
      .select(col("nation"), explode(array(lit(50L), lit(95L))).as("p"),
        col("n"), col("mn"), col("mx"))
      .withColumn("r", expr("(p * (n - 1)) div 100"))
    val est = targets.join(broadcast(cum), Seq("nation"))
      .where(col("r") >= col("cum") && col("r") < col("cum") + col("cnt"))
      .withColumn("lo",
        expr(s"CASE WHEN mx = mn THEN mn ELSE mn + (b * (mx - mn + 1)) div $B END"))
      .withColumn("hi",
        expr(s"CASE WHEN mx = mn THEN mx + 1 ELSE mn + ((b + 1) * (mx - mn + 1)) div $B END"))
      .withColumn("est_cents", expr("lo + ((r - cum) * (hi - lo)) div cnt"))
      .select("nation", "p", "n", "r", "est_cents", "b", "cum")
    // rank-in-bucket = r - cum; only the two target buckets per nation rank
    val probe = est.select(col("nation"), col("p").as("__p"), col("b"),
      (col("r") - col("cum") + 1).as("__t"))
    val wrb = Window.partitionBy(col("nation"), col("b"), col("__p")).orderBy(col("c"))
    val exact = withB.select("nation", "b", "c")
      .join(broadcast(probe), Seq("nation", "b"))
      .withColumn("rk", row_number().over(wrb)).where(col("rk") === col("__t"))
      .select(col("nation").as("n2"), col("__p").as("p2"), col("c").as("exact_cents"))
    est.join(exact, col("nation") === col("n2") && col("p") === col("p2"))
      .select(col("nation"), col("p"), col("n"), col("est_cents"), col("exact_cents"),
        expr("(abs(est_cents - exact_cents) * 1000000L) div exact_cents")
          .as("err_ppm"))
      .transform(ps(col("nation"), col("p")))
  }

  /** Temperature-scaled dataset-mixture weights — the sampling-rate
    * computation behind multilingual/multi-source LLM training mixes
    * (mT5-style α-sampling): raw source shares p_s are flattened to
    * p_s^α so low-resource sources are up-sampled without letting any
    * source dominate. α = 0.5 exactly, so the weight is a SQUARE ROOT —
    * `w_s = floor(sqrt(n_s · 10⁶))` (fixed-point isqrt: sqrt is
    * correctly-rounded IEEE in both engines and the floor lands both on
    * the identical long, no libm-pow portability hazard). Output per
    * source: the exact char mass, raw share and temperature share in
    * exact ppm (two-step overflow-safe division), and the up/down-
    * sampling boost `temp_ppm·10⁶ div raw_ppm` — the factor a sampler
    * repeats that source relative to proportional sampling. One map-side
    * count aggregate over the corpus, a 1-row total broadcast, |sources|
    * output rows at any scale. */
  def qTemperatureMix(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).groupBy("source")
      .agg(sum(col("n_chars")).as("n_chars"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_chars AS DOUBLE) * 1000000.0)) AS BIGINT)"))
    val tot = src.agg(sum(col("n_chars")).as("tn"), sum(col("w")).as("tw"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_chars"),
        expr(ppmDiv("n_chars", "tn")).as("raw_ppm"),
        expr(ppmDiv("w", "tw")).as("temp_ppm"))
      .withColumn("boost_ppm", expr("(temp_ppm * 1000000L) div raw_ppm"))
      .transform(ps(col("source")))
  }

  /** Differential-privacy-style noisy release of the per-type event
    * census — the third leg of the governance tier ([[qPiiRedact]]
    * pseudonymizes, [[qKAnonymity]] audits class sizes, this BOUNDS one
    * user's influence and perturbs the release): each user's
    * contribution to a type is CLIPPED at C = 5 events (per-user
    * sensitivity, the Δf of user-level DP), and Laplace(C/ε) noise at
    * ε = 1 is added to the clipped count. The noise is SEEDED — uniform
    * u ∈ (0,1) and a sign bit both derive from portable md5 of the
    * release key, inverse-CDF `-scale·ln(u)` — so both engines draw the
    * IDENTICAL perturbation (the determinism contract; a production
    * release would swap the seed for a secret drawn once per release,
    * changing nothing in the plan). ln is evaluated in double and the
    * released value rounds to an integer count (noise itself shown at 4
    * decimals) — the continuous-expression rounding doctrine. Shapes:
    * one (type, user)-grain map-side count aggregate, one |types|-grain
    * rollup, row-local noise arithmetic — bounded output, no windows. */
  def qDpCounts(s: SparkSession, d: String): DataFrame = {
    val clipped = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_events"),
        sum(least(col("c"), lit(5L))).as("n_clipped"))
    clipped
      .withColumn("u", expr(
        "(CAST(conv(substr(md5(concat('dp', event_type)), 1, 13), 16, 10) AS BIGINT) " +
          "% 1000000 + 1) / 1000001.0"))
      .withColumn("sgn", expr(
        "CASE WHEN CAST(conv(substr(md5(concat('dps', event_type)), 1, 13), 16, 10) AS BIGINT) " +
          "% 2 = 0 THEN 1.0 ELSE -1.0 END"))
      .withColumn("noise", expr("round(sgn * -5.0 * ln(u), 4)"))
      .select(col("event_type"), col("n_events"), col("n_clipped"),
        (col("n_events") - col("n_clipped")).as("clip_loss"),
        col("noise"),
        expr("n_clipped + CAST(round(noise, 0) AS BIGINT)").as("n_dp"))
      .transform(ps(col("event_type")))
  }

  /** ColBERT-style late-interaction retrieval (MaxSim) — the multi-vector
    * scoring model between single-vector ANN and full cross-encoders:
    * documents and the query each carry a BAG of token vectors (here the
    * embedding table regrouped 8 vectors per doc, `doc = vec_id div 8`),
    * and the score is `Σ_{q ∈ query} max_{t ∈ doc} ⟨q, t⟩` — every query
    * token finds its best-matching document token. Dot products are the
    * index-ordered [[Similarity.dot]] fold (bit-identical to DuckDB's
    * list_inner_product), snapped to e4 fixed-point integers BEFORE any
    * aggregation so the max and the 8-term sum are exact integer ops in
    * both engines. Shapes at 100 TB: the 8-row query bag BROADCASTS into
    * the token scan (one pass, no shuffle for the per-pair dots), the
    * (doc, query-token) max and the doc-grain sum combine map-side, and
    * the top-10 readout is TakeOrdered under the (score, doc) total
    * order — never a global sort. */
  def qMaxsim(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.embeddings(s, d)
      .select(expr("vec_id div 8").as("doc"), col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
    val qtoks = toks.where(col("doc") === 0)
      .select(col("vec_id").as("q_tok"), col("emb").as("q_emb"))
    toks.where(col("doc") >= 1)
      .crossJoin(broadcast(qtoks))
      .withColumn("dot_d", Similarity.dot(col("emb"), col("q_emb")))
      .select(col("doc"), col("q_tok"),
        expr("CAST(round(dot_d * 10000, 0) AS BIGINT)").as("di"))
      .groupBy("doc", "q_tok").agg(max(col("di")).as("mx"))
      .groupBy("doc").agg(sum(col("mx")).as("maxsim_e4"))
      .orderBy(col("maxsim_e4").desc, col("doc"))
      .limit(10)
  }

  /** l-diversity audit — the [[qKAnonymity]] companion on the SENSITIVE
    * attribute: a class of k identical quasi-identifier rows still leaks
    * if every row shares one sensitive value (homogeneity attack), so
    * each (nation, segment) class is scored by how many DISTINCT
    * sensitive values (account-balance bands, width 1000) it contains.
    * Output per class: size k, diversity l, and the l < 2 / l < 3
    * violation flags an anonymization gate enforces. Exact distinct per
    * bounded class over a two-column grid — one aggregate at
    * (class, band) grain then a class-grain count, both map-side
    * combining, |nations × segments| output rows at any scale. */
  def qLDiversity(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .select(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
        expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("band"))
      .groupBy("nation", "segment", "band").agg(count(lit(1)).as("nb"))
      .groupBy("nation", "segment")
      .agg(sum(col("nb")).as("k"), count(lit(1)).as("l"))
      .withColumn("violates_l2", (col("l") < 2).cast("bigint"))
      .withColumn("violates_l3", (col("l") < 3).cast("bigint"))
      .transform(ps(col("nation"), col("segment")))
  }

  /** t-closeness audit — the third leg of the anonymity triad
    * ([[qKAnonymity]] bounds class SIZE, [[qLDiversity]] counts distinct
    * sensitive values, this bounds the class's sensitive DISTRIBUTION):
    * a class whose balance-band distribution mirrors the global one leaks
    * nothing even at l = 2, while a skewed class leaks by inference. The
    * statistic is the Earth-Mover's Distance over the ORDERED bands
    * (Li/Li/Venkatasubramanian 2007): with unit ground distance between
    * adjacent bands, EMD = Σ over the first B−1 band positions of
    * |cumulative(class_share − global_share)|, normalized by B−1 — all in
    * exact ppm integers (two-step overflow-safe division), so both
    * engines compute the identical statistic with zero float drift.
    * Shapes at 100 TB: three map-side-combining censuses ((class, band),
    * class, band), a dense grid built by crossing the |classes| frame
    * with a broadcast |bands| frame (both bounded enums/grids — the grid
    * NEVER grows with the corpus), and the cumulative window runs over
    * that bounded grid only. Output |classes| rows with the t > 0.15
    * violation flag an anonymization gate enforces. */
  def qTCloseness(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("band"))
    val cb = cust.groupBy("nation", "segment", "band").agg(count(lit(1)).as("cnt"))
    val cls = cb.groupBy("nation", "segment").agg(sum(col("cnt")).as("k"))
    val gb = cust.groupBy("band").agg(count(lit(1)).as("gcnt"))
    val tot = gb.agg(sum(col("gcnt")).as("n"), count(lit(1)).as("nbands"))
    val bands = gb.crossJoin(broadcast(tot))
    val w = Window.partitionBy("nation", "segment").orderBy("band")
    cls.crossJoin(broadcast(bands))
      .join(cb, Seq("nation", "segment", "band"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("delta",
        expr(ppmDiv("cnt", "k")) - expr(ppmDiv("gcnt", "n")))
      .withColumn("cum", sum(col("delta")).over(w))
      .withColumn("rb", row_number().over(w))
      .groupBy("nation", "segment")
      .agg(max(col("k")).as("k"),
        sum(when(col("rb") < col("nbands"), abs(col("cum")))
          .otherwise(lit(0L))).as("flow"),
        max(col("nbands")).as("nb"))
      .select(col("nation"), col("segment"), col("k"),
        expr("CASE WHEN nb <= 1 THEN 0L ELSE flow div (nb - 1) END").as("t_ppm"))
      .withColumn("violates_t15", (col("t_ppm") > 150000L).cast("bigint"))
      .transform(ps(col("nation"), col("segment")))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * kernel) — the position-aware dedup signature between whole-doc
    * hashing ([[qDocFingerprint]]) and MinHash: hash every k-gram (k = 4),
    * slide a window of w = 8 consecutive hashes, and in each FULL window
    * select the minimum hash with rightmost tie-break — the guarantee is
    * that any verbatim match of ≥ w+k−1 tokens between two documents
    * shares at least one selected fingerprint, at an expected density of
    * 2/(w+1). The per-window rightmost-min is ONE struct-ordered window
    * aggregate, `min(struct(hash, −pos))` over a w-row frame — the
    * lexicographic struct order encodes the tie-break, and both engines
    * evaluate the identical portable hash (13-hex md5 prefix as int52, so
    * the fingerprint sum is overflow-safe at any document length).
    * Shapes at 100 TB: k-grams form ROW-LOCALLY (native Shingles + one
    * posexplode, zero shuffle), the sliding window partitions by doc — a
    * frame bounded by a single document's length at any corpus size —
    * and the output is one row per document (selected-fingerprint count,
    * density in exact ppm, and the checkable fingerprint sum). */
  def qWinnowFingerprint(s: SparkSession, d: String): DataFrame = {
    val ng = Tables.documents(s, d).select(col("doc_id"),
      size(graft.functions.Shingles.shingles(Ops.normalizeText(col("text")), 4))
        .cast("long").as("n_grams"))
    val fp = winnowSelected(s, d).groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), sum(col("selh")).as("fp_sum"))
    ng.join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
      .withColumn("fp_ppm",
        expr(s"CASE WHEN n_grams = 0 THEN 0L ELSE ${ppmDiv("n_fp", "n_grams")} END"))
      .orderBy("doc_id")
  }

  /** The winnowing selection shared by [[qWinnowFingerprint]] (per-doc
    * census) and [[qWinnowMatches]] (the MOSS match step): one row per
    * selected (doc, position, hash) fingerprint under the
    * rightmost-min-of-each-full-window rule. */
  private[graft] def winnowSelected(s: SparkSession, d: String): DataFrame = {
    val wWin = 8
    val sh = Tables.documents(s, d).select(col("doc_id"),
      posexplode(graft.functions.Shingles.shingles(
        Ops.normalizeText(col("text")), 4)).as(Seq("gpos", "g")))
      .select(col("doc_id"), col("gpos").cast("long").as("gpos"),
        expr("CAST(conv(substr(md5(g), 1, 13), 16, 10) AS BIGINT)").as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("gpos")
      .rowsBetween(-(wWin - 1), 0)
    sh.withColumn("mn", min(struct(col("h"), (-col("gpos")).as("np"))).over(frame))
      .where(col("gpos") >= wWin - 1)
      .select(col("doc_id"), col("mn.np").as("np"), col("mn.h").as("selh"))
      .distinct()
  }

  /** The MOSS match step over [[qWinnowFingerprint]]'s selections: two
    * documents sharing ≥ 2 distinct winnow fingerprints are reported with
    * their shared count — by the winnowing guarantee every verbatim
    * overlap of ≥ w+k−1 tokens surfaces here. The join is
    * FINGERPRINT-KEYED (the LSH-bucket shape): per-doc distinct hashes
    * meet only inside a shared hash's bucket, with a df ≤ 50 cap on
    * ubiquitous fingerprints (boilerplate n-grams) so no bucket expands
    * quadratically unbounded — the same degenerate-block guard as the
    * fuzzy-match and LSH kernels, applied BEFORE any pair exists. Output
    * is pair-grain and therefore grows with the true duplicate mass, like
    * every pair-output query (excluded from the organic 10× study on the
    * identical-payload fixture for the q_setsim_join reason). */
  def qWinnowMatches(s: SparkSession, d: String): DataFrame = {
    val sel = winnowSelected(s, d).select(col("doc_id"), col("selh")).distinct()
    val df = sel.groupBy("selh").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 50)).select("selh")
    val keep = sel.join(df, Seq("selh"))
    keep.as("a").join(keep.as("b"),
        col("a.selh") === col("b.selh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-dimension embedding census — the health check an embedding
    * pipeline runs before indexing: mean, population variance, and range
    * per vector dimension, plus the dead-dimension flag (variance below
    * 0.01 — a dimension carrying no signal wastes index bytes and skews
    * cosine norms). Values snap to e4 fixed-point at the scan so every
    * moment is EXACT integer arithmetic in both engines: mean in rounded
    * e4 (sign-adjusted truncating division — round-half-away portable to
    * any truncate-toward-zero engine), variance in e8 units via
    * `(n·Σx² − (Σx)²) div n²`. int64 ceilings: Σx² stays exact to ~2·10¹⁰
    * rows per dimension at |x| ≤ 2 (e4 units ≤ 2·10⁴, squares ≤ 4·10⁸) —
    * past that, rescale the snap; the census itself is ONE
    * posexplode + one 64-group map-side aggregate, shuffle-constant at
    * any corpus size. */
  def qEmbedDimStats(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(round(x * 10000, 0) AS BIGINT)").as("xe4"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xe4")).as("s1"),
        sum(col("xe4") * col("xe4")).as("s2"),
        min(col("xe4")).as("min_e4"), max(col("xe4")).as("max_e4"))
      .select(col("dim"), col("n"),
        expr("(2 * s1 + (CASE WHEN s1 < 0 THEN -1L ELSE 1L END) * n) div (2 * n)")
          .as("mean_e4"),
        expr("(n * s2 - s1 * s1) div (n * n)").as("var_e8"),
        col("min_e4"), col("max_e4"))
      .withColumn("dead", (col("var_e8") < 1000000L).cast("bigint"))
      .transform(ps(col("dim")))
  }

  /** Cluster–label purity — the embedding-quality eval between
    * unsupervised structure and supervision: every vector is assigned to
    * its nearest seeded centroid (the [[qKmeansStep]] argmin kernel — a
    * pure map-side projection against k = 8 inlined centroids), and each
    * cluster reports its size, distinct-label count, majority label, and
    * purity (majority share in exact ppm). High purity means the
    * embedding geometry already separates the labels; a low-purity
    * cluster is where a classifier trained on these vectors will bleed.
    * Shapes: assignment is row-local, the (cluster, label) census and the
    * cluster-grain struct argmax both combine map-side, output = k rows
    * at any corpus size. */
  def qClusterPurity(s: SparkSession, d: String): DataFrame = {
    val cents = cachedSeedCentroids(s, d, 8)
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        Similarity.kmeansAssignCol("embedding", cents).as("cluster_id"))
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("nl"))
      .groupBy("cluster_id")
      .agg(sum(col("nl")).as("n"), count(lit(1)).as("n_labels"),
        max(struct(col("nl"), (-col("label")).as("nlab"))).as("m"))
      .select(col("cluster_id"), col("n"), col("n_labels"),
        (-col("m.nlab")).as("majority_label"), col("m.nl").as("majority_n"))
      .withColumn("purity_ppm", expr(ppmDiv("majority_n", "n")))
      .transform(ps(col("cluster_id")))
  }

  /** Johnson–Lindenstrauss random projection with a distortion audit —
    * the dimensionality-reduction step before a cheap ANN index: 64-dim
    * vectors project to 16 dims through a SEEDED ±1 sign matrix (signs
    * from portable md5 of (i, j), so both engines hold the identical
    * matrix — a production run swaps the seed string), and the audit
    * reports, for 50 consecutive-id vector pairs, the original vs
    * projected squared distance and their ratio — the JL lemma says the
    * normalized ratio concentrates near 1. Each projected coordinate
    * snaps to e4 fixed-point BEFORE the cross-dimension sum of squares,
    * so the projected distance is exact integer arithmetic (aggregation-
    * order-free); the original distance is row-local and snaps at e8.
    * Shapes at 100 TB: the 16-row sign table broadcasts into the pair
    * scan (per-coordinate dots are codegen'd [[Similarity.dot]] folds), the
    * pair-grain sum combines map-side, and the audit pair set is a
    * bounded id-range self-join — never all pairs. */
  def qRandomProjection(s: SparkSession, d: String): DataFrame = {
    val signs = s.range(16).toDF("j").withColumn("sgn", expr(
      "transform(sequence(0, 63), i -> CASE WHEN CAST(conv(substr(md5(" +
        "concat('jl|', CAST(i AS STRING), '|', CAST(j AS STRING))), 1, 13), 16, 10) " +
        "AS BIGINT) % 2 = 0 THEN 1.0D ELSE -1.0D END)"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val pairs = e.where(col("vec_id") < 100 && col("vec_id") % 2 === 0).as("a")
      .join(e.where(col("vec_id") < 100 && col("vec_id") % 2 === 1).as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        zip_with(col("a.emb"), col("b.emb"), (x, y) => x - y).as("dv"),
        round(Similarity.sqDist(col("a.emb"), col("b.emb")) * 100000000, 0)
          .cast("bigint").as("od2_e8"))
    val pd = pairs.crossJoin(broadcast(signs))
      .withColumn("pj",
        round(Similarity.dot(col("dv"), col("sgn")) * 10000, 0).cast("bigint"))
      .groupBy("va", "vb", "od2_e8")
      .agg(sum(col("pj") * col("pj")).as("pd2_e8"))
    pd.withColumn("pd2n", expr("pd2_e8 div 16"))
      .select(col("va"), col("vb"), col("od2_e8"), col("pd2_e8"),
        expr(s"CASE WHEN od2_e8 = 0 THEN 0L ELSE ${ppmDiv("pd2n", "od2_e8")} END")
          .as("dist_ppm"))
      .orderBy("va")
  }

  /** Kaplan–Meier survival curve over reorder gaps — the churn/retention
    * estimator done right: every consecutive order pair contributes an
    * observed event (time = gap days), each customer's last order
    * contributes a CENSORED observation (time to the corpus horizon), and
    * S(t) = Π_{u≤t}(1 − d_u/n_u) over the event times — the estimator
    * that uses censored customers correctly instead of dropping them.
    * Determinism: each step factor `ln(1 − d/n)` is row-local double
    * work from exact int64 counts snapped to e9, the log-survival is an
    * INTEGER cumulative sum, and only the final display value takes
    * `exp` (rounded to 4 — the continuous-expression doctrine); once the
    * risk set dies out (d = n) survival pins to exactly 0 via a running
    * flag, never a −∞ log. Shapes at 100 TB: the gap derivation is a
    * per-customer window (bounded by one customer's orders), the census
    * is map-side, and every curve window runs over the DISTINCT gap-day
    * frame — calendar-bounded at any corpus size. */
  def qSurvivalCurve(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("dte"), col("o_orderkey"))
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast("date").as("dte"))
    val mx = o.agg(max(col("dte")).as("maxd"))
    val obs = o.withColumn("nxt", lead(col("dte"), 1).over(w))
      .crossJoin(broadcast(mx))
      .select(
        when(col("nxt").isNotNull, datediff(col("nxt"), col("dte")))
          .otherwise(datediff(col("maxd"), col("dte"))).cast("long").as("t"),
        col("nxt").isNotNull.cast("long").as("ev"))
    val census = obs.groupBy("t").agg(
      sum(col("ev")).as("d_ev"),
      sum(lit(1L) - col("ev")).as("c_cens"),
      count(lit(1)).as("n_at"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("n_risk", sum(col("n_at")).over(wDesc))
      .withColumn("term_e9", expr(
        "CASE WHEN d_ev = 0 THEN 0L WHEN d_ev >= n_risk THEN 0L " +
          "ELSE CAST(round(ln(1.0 - CAST(d_ev AS DOUBLE) / n_risk) " +
          "* 1000000000, 0) AS BIGINT) END"))
      .withColumn("dead", max((col("d_ev") === col("n_risk")).cast("int")).over(wAsc))
      .withColumn("cum_e9", sum(col("term_e9")).over(wAsc))
      .select(col("t"), col("n_risk"), col("d_ev"), col("c_cens"),
        when(col("dead") === 1, lit(null).cast("bigint"))
          .otherwise(col("cum_e9")).as("logs_e9"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(col("cum_e9").cast("double") / lit(1e9)), 4)).as("s_r4"))
      .orderBy("t")
  }

  /** Decision-stump split finder — the first node of a tree learner (and
    * the standard univariate feature-importance probe) as a relational
    * op: the feature (first embedding coordinate, e4-snapped) buckets
    * into 64 equal-width cells against a 1-row min/max broadcast (pure
    * integer normalization, the q_zorder_layout pattern), the class
    * censuses accumulate once over the bucket order, and every candidate
    * threshold "left = buckets ≤ b" is scored by weighted Gini impurity
    * — row-local double work from exact int64 counts snapped to e9, with
    * the argmin taken under the (gini, bucket) integer total order and
    * marked on the output curve. Windows touch only the ≤64-row bucket
    * frame; output ≤63 thresholds at any corpus size. */
  def qGiniSplit(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(
      expr("CAST(round(CAST(embedding[0] AS DOUBLE) * 10000, 0) AS BIGINT)").as("x_e4"),
      (col("label") < 5).cast("long").as("y"))
    val st = e.agg(min(col("x_e4")).as("xmin"), max(col("x_e4")).as("xmax"),
      count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val census = e.crossJoin(broadcast(st))
      .withColumn("bucket", expr(
        "CASE WHEN xmax = xmin THEN 0L ELSE least(63L, ((x_e4 - xmin) * 64) div (xmax - xmin)) END"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"),
        max(col("xmin")).as("xmin"), max(col("xmax")).as("xmax"),
        max(col("n")).as("n"), max(col("pos")).as("pos"))
    val wAsc = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = census
      .withColumn("n_left", sum(col("n_b")).over(wAsc))
      .withColumn("pos_left", sum(col("pos_b")).over(wAsc))
      .where(col("n_left") < col("n"))
      .withColumn("thr_e4", expr("xmin + ((bucket + 1) * (xmax - xmin)) div 64"))
      .withColumn("wgini_e9", expr(
        "CAST(round(((n_left - (CAST(pos_left AS DOUBLE) * pos_left + " +
          "CAST(n_left - pos_left AS DOUBLE) * (n_left - pos_left)) / n_left) + " +
          "((n - n_left) - (CAST(pos - pos_left AS DOUBLE) * (pos - pos_left) + " +
          "CAST((n - n_left) - (pos - pos_left) AS DOUBLE) * ((n - n_left) - (pos - pos_left))) " +
          "/ (n - n_left))) / n * 1000000000, 0) AS BIGINT)"))
    val best = scored.agg(min(struct(col("wgini_e9"), col("bucket"))).as("b"))
      .select(col("b.bucket").as("best_bucket"))
    scored.crossJoin(broadcast(best))
      .select(col("bucket"), col("thr_e4"), col("n_left"), col("pos_left"),
        col("wgini_e9"),
        (col("bucket") === col("best_bucket")).cast("bigint").as("is_best"))
      .transform(ps(col("bucket")))
  }

  /** Population Stability Index — the model-monitoring drift scorecard
    * (the third drift lens next to [[qKsDrift]]'s max-gap and
    * [[qTvdDrift]]'s L1): the event value distribution of the first 7
    * days (reference window) against everything after, over 10
    * equal-width bins from a 1-row min/max broadcast, with add-one
    * smoothing so empty bins stay finite — PSI = Σ (p−q)·ln(p/q), each
    * bin's term row-local double work from exact smoothed int64 counts
    * snapped to e9 (the snap-then-sum doctrine; the spec asserts the
    * conventional <0.1/0.25 thresholds on the total). Shapes: one binned
    * map-side census over the scan, a dense 10-row grid by left join,
    * bounded broadcasts, 10 output rows at any corpus size. */
  def qPsiDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("ts"), col("value"))
      .where(col("value").isNotNull)
    val st = ev.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
      min(col("ts")).as("t0"))
    val census = ev.crossJoin(broadcast(st))
      .withColumn("bin", expr(
        "CASE WHEN vmax = vmin THEN 0L ELSE least(9L, " +
          "CAST(floor((value - vmin) * 10.0 / (vmax - vmin)) AS BIGINT)) END"))
      .withColumn("is_ref",
        (col("ts") < col("t0") + expr("INTERVAL 7 DAYS")).cast("long"))
      .groupBy("bin")
      .agg(sum(col("is_ref")).as("ref_n"), sum(lit(1L) - col("is_ref")).as("cur_n"))
    val grid = s.range(10).toDF("bin").join(census, Seq("bin"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val tot = grid.agg(sum(col("ref_n")).as("rt"), sum(col("cur_n")).as("ct"))
    grid.crossJoin(broadcast(tot))
      .withColumn("ref_ppm", expr(ppmDiv("(ref_n + 1)", "(rt + 10)")))
      .withColumn("cur_ppm", expr(ppmDiv("(cur_n + 1)", "(ct + 10)")))
      .withColumn("term_e9", expr(
        "CAST(round((CAST(ref_n + 1 AS DOUBLE) / (rt + 10) - " +
          "CAST(cur_n + 1 AS DOUBLE) / (ct + 10)) * " +
          "ln((CAST(ref_n + 1 AS DOUBLE) / (rt + 10)) / " +
          "(CAST(cur_n + 1 AS DOUBLE) / (ct + 10))) * 1000000000, 0) AS BIGINT)"))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        col("ref_ppm"), col("cur_ppm"), col("term_e9"))
      .transform(ps(col("bin")))
  }

  /** Maximal-Marginal-Relevance re-ranking — the diversification step a
    * RAG retriever runs between ANN and the context window: from the
    * cosine top-20 candidate pool, greedily select 5 documents
    * maximizing `λ·relevance − (1−λ)·max-similarity-to-already-selected`
    * (λ = 0.7, in exact integer tenths: `score = 7·rel_e4 − 3·div_e4`),
    * so near-duplicate hits don't crowd the context. The corpus-sized
    * work is ONE scan — the top-20 pool is TakeOrdered under the
    * (sim, id) total order — followed by ONE bounded 20-row driver
    * round-trip (the [[probeAndCentroids]] class: the greedy argmax over
    * a ≤20-element pool is a constant-size problem, and expressing its 5
    * dependent steps relationally was measured to re-derive the corpus
    * scan per step, 20 s vs 2 s at sf0.01). Similarities snap to e4
    * before every comparison (ties to the smaller id), and the DuckDB
    * oracle replays the identical 5 steps as chained materialized
    * CTEs — the hash match proves the driver-side greedy bit-equal to
    * the relational formulation. */
  def qMmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pool = mmrPool(s, d).collect().map { r =>
      (r.getLong(0), Similarity.toDoubleVec(r, 1), r.getLong(2))
    }
    // Empty corpus (or missing probe) → empty pool → nothing to select;
    // the typed empty Seq carries the exact output schema.
    if (pool.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("step", "vec", "rel_e4", "div_e4", "score")
    def cosE4(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000)
    }
    var selected = Vector.empty[(Long, Array[Double])]
    // Select min(5, pool): a 1-4 candidate pool (a heavily filtered or
    // tiny corpus slice) must yield that many steps, not an empty-minBy
    // crash at the steps past pool.size (ADVICE r13; swept by the gate's
    // 3-row slice pass).
    val rows = (1 to math.min(5, pool.length)).map { i =>
      val rem = pool.filterNot(c => selected.exists(_._1 == c._1))
      val best = rem.map { case (v, e, r) =>
        val div = if (selected.isEmpty) 0L
          else selected.map(x => cosE4(e, x._2)).max
        (v, e, r, div, r * 7 - div * 3)
      }.minBy { case (v, _, _, _, sc) => (-sc, v) }
      selected = selected :+ ((best._1, best._2))
      (i.toLong, best._1, best._3, best._4, best._5)
    }
    import s.implicits._
    rows.toDF("step", "vec", "rel_e4", "div_e4", "score")
  }

  /** The corpus-sized stage of [[qMmrRerank]]: the cosine top-20
    * candidate pool as one TakeOrdered pass (plan pinned in PlanSpec). */
  private[graft] def mmrPool(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("p_emb"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("s", cosine_sim(col("embedding"), col("p_emb")))
      .select(col("vec_id").as("vec"), col("embedding").as("emb"),
        expr("CAST(round(s * 10000, 0) AS BIGINT)").as("rel_e4"))
      .orderBy(col("rel_e4").desc, col("vec")).limit(20)
  }

  /** Top-k leaderboard churn — the stability audit behind any "top
    * products/terms/creators" surface: per month the top-10 parts by
    * revenue (exact cents, grouped top-k under the (revenue, part)
    * total order), then each consecutive month pair scored by overlap
    * count and Jaccard of the two top sets — a high-churn leaderboard
    * means rankings are noise, a frozen one means it never surfaces
    * anything new. Shapes: one (month, part) map-side census, the
    * ranking window partitioned per month (the `q_window_topk` grouped
    * shape), and the month-pair join runs over the bounded
    * 10-per-month top frame — calendar-bounded output. */
  def qTopkChurn(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(expr("CAST(date_trunc('month', o_orderdate) AS DATE)").as("month"),
        col("l_partkey").as("part"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("month", "part").agg(sum(col("cents")).as("rev_c"))
    val w = Window.partitionBy("month").orderBy(col("rev_c").desc, col("part"))
    // top is calendar-BOUNDED (≤ 10 rows/month at any corpus size) and was
    // consumed four times — sizes, the self-join's two sides, and (via
    // `months`, below) the pair spine — each re-running the fact join +
    // census + window (42 Exchanges in plans/r16/q_topk_churn_before.txt).
    // Truncate it once (r17, guide §2.4): everything downstream now reads
    // the tiny materialized frame.
    val top = Checkpoints.truncate(
      rev.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
        .select(col("month"), col("part")))
    // actual per-month list sizes (a sparse month may carry < 10 parts) —
    // the Jaccard union is n_a + n_b - n_common, never a hard-coded 20
    val sizes = top.groupBy("month").agg(count(lit(1)).as("n_list"))
    // every month with ≥ 1 (month, part) row carries a rank-1 row in top,
    // so top's month set IS rev's — derive the spine from the bounded
    // frame instead of re-aggregating the fact (one fewer fact pass)
    val months = top.select("month").distinct()
    val consec = months
      .join(months.select(add_months(col("month"), -1).as("month")).distinct(),
        Seq("month"))
      .select(col("month"), add_months(col("month"), 1).as("next_month"))
    val common = top
      .join(top.select(add_months(col("month"), -1).as("month"),
        col("part").as("part2")), Seq("month"))
      .where(col("part") === col("part2"))
      .groupBy("month").agg(count(lit(1)).as("n_common"))
    consec
      .join(sizes.withColumnRenamed("n_list", "n_a"), Seq("month"))
      .join(sizes.select(col("month").as("next_month"),
        col("n_list").as("n_b")), Seq("next_month"))
      .join(common, Seq("month"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard_ppm",
        expr(ppmDiv("n_common", "(n_a + n_b - n_common)")))
      .select(col("month"), col("next_month"), col("n_common"), col("jaccard_ppm"))
      .transform(ps(col("month")))
  }

  private[graft] val registryRetrieval: Map[String, Q] = Map(
    "q_feature_hash" -> (qFeatureHash _),
    "q_doc_entropy" -> (qDocEntropy _),
    "q_mips" -> (qMips _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_clustering_coeff" -> (qClusteringCoeff _),
    "q_frame_sample" -> (qFrameSample _),
    "q_nation_profit" -> (qNationProfit _),
    "q_part_supplier_counts" -> (qPartSupplierCounts _),
    "q_dominant_supplier" -> (qDominantSupplier _),
    "q_blocklist_filter" -> (qBlocklistFilter _),
    "q_kcore" -> (qKcore _),
    "q_attribution" -> (qAttribution _),
    "q_late_arrivals" -> (qLateArrivals _),
    "q_ann_pq" -> (qAnnPq _),
    "q_quantized_rerank" -> (qQuantizedRerank _),
    "q_bigram_ppx" -> (qBigramPpx _),
    "q_pit_join" -> (qPitJoin _),
    "q_negative_sample" -> (qNegativeSample _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_kmv_set_ops" -> (qKmvSetOps _),
    "q_hist_quantiles" -> (qHistQuantiles _),
    "q_ddsketch_quantiles" -> (qDdsketchQuantiles _),
    "q_cms_estimate" -> (qCmsEstimate _),
    "q_join_size_est" -> (qJoinSizeEst _),
    "q_ams_f2" -> (qAmsF2 _),
    "q_mrr" -> (qMrr _),
    "q_rank_fusion" -> (qRankFusion _),
    "q_dsir_weights" -> (qDsirWeights _),
    "q_chi2_tokens" -> (qChi2Tokens _),
    "q_group_quantiles" -> (qGroupQuantiles _),
    "q_temperature_mix" -> (qTemperatureMix _),
    "q_dp_counts" -> (qDpCounts _),
    "q_maxsim" -> (qMaxsim _),
    "q_l_diversity" -> (qLDiversity _),
    "q_t_closeness" -> (qTCloseness _),
    "q_winnow_fingerprint" -> (qWinnowFingerprint _),
    "q_winnow_matches" -> (qWinnowMatches _),
    "q_embed_dim_stats" -> (qEmbedDimStats _),
    "q_cluster_purity" -> (qClusterPurity _),
    "q_random_projection" -> (qRandomProjection _),
    "q_survival_curve" -> (qSurvivalCurve _),
    "q_gini_split" -> (qGiniSplit _),
    "q_psi_drift" -> (qPsiDrift _),
    "q_mmr_rerank" -> (qMmrRerank _),
    "q_topk_churn" -> (qTopkChurn _),
  )

  private[graft] val oraclesRetrieval: Map[String, String] = Map(
    "q_feature_hash" ->
      (TP_TOK_CTE +
        ", tc AS (SELECT token, count(*) AS c FROM tok GROUP BY token)" +
        ", bk AS (SELECT CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 64 AS bucket, " +
        "CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types FROM tc GROUP BY 1)" +
        ", t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM bk) " +
        "SELECT bucket, n_tokens, n_types, " + ppmDivSql("n_tokens", "tt") +
        " AS load_ppm FROM bk CROSS JOIN t ORDER BY bucket"),
    "q_doc_entropy" ->
      (TP_TOK_CTE +
        ", tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token)" +
        ", g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types, " +
        "sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clog FROM tc GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, n_types, " +
        "round(log2(CAST(n_tokens AS DOUBLE)) - clog / n_tokens, 4) AS entropy_bits " +
        "FROM g ORDER BY doc_id"),
    "q_mips" ->
      ("WITH probe AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS p " +
        "FROM embeddings WHERE vec_id = 1) " +
        "SELECT vec_id, round(list_inner_product(" +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)), p), 4) AS dot, label " +
        "FROM embeddings, probe WHERE vec_id <> 1 ORDER BY dot DESC, vec_id LIMIT 20"),
    "q_bpe_merges" ->
      (TP_TOK_CTE +
        ", t2 AS (SELECT token FROM tok WHERE length(token) >= 2)" +
        ", pr AS (SELECT unnest(list_transform(generate_series(1, length(token) - 1), " +
        "i -> substr(token, CAST(i AS INTEGER), 2))) AS pair FROM t2) " +
        "SELECT pair, count(*) AS n_occ FROM pr GROUP BY pair " +
        "ORDER BY n_occ DESC, pair LIMIT 20"),
    "q_clustering_coeff" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "t AS (SELECT x.pa AS a, x.pb AS b, y.pb AS c FROM e x " +
        "JOIN e y ON x.pb = y.pa JOIN e z ON z.pa = x.pa AND z.pb = y.pb), " +
        "m AS (SELECT unnest([a, b, c]) AS n FROM t), " +
        "tc AS (SELECT n, count(*) AS n_tri FROM m GROUP BY n), " +
        "dg AS (SELECT n, count(*) AS deg FROM " +
        "(SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e) GROUP BY n) " +
        "SELECT dg.n AS l_partkey, deg, coalesce(n_tri, 0) AS n_tri, " +
        "(coalesce(n_tri, 0) * 1000000) // ((deg * (deg - 1)) // 2) AS coeff_ppm " +
        "FROM dg LEFT JOIN tc ON dg.n = tc.n WHERE deg >= 2 " +
        "ORDER BY coeff_ppm DESC, l_partkey LIMIT 20"),
    "q_frame_sample" ->
      ("WITH m AS (SELECT doc_id AS media_id, 4000 + (doc_id % 7) * 1000 AS duration_ms " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT media_id, unnest(generate_series(0, " +
        "CAST(least(greatest(duration_ms // 1000, 1), 8) AS BIGINT) - 1)) AS frame_idx FROM m) " +
        "SELECT media_id, frame_idx, frame_idx * 1000 AS offset_ms, " +
        "CAST('0x' || substr(md5(concat_ws('|', media_id, frame_idx * 1000)), 1, 15) AS BIGINT) AS frame_hash " +
        "FROM f ORDER BY media_id, frame_idx"),
    "q_nation_profit" ->
      ("WITH p AS (SELECT p_partkey, CAST(round(p_retailprice * 100, 0) AS BIGINT) AS retail_c " +
        "FROM part WHERE p_name LIKE '%red%'), " +
        "sn AS (SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey), " +
        "li AS (SELECT l_partkey, l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS o_year, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c, " +
        "CAST(round(l_discount * 10000, 0) AS BIGINT) AS d4, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem) " +
        "SELECT n_name, o_year, " +
        "CAST(sum(price_c * (10000 - d4) - qty * retail_c * 8000) AS BIGINT) AS profit_u6, " +
        "count(*) AS n_lines " +
        "FROM li JOIN p ON l_partkey = p_partkey JOIN sn ON l_suppkey = s_suppkey " +
        "GROUP BY n_name, o_year ORDER BY n_name, o_year"),
    "q_part_supplier_counts" ->
      ("WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), " +
        "ok AS (SELECT l_partkey, l_suppkey FROM rel WHERE l_suppkey NOT IN " +
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) " +
        "SELECT p_brand, p_type, p_size, " +
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM ok JOIN part ON l_partkey = p_partkey WHERE p_brand <> 'Brand#17' " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20"),
    "q_dominant_supplier" ->
      ("WITH pairs AS (SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_qty " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY 1, 2), " +
        "tot AS (SELECT l_partkey, CAST(sum(s_qty) AS BIGINT) AS tot_qty FROM pairs GROUP BY 1), " +
        "dom AS (SELECT l_suppkey AS s_suppkey, count(*) AS n_parts_dominated, " +
        "CAST(sum(s_qty) AS BIGINT) AS qty_dominated " +
        "FROM pairs JOIN tot USING (l_partkey) WHERE s_qty * 2 > tot_qty GROUP BY 1) " +
        "SELECT s_name, s_suppkey, n_parts_dominated, qty_dominated " +
        "FROM dom JOIN supplier USING (s_suppkey) " +
        "ORDER BY n_parts_dominated DESC, s_suppkey LIMIT 20"),
    "q_blocklist_filter" ->
      (NORM_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,") +
        ", tk AS (SELECT source, string_split(t, ' ') AS toks, t FROM norm) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN len(list_filter(toks, x -> x IN ('slow','dup','stream','sort'))) > 0 " +
        "AND t <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked, " +
        Seq("slow", "dup", "stream", "sort").map(t =>
          s"CAST(sum(CASE WHEN list_contains(toks, '$t') AND t <> '' THEN 1 ELSE 0 END) AS BIGINT) AS hits_$t")
          .mkString(", ") +
        " FROM tk GROUP BY source ORDER BY source"),
    // every CTE is MATERIALIZED: the final readout references each round's
    // edge set more than once, and DuckDB's default inlining would re-derive
    // the whole chain (including the quadratic e0 self-join) per reference —
    // measured as a disk-spill blowup at sf1 (6.6 s materialized)
    "q_kcore" ->
      ("WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e0 AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2)" +
        (1 to KcoreCap).map { i =>
          val p = i - 1
          s", d$p AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT pa AS n FROM e$p UNION ALL SELECT pb AS n FROM e$p) GROUP BY n)" +
            s", k$p AS MATERIALIZED (SELECT n FROM d$p WHERE d >= 2)" +
            s", e$i AS MATERIALIZED (SELECT pa, pb FROM e$p WHERE pa IN (SELECT n FROM k$p) AND pb IN (SELECT n FROM k$p))"
        }.mkString + " " +
        (1 to KcoreCap).map { i =>
          val p = i - 1
          s"SELECT CAST($i AS BIGINT) AS round, " +
            s"(SELECT CAST(count(DISTINCT n) AS BIGINT) FROM (SELECT pa AS n FROM e$i UNION ALL SELECT pb AS n FROM e$i)) AS n_nodes, " +
            s"(SELECT count(*) FROM e$i) AS n_edges, " +
            s"CAST((SELECT count(*) FROM e$i) = (SELECT count(*) FROM e$p) AS BIGINT) AS converged"
        }.mkString(" UNION ALL ") +
        " ORDER BY round"),
    "q_attribution" ->
      ("WITH w AS (SELECT user_id, ts, event_id, event_type, " +
        "max(CASE WHEN event_type <> 'purchase' THEN {'ts': ts, 'eid': event_id, 'etype': event_type} END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev " +
        "FROM events), " +
        "p AS (SELECT CASE WHEN prev IS NULL OR " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(struct_extract(prev, 'ts'))) AS BIGINT) > 604800 " +
        "THEN 'direct' ELSE struct_extract(prev, 'etype') END AS channel " +
        "FROM w WHERE event_type = 'purchase') " +
        "SELECT channel, count(*) AS n_purchases FROM p GROUP BY channel ORDER BY channel"),
    "q_late_arrivals" ->
      ("WITH w AS (SELECT user_id, ts, event_id, " +
        "max(ts) OVER (PARTITION BY user_id " +
        "ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm " +
        "FROM events), " +
        "l AS (SELECT CAST(floor(epoch(hwm)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS late_s FROM w), " +
        "b AS (SELECT CAST(CASE WHEN late_s IS NULL OR late_s <= 0 THEN -1 " +
        "WHEN late_s <= 1 THEN 0 WHEN late_s <= 2 THEN 1 WHEN late_s <= 4 THEN 2 " +
        "WHEN late_s <= 8 THEN 3 WHEN late_s <= 16 THEN 4 WHEN late_s <= 32 THEN 5 " +
        "WHEN late_s <= 64 THEN 6 WHEN late_s <= 128 THEN 7 WHEN late_s <= 256 THEN 8 " +
        "WHEN late_s <= 512 THEN 9 WHEN late_s <= 1024 THEN 10 WHEN late_s <= 2048 THEN 11 " +
        "WHEN late_s <= 4096 THEN 12 WHEN late_s <= 8192 THEN 13 WHEN late_s <= 16384 THEN 14 " +
        "ELSE 15 END AS BIGINT) AS bucket FROM l) " +
        "SELECT bucket, count(*) AS n_events FROM b GROUP BY bucket ORDER BY bucket"),
    "q_ann_pq" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "c AS (SELECT vec_id AS cid, CAST(0 AS BIGINT) AS half, list_slice(v, 1, 32) AS cv FROM e WHERE vec_id < 8 " +
        "UNION ALL SELECT vec_id, CAST(1 AS BIGINT), list_slice(v, 33, 64) FROM e WHERE vec_id < 8), " +
        "s AS (SELECT vec_id, CAST(0 AS BIGINT) AS half, list_slice(v, 1, 32) AS sv FROM e " +
        "UNION ALL SELECT vec_id, CAST(1 AS BIGINT), list_slice(v, 33, 64) FROM e), " +
        "dist AS (SELECT s.vec_id, s.half, c.cid, " +
        "list_sum(list_transform(generate_series(1, 32), i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS dd " +
        "FROM s JOIN c ON s.half = c.half), " +
        "codes AS (SELECT vec_id, half, struct_extract(min({'d': dd, 'cid': cid}), 'cid') AS code " +
        "FROM dist GROUP BY 1, 2), " +
        "pd AS (SELECT half, cid, dd AS pd FROM dist WHERE vec_id = 0), " +
        "ad AS (SELECT codes.vec_id, CAST(sum(pd.pd) AS DOUBLE) AS adist " +
        "FROM codes JOIN pd ON codes.half = pd.half AND codes.code = pd.cid GROUP BY 1) " +
        "SELECT vec_id, round(adist, 4) AS adist FROM ad WHERE vec_id <> 0 " +
        "ORDER BY adist, vec_id LIMIT 10"),
    "q_quantized_rerank" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "p AS (SELECT v AS pv, list_transform(v, x -> CAST(round(x * 128, 0) AS BIGINT)) AS pc FROM e WHERE vec_id = 2), " +
        "c AS (SELECT vec_id, v, list_transform(v, x -> CAST(round(x * 128, 0) AS BIGINT)) AS cc FROM e WHERE vec_id <> 2), " +
        "sc AS (SELECT vec_id, v, CAST(list_sum(list_transform(generate_series(1, 64), i -> cc[i] * pc[i])) AS BIGINT) AS idot " +
        "FROM c CROSS JOIN p), " +
        "top AS (SELECT vec_id, v, idot FROM sc ORDER BY idot DESC, vec_id LIMIT 50) " +
        "SELECT vec_id, idot, round(list_cosine_similarity(v, pv), 4) AS sim " +
        "FROM top CROSS JOIN p ORDER BY sim DESC, vec_id LIMIT 10"),
    "q_bigram_ppx" ->
      (TP_TOK_CTE +
        ", bi AS (SELECT doc_id, token || ' ' || lead(token) OVER w AS bigram, token AS w1 " +
        "FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))" +
        ", bi2 AS (SELECT doc_id, bigram, w1 FROM bi WHERE bigram IS NOT NULL)" +
        ", bc AS (SELECT bigram, count(*) AS c12 FROM bi2 GROUP BY bigram)" +
        ", wc AS (SELECT w1, count(*) AS c1 FROM bi2 GROUP BY w1) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(sum(log2(CAST(c1 AS DOUBLE)) - log2(CAST(c12 AS DOUBLE))) / count(*), 4) AS surprisal_bits " +
        "FROM bi2 JOIN bc USING (bigram) JOIN wc USING (w1) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q_pit_join" ->
      ("WITH dim AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, " +
        "CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_orders, " +
        "lead(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey " +
        "ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS valid_to FROM orders), " +
        "ev AS (SELECT user_id, CAST(ts AS DATE) AS ed, " +
        "CAST(round(value * 100, 0) AS BIGINT) AS val_c FROM events), " +
        "j AS (SELECT coalesce(dim.n_orders, 0) AS n_orders_at_event, ev.val_c " +
        "FROM ev LEFT JOIN dim ON ev.user_id = dim.o_custkey " +
        "AND ev.ed >= dim.valid_from AND (dim.valid_to IS NULL OR ev.ed < dim.valid_to)) " +
        "SELECT n_orders_at_event, count(*) AS n_events, " +
        "CAST(sum(val_c) AS BIGINT) AS value_c " +
        "FROM j GROUP BY n_orders_at_event ORDER BY n_orders_at_event"),
    "q_negative_sample" ->
      ("WITH bought AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "pool AS (SELECT p AS cand FROM (SELECT p, count(*) AS n_buyers FROM bought GROUP BY p) " +
        "ORDER BY n_buyers DESC, p LIMIT 50), " +
        "users AS (SELECT DISTINCT c FROM bought), " +
        "nest AS (SELECT c, cand FROM users CROSS JOIN pool " +
        "WHERE NOT EXISTS (SELECT 1 FROM bought b WHERE b.c = users.c AND b.p = cand)), " +
        "r AS (SELECT c, cand, CAST(row_number() OVER (PARTITION BY c " +
        "ORDER BY ((c * 131071 + cand) % 2147483648) * 2654435761 % 4294967296, cand) AS BIGINT) AS rank " +
        "FROM nest) " +
        "SELECT c AS c_custkey, cand AS l_partkey, rank FROM r WHERE rank <= 5 " +
        "ORDER BY c_custkey, rank"),
    "q_kmv_distinct" ->
      ("WITH hv AS (SELECT DISTINCT event_type, " +
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS h FROM events), " +
        "p1 AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type, " +
        "h // 35184372088832 ORDER BY h) AS r1 FROM hv), " +
        "p2 AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY h) AS r2 FROM p1 WHERE r1 <= 64), " +
        "sk AS (SELECT event_type, count(*) AS n_sk, max(h) AS kth " +
        "FROM p2 WHERE r2 <= 64 GROUP BY event_type), " +
        "ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact " +
        "FROM events GROUP BY event_type), " +
        "j AS (SELECT ex.event_type, ex.n_exact, CAST(CASE WHEN sk.n_sk < 64 " +
        "THEN sk.n_sk ELSE (63 * 4503599627370496) // sk.kth END AS BIGINT) AS n_kmv " +
        "FROM sk JOIN ex USING (event_type)) " +
        "SELECT event_type, n_exact, n_kmv, " +
        "(abs(n_kmv - n_exact) * 1000000) // n_exact AS err_ppm " +
        "FROM j ORDER BY event_type"),
    "q_kmv_set_ops" ->
      ("WITH hv AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS side, " +
        "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS BIGINT) AS h " +
        "FROM orders WHERE year(o_orderdate) IN (1996, 1997)), " +
        "p1 AS (SELECT side, h, row_number() OVER (PARTITION BY side, " +
        "h // 35184372088832 ORDER BY h) AS r1 FROM hv), " +
        "sk AS (SELECT side, h FROM (SELECT side, h, row_number() OVER " +
        "(PARTITION BY side ORDER BY h) AS r2 FROM p1 WHERE r1 <= 64) WHERE r2 <= 64), " +
        "usk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r " +
        "FROM (SELECT DISTINCT h FROM sk)) WHERE r <= 64), " +
        "st AS (SELECT count(*) AS n_usk, max(h) AS kth FROM usk), " +
        "sh AS (SELECT count(*) AS shared_k FROM usk " +
        "WHERE h IN (SELECT h FROM sk WHERE side = 1996) " +
        "AND h IN (SELECT h FROM sk WHERE side = 1997)), " +
        "du AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS side, o_custkey " +
        "FROM orders WHERE year(o_orderdate) IN (1996, 1997)), " +
        "ue AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_union_exact FROM du), " +
        "ie AS (SELECT CAST(count(*) AS BIGINT) AS n_inter_exact FROM " +
        "(SELECT o_custkey FROM du GROUP BY o_custkey HAVING count(*) = 2)), " +
        "est AS (SELECT n_usk, shared_k, CAST(CASE WHEN n_usk < 64 THEN n_usk " +
        "ELSE (63 * 4503599627370496) // kth END AS BIGINT) AS n_union_kmv " +
        "FROM st CROSS JOIN sh) " +
        "SELECT n_union_exact, n_union_kmv, " +
        "(abs(n_union_kmv - n_union_exact) * 1000000) // n_union_exact AS union_err_ppm, " +
        "n_inter_exact, (shared_k * n_union_kmv) // n_usk AS n_inter_kmv, " +
        "(abs((shared_k * n_union_kmv) // n_usk - n_inter_exact) * 1000000) // n_inter_exact AS inter_err_ppm, " +
        "CAST(shared_k AS BIGINT) AS shared_k, CAST(n_usk AS BIGINT) AS n_usk " +
        "FROM est CROSS JOIN ue CROSS JOIN ie"),
    "q_hist_quantiles" ->
      ("WITH c AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c FROM lineitem), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, min(c) AS mn, max(c) AS mx FROM c), " +
        "h AS (SELECT CASE WHEN mx = mn THEN 0 ELSE ((c - mn) * 64) // (mx - mn + 1) END AS b, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM c CROSS JOIN st GROUP BY 1), " +
        "cm AS (SELECT b, cnt, CAST(coalesce(sum(cnt) OVER (ORDER BY b " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM h), " +
        "t AS (SELECT CAST(p AS BIGINT) AS p, (CAST(p AS BIGINT) * (n - 1)) // 100 AS r, n, mn, mx " +
        "FROM (SELECT unnest([50, 90, 99]) AS p) CROSS JOIN st), " +
        "e AS (SELECT t.p, t.n, t.r, cm.b, cm.cnt, cm.cum, t.mn, t.mx FROM t " +
        "JOIN cm ON t.r >= cm.cum AND t.r < cm.cum + cm.cnt), " +
        "est AS (SELECT p, n, r, " +
        "(CASE WHEN mx = mn THEN mn ELSE mn + (b * (mx - mn + 1)) // 64 END) + " +
        "((r - cum) * ((CASE WHEN mx = mn THEN mx + 1 ELSE mn + ((b + 1) * (mx - mn + 1)) // 64 END) - " +
        "(CASE WHEN mx = mn THEN mn ELSE mn + (b * (mx - mn + 1)) // 64 END))) // cnt AS est_cents FROM e), " +
        "rk AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS r FROM c), " +
        "ex AS (SELECT t.p, rk.c AS exact_cents FROM t JOIN rk ON rk.r = t.r) " +
        "SELECT est.p, est.n, est_cents, exact_cents, " +
        "(abs(est_cents - exact_cents) * 1000000) // exact_cents AS err_ppm " +
        "FROM est JOIN ex ON est.p = ex.p ORDER BY est.p"),
    "q_ddsketch_quantiles" ->
      // DIRECT global histogram (no month shards): the hash match against
      // the merged Spark path proves merge == direct
      ("WITH c AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c FROM lineitem), " +
        "bk AS (SELECT c, length(bin(c)) - 1 AS m FROM c), " +
        "b2 AS (SELECT c, m * 8 + (c * 8) // CAST(pow(2.0, m) AS BIGINT) - 8 AS bkt FROM bk), " +
        "h AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cnt FROM b2 GROUP BY bkt), " +
        "st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h), " +
        "cm AS (SELECT bkt, cnt, CAST(coalesce(sum(cnt) OVER (ORDER BY bkt " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM h), " +
        "t AS (SELECT CAST(p AS BIGINT) AS p, (CAST(p AS BIGINT) * (n - 1)) // 100 AS r, n " +
        "FROM (SELECT unnest([50, 90, 99]) AS p) CROSS JOIN st), " +
        "e AS (SELECT t.p, t.n, t.r, cm.bkt, cm.cnt, cm.cum FROM t " +
        "JOIN cm ON t.r >= cm.cum AND t.r < cm.cum + cm.cnt), " +
        "est AS (SELECT p, n, r, " +
        "((8 + bkt % 8) * CAST(pow(2.0, bkt // 8) AS BIGINT)) // 8 + " +
        "((r - cum) * (((9 + bkt % 8) * CAST(pow(2.0, bkt // 8) AS BIGINT)) // 8 - " +
        "((8 + bkt % 8) * CAST(pow(2.0, bkt // 8) AS BIGINT)) // 8)) // cnt AS est_cents FROM e), " +
        "rk AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS r FROM c), " +
        "ex AS (SELECT t.p, rk.c AS exact_cents FROM t JOIN rk ON rk.r = t.r) " +
        "SELECT est.p, est.n, est_cents, exact_cents, " +
        "(abs(est_cents - exact_cents) * 1000000) // exact_cents AS err_ppm " +
        "FROM est JOIN ex ON est.p = ex.p ORDER BY est.p"),
    "q_cms_estimate" ->
      (TP_TOK_CTE +
        ", tc AS (SELECT token, count(*) AS c FROM tok GROUP BY token)" +
        ", js AS (SELECT unnest([0, 1, 2, 3]) AS j)" +
        ", eb AS (SELECT token, c, j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) " +
        "|| '|' || token), 1, 13) AS BIGINT) % 8 AS bucket FROM tc CROSS JOIN js)" +
        ", cnt AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS counter " +
        "FROM eb GROUP BY j, bucket)" +
        ", top AS (SELECT token, c FROM tc ORDER BY c DESC, token LIMIT 20)" +
        ", pr AS (SELECT top.token, top.c, js.j, CAST('0x' || substr(md5(CAST(js.j AS VARCHAR) " +
        "|| '|' || top.token), 1, 13) AS BIGINT) % 8 AS bucket FROM top CROSS JOIN js)" +
        ", est AS (SELECT pr.token, pr.c, min(cnt.counter) AS cms_est " +
        "FROM pr JOIN cnt USING (j, bucket) GROUP BY pr.token, pr.c) " +
        "SELECT token, CAST(c AS BIGINT) AS n_exact, cms_est, " +
        "cms_est - c AS overcount FROM est ORDER BY n_exact DESC, token"),
    "q_join_size_est" ->
      ("WITH kc AS (SELECT l_partkey AS k, " +
        "CAST(sum(CAST(year(l_shipdate) = 1996 AS INTEGER)) AS BIGINT) AS a, " +
        "CAST(sum(CAST(year(l_shipdate) = 1997 AS INTEGER)) AS BIGINT) AS b " +
        "FROM lineitem WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1), " +
        "ex AS (SELECT CAST(sum(a * b) AS BIGINT) AS n_exact FROM kc), " +
        "kj AS (SELECT k, a, b, j FROM kc CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j)), " +
        "hb AS (SELECT j, a, b, " +
        "CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 13) AS BIGINT) % 64 AS bucket, " +
        "CASE WHEN CAST('0x' || substr(md5('s' || CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 13) AS BIGINT) % 2 = 0 " +
        "THEN 1 ELSE -1 END AS sgn FROM kj), " +
        "ct AS (SELECT j, bucket, CAST(sum(a * sgn) AS BIGINT) AS ca, " +
        "CAST(sum(b * sgn) AS BIGINT) AS cb FROM hb GROUP BY 1, 2), " +
        "ip AS (SELECT j, CAST(sum(ca * cb) AS BIGINT) AS ip FROM ct GROUP BY j), " +
        "md AS (SELECT CAST(ip AS BIGINT) AS est_agms FROM " +
        "(SELECT ip, j, row_number() OVER (ORDER BY ip, j) AS r FROM ip) WHERE r = 5) " +
        "SELECT n_exact, est_agms, " +
        "(abs(est_agms - n_exact) * 1000000) // n_exact AS err_ppm " +
        "FROM md CROSS JOIN ex"),
    "q_ams_f2" ->
      ("WITH uc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1), " +
        "ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM uc), " +
        "uj AS (SELECT user_id, c, j FROM uc CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j)), " +
        "hb AS (SELECT j, c, " +
        "CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) % 64 AS bucket, " +
        "CASE WHEN CAST('0x' || substr(md5('s' || CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) % 2 = 0 " +
        "THEN 1 ELSE -1 END AS sgn FROM uj), " +
        "ct AS (SELECT j, bucket, CAST(sum(c * sgn) AS BIGINT) AS sb FROM hb GROUP BY 1, 2), " +
        "e2 AS (SELECT j, CAST(sum(sb * sb) AS BIGINT) AS estj FROM ct GROUP BY j), " +
        "md AS (SELECT CAST(estj AS BIGINT) AS f2_ams FROM " +
        "(SELECT estj, j, row_number() OVER (ORDER BY estj, j) AS r FROM e2) WHERE r = 5) " +
        "SELECT f2_exact, f2_ams, (abs(f2_ams - f2_exact) * 1000000) // f2_exact AS err_ppm " +
        "FROM md CROSS JOIN ex"),
    "q_mrr" ->
      ("WITH p AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings WHERE vec_id >= 10), " +
        "sc AS (SELECT q_id, q_label, vec_id, label, " +
        "round(list_cosine_similarity(emb, q_emb), 4) AS simr FROM c CROSS JOIN p), " +
        "r AS (SELECT q_id, q_label, vec_id, label, simr, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY simr DESC, vec_id) AS rank FROM sc), " +
        "h AS (SELECT q_id, CAST(min(rank) AS BIGINT) AS frr FROM r " +
        "WHERE rank <= 10 AND label = q_label GROUP BY q_id) " +
        "SELECT p.q_id, CAST(coalesce(frr, 0) AS BIGINT) AS first_rel_rank, " +
        "CAST(CASE WHEN frr IS NULL THEN 0 ELSE 1000000 // frr END AS BIGINT) AS rr_ppm " +
        "FROM p LEFT JOIN h ON p.q_id = h.q_id ORDER BY p.q_id"),
    "q_rank_fusion" ->
      ("WITH probe AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS p " +
        "FROM embeddings WHERE vec_id = 1), " +
        "sc AS (SELECT vec_id, " +
        "round(list_cosine_similarity(list_transform(embedding, x -> CAST(x AS DOUBLE)), p), 4) AS simr, " +
        "round(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), p), 4) AS dotr " +
        "FROM embeddings, probe WHERE vec_id <> 1), " +
        "tc AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY simr DESC, vec_id) AS BIGINT) AS rank_cos " +
        "FROM sc QUALIFY rank_cos <= 20), " +
        "td AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY dotr DESC, vec_id) AS BIGINT) AS rank_dot " +
        "FROM sc QUALIFY rank_dot <= 20), " +
        "f AS (SELECT coalesce(tc.vec_id, td.vec_id) AS vec_id, " +
        "CAST(coalesce(rank_cos, 0) AS BIGINT) AS rank_cos, CAST(coalesce(rank_dot, 0) AS BIGINT) AS rank_dot " +
        "FROM tc FULL OUTER JOIN td ON tc.vec_id = td.vec_id) " +
        "SELECT vec_id, rank_cos, rank_dot, " +
        "CAST(CASE WHEN rank_cos = 0 THEN 0 ELSE 1000000000 // (60 + rank_cos) END + " +
        "CASE WHEN rank_dot = 0 THEN 0 ELSE 1000000000 // (60 + rank_dot) END AS BIGINT) AS rrf_ppb " +
        "FROM f ORDER BY rrf_ppb DESC, vec_id LIMIT 10"),
    "q_dsir_weights" ->
      (TP_TOK_CTE +
        ", bk AS (SELECT doc_id, source, " +
        "CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 256 AS b FROM tok)" +
        ", dist AS (SELECT b, CAST(sum(CAST(source = 'src0' AS INTEGER)) AS BIGINT) AS ct, " +
        "CAST(sum(CAST(source <> 'src0' AS INTEGER)) AS BIGINT) AS cr FROM bk GROUP BY b)" +
        ", tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM dist)" +
        ", ratio AS (SELECT b, log2(CAST(ct + 1 AS DOUBLE)) - log2(CAST(nt + 256 AS DOUBLE)) " +
        "- log2(CAST(cr + 1 AS DOUBLE)) + log2(CAST(nr + 256 AS DOUBLE)) AS llr " +
        "FROM dist CROSS JOIN tt) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(sum(llr), 4) AS logw, CAST(sum(llr) > 0 AS BIGINT) AS keep " +
        "FROM bk JOIN ratio USING (b) GROUP BY doc_id ORDER BY doc_id"),
    "q_chi2_tokens" ->
      ("""WITH norm AS (SELECT doc_id, lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents)""" +
        ", tok AS (SELECT lang, unnest(string_split(t, ' ')) AS token FROM norm WHERE t <> '')" +
        ", tc AS (SELECT token, CAST(sum(CAST(lang = 'en' AS INTEGER)) AS BIGINT) AS a, " +
        "CAST(sum(CAST(lang <> 'en' AS INTEGER)) AS BIGINT) AS b FROM tok GROUP BY token)" +
        ", tt AS (SELECT CAST(sum(CAST(lang = 'en' AS INTEGER)) AS BIGINT) AS ta, " +
        "CAST(sum(CAST(lang <> 'en' AS INTEGER)) AS BIGINT) AS tb FROM tok)" +
        ", sc AS (SELECT token, a, b, ta - a AS c, tb - b AS d FROM tc CROSS JOIN tt " +
        "WHERE a + b >= 5) " +
        "SELECT token, a, b, round(CASE WHEN a + c = 0 OR b + d = 0 OR c + d = 0 THEN 0.0 ELSE " +
        "CAST(a + b + c + d AS DOUBLE) * " +
        "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * " +
        "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) " +
        "/ (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) END, 4) AS chi2 " +
        "FROM sc ORDER BY chi2 DESC, token LIMIT 20"),
    "q_group_quantiles" ->
      ("WITH cents AS (SELECT c_nationkey AS nation, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey), " +
        "st AS (SELECT nation, CAST(count(*) AS BIGINT) AS n, min(c) AS mn, max(c) AS mx " +
        "FROM cents GROUP BY 1), " +
        "wb AS (SELECT nation, c, CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
        "ELSE ((c - mn) * 32) // (mx - mn + 1) END AS b FROM cents JOIN st USING (nation)), " +
        "h AS (SELECT nation, b, CAST(count(*) AS BIGINT) AS cnt FROM wb GROUP BY 1, 2), " +
        "cm AS (SELECT nation, b, cnt, CAST(coalesce(sum(cnt) OVER (PARTITION BY nation " +
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM h), " +
        "tg AS (SELECT nation, CAST(p AS BIGINT) AS p, n, mn, mx, (CAST(p AS BIGINT) * (n - 1)) // 100 AS r " +
        "FROM st CROSS JOIN (SELECT unnest([50, 95]) AS p)), " +
        "es AS (SELECT tg.nation, p, n, r, b, cum, cnt, mn, mx, " +
        "CASE WHEN mx = mn THEN mn ELSE mn + (b * (mx - mn + 1)) // 32 END AS lo, " +
        "CASE WHEN mx = mn THEN mx + 1 ELSE mn + ((b + 1) * (mx - mn + 1)) // 32 END AS hi " +
        "FROM tg JOIN cm ON tg.nation = cm.nation AND r >= cum AND r < cum + cnt), " +
        "e2 AS (SELECT nation, p, n, r, b, cum, lo + ((r - cum) * (hi - lo)) // cnt AS est_cents FROM es), " +
        "rk AS (SELECT wb.nation, e2.p, wb.c, " +
        "row_number() OVER (PARTITION BY wb.nation, wb.b, e2.p ORDER BY wb.c) AS rk, " +
        "r - cum + 1 AS t FROM wb JOIN e2 ON wb.nation = e2.nation AND wb.b = e2.b), " +
        "ex AS (SELECT nation, p, c AS exact_cents FROM rk WHERE rk = t) " +
        "SELECT e2.nation, e2.p, n, est_cents, exact_cents, " +
        "(abs(est_cents - exact_cents) * 1000000) // exact_cents AS err_ppm " +
        "FROM e2 JOIN ex ON e2.nation = ex.nation AND e2.p = ex.p ORDER BY 1, 2"),
    "q_temperature_mix" ->
      ("WITH src AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars, " +
        "CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE) * 1000000.0)) AS BIGINT) AS w " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tn, CAST(sum(w) AS BIGINT) AS tw FROM src) " +
        "SELECT source, n_chars, " +
        s"CAST(${ppmDivSql("n_chars", "tn")} AS BIGINT) AS raw_ppm, " +
        s"CAST(${ppmDivSql("w", "tw")} AS BIGINT) AS temp_ppm, " +
        s"CAST((CAST(${ppmDivSql("w", "tw")} AS BIGINT) * 1000000) // " +
        s"CAST(${ppmDivSql("n_chars", "tn")} AS BIGINT) AS BIGINT) AS boost_ppm " +
        "FROM src CROSS JOIN tot ORDER BY source"),
    "q_dp_counts" ->
      ("WITH uc AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c " +
        "FROM events GROUP BY 1, 2), " +
        "cl AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events, " +
        "CAST(sum(least(c, 5)) AS BIGINT) AS n_clipped FROM uc GROUP BY 1), " +
        "nz AS (SELECT event_type, n_events, n_clipped, " +
        "(CAST('0x' || substr(md5('dp' || event_type), 1, 13) AS BIGINT) % 1000000 + 1) / 1000001.0 AS u, " +
        "CASE WHEN CAST('0x' || substr(md5('dps' || event_type), 1, 13) AS BIGINT) % 2 = 0 " +
        "THEN 1.0 ELSE -1.0 END AS sgn FROM cl) " +
        "SELECT event_type, n_events, n_clipped, n_events - n_clipped AS clip_loss, " +
        "round(sgn * -5.0 * ln(u), 4) AS noise, " +
        "n_clipped + CAST(round(round(sgn * -5.0 * ln(u), 4), 0) AS BIGINT) AS n_dp " +
        "FROM nz ORDER BY event_type"),
    "q_maxsim" ->
      ("WITH t AS (SELECT vec_id // 8 AS doc, vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings), " +
        "q AS (SELECT vec_id AS q_tok, emb AS q_emb FROM t WHERE doc = 0), " +
        "p AS (SELECT doc, q_tok, " +
        "CAST(round(list_inner_product(emb, q_emb) * 10000, 0) AS BIGINT) AS di " +
        "FROM t CROSS JOIN q WHERE doc >= 1), " +
        "m AS (SELECT doc, q_tok, max(di) AS mx FROM p GROUP BY 1, 2) " +
        "SELECT doc, CAST(sum(mx) AS BIGINT) AS maxsim_e4 FROM m GROUP BY doc " +
        "ORDER BY maxsim_e4 DESC, doc LIMIT 10"),
    "q_l_diversity" ->
      ("WITH b AS (SELECT c_nationkey AS nation, c_mktsegment AS segment, " +
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band FROM customer), " +
        "g AS (SELECT nation, segment, band, CAST(count(*) AS BIGINT) AS nb " +
        "FROM b GROUP BY 1, 2, 3) " +
        "SELECT nation, segment, CAST(sum(nb) AS BIGINT) AS k, " +
        "CAST(count(*) AS BIGINT) AS l, " +
        "CAST(count(*) < 2 AS BIGINT) AS violates_l2, " +
        "CAST(count(*) < 3 AS BIGINT) AS violates_l3 " +
        "FROM g GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_t_closeness" ->
      ("WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment, " +
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band FROM customer), " +
        "cb AS (SELECT nation, segment, band, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2, 3), " +
        "cls AS (SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS k FROM cb GROUP BY 1, 2), " +
        "gb AS (SELECT band, CAST(count(*) AS BIGINT) AS gcnt FROM c GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nbands FROM gb), " +
        "grid AS (SELECT cls.nation, cls.segment, cls.k, gb.band, gb.gcnt, tot.n, tot.nbands, " +
        "coalesce(cb.cnt, 0) AS cnt FROM cls CROSS JOIN gb CROSS JOIN tot " +
        "LEFT JOIN cb ON cb.nation = cls.nation AND cb.segment = cls.segment AND cb.band = gb.band), " +
        s"cum AS (SELECT nation, segment, k, nbands, sum((${ppmDivSql("cnt", "k")}) - (${ppmDivSql("gcnt", "n")})) " +
        "OVER (PARTITION BY nation, segment ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum, " +
        "row_number() OVER (PARTITION BY nation, segment ORDER BY band) AS rb FROM grid), " +
        "f AS (SELECT nation, segment, max(k) AS k, " +
        "CAST(sum(CASE WHEN rb < nbands THEN abs(cum) ELSE 0 END) AS BIGINT) AS flow, " +
        "max(nbands) AS nb FROM cum GROUP BY 1, 2) " +
        "SELECT nation, segment, k, " +
        "CAST(CASE WHEN nb <= 1 THEN 0 ELSE flow // (nb - 1) END AS BIGINT) AS t_ppm, " +
        "CAST(CASE WHEN nb <= 1 THEN 0 ELSE flow // (nb - 1) END > 150000 AS BIGINT) AS violates_t15 " +
        "FROM f ORDER BY 1, 2"),
    "q_winnow_fingerprint" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm), " +
        "g4 AS (SELECT doc_id, pos, token || ' ' || lead(token, 1) OVER w || ' ' || " +
        "lead(token, 2) OVER w || ' ' || lead(token, 3) OVER w AS g FROM tok " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY pos)), " +
        "f AS (SELECT doc_id, CAST(pos - 1 AS BIGINT) AS gpos, " +
        "CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) AS h FROM g4 WHERE g IS NOT NULL), " +
        "m AS (SELECT doc_id, gpos, min(struct_pack(h := h, np := -gpos)) " +
        "OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS mn " +
        "FROM f), " +
        "sel AS (SELECT DISTINCT doc_id, struct_extract(mn, 'np') AS np, " +
        "struct_extract(mn, 'h') AS selh FROM m WHERE gpos >= 7), " +
        "ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM f GROUP BY 1), " +
        "fp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, " +
        "CAST(sum(selh) AS BIGINT) AS fp_sum FROM sel GROUP BY 1), " +
        "j AS (SELECT d.doc_id, coalesce(ng.n_grams, 0) AS n_grams, " +
        "coalesce(fp.n_fp, 0) AS n_fp, coalesce(fp.fp_sum, 0) AS fp_sum " +
        "FROM (SELECT doc_id FROM documents) d " +
        "LEFT JOIN ng ON ng.doc_id = d.doc_id LEFT JOIN fp ON fp.doc_id = d.doc_id) " +
        "SELECT doc_id, n_grams, n_fp, fp_sum, " +
        s"CAST(CASE WHEN n_grams = 0 THEN 0 ELSE ${ppmDivSql("n_fp", "n_grams")} END AS BIGINT) AS fp_ppm " +
        "FROM j ORDER BY doc_id"),
    "q_winnow_matches" ->
      (NORM_CTE +
        ", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token, " +
        "generate_subscripts(string_split(t, ' '), 1) AS pos FROM norm), " +
        "g4 AS (SELECT doc_id, pos, token || ' ' || lead(token, 1) OVER w || ' ' || " +
        "lead(token, 2) OVER w || ' ' || lead(token, 3) OVER w AS g FROM tok " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY pos)), " +
        "f AS (SELECT doc_id, CAST(pos - 1 AS BIGINT) AS gpos, " +
        "CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) AS h FROM g4 WHERE g IS NOT NULL), " +
        "m AS (SELECT doc_id, gpos, min(struct_pack(h := h, np := -gpos)) " +
        "OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS mn " +
        "FROM f), " +
        "sel AS (SELECT DISTINCT doc_id, struct_extract(mn, 'h') AS selh " +
        "FROM m WHERE gpos >= 7), " +
        "keep AS (SELECT selh FROM (SELECT selh, count(*) AS df FROM sel GROUP BY 1) " +
        "WHERE df BETWEEN 2 AND 50), " +
        "k AS (SELECT sel.doc_id, sel.selh FROM sel JOIN keep ON keep.selh = sel.selh) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM k a JOIN k b ON a.selh = b.selh AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2"),
    "q_embed_dim_stats" ->
      ("WITH v AS (SELECT CAST(i - 1 AS BIGINT) AS dim, " +
        "CAST(round(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT) AS xe4 " +
        "FROM embeddings CROSS JOIN range(1, 65) t(i)), " +
        "g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(xe4) AS BIGINT) AS s1, " +
        "CAST(sum(xe4 * xe4) AS BIGINT) AS s2, min(xe4) AS min_e4, max(xe4) AS max_e4 " +
        "FROM v GROUP BY 1) " +
        "SELECT dim, n, " +
        "CAST((2 * s1 + (CASE WHEN s1 < 0 THEN -1 ELSE 1 END) * n) // (2 * n) AS BIGINT) AS mean_e4, " +
        "CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT) AS var_e8, min_e4, max_e4, " +
        "CAST((n * s2 - s1 * s1) // (n * n) < 1000000 AS BIGINT) AS dead " +
        "FROM g ORDER BY dim"),
    "q_cluster_purity" ->
      ("WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid " +
        "FROM embeddings ORDER BY vec_id LIMIT 8), " +
        "assigned AS (SELECT vec_id, label, cid AS cluster_id FROM (" +
        "SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, c.cid, " +
        "row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid), c.cid) AS rn " +
        "FROM embeddings e CROSS JOIN cents c) WHERE rn = 1), " +
        "cl AS (SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS nl " +
        "FROM assigned GROUP BY 1, 2), " +
        "g AS (SELECT cluster_id, CAST(sum(nl) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_labels, " +
        "max(struct_pack(nl := nl, nlab := -label)) AS m FROM cl GROUP BY 1) " +
        "SELECT cluster_id, n, n_labels, -struct_extract(m, 'nlab') AS majority_label, " +
        "struct_extract(m, 'nl') AS majority_n, " +
        s"CAST(${ppmDivSql("struct_extract(m, 'nl')", "n")} AS BIGINT) AS purity_ppm " +
        "FROM g ORDER BY cluster_id"),
    "q_random_projection" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings WHERE vec_id < 100), " +
        "p AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        "list_transform(range(1, 65), i -> a.emb[i] - b.emb[i]) AS dv " +
        "FROM e a JOIN e b ON a.vec_id + 1 = b.vec_id " +
        "WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1), " +
        "sgns AS (SELECT j, list_transform(range(0, 64), i -> " +
        "CASE WHEN CAST('0x' || substr(md5('jl|' || i || '|' || j), 1, 13) AS BIGINT) % 2 = 0 " +
        "THEN 1.0 ELSE -1.0 END) AS sgn FROM range(16) t(j)), " +
        "o AS (SELECT va, vb, dv, " +
        "CAST(round(list_sum(list_transform(dv, x -> x * x)) * 100000000, 0) AS BIGINT) AS od2_e8 " +
        "FROM p), " +
        "d AS (SELECT va, vb, od2_e8, CAST(round(list_sum(list_transform(range(1, 65), " +
        "i -> dv[i] * sgn[i])) * 10000, 0) AS BIGINT) AS pj FROM o CROSS JOIN sgns), " +
        "g AS (SELECT va, vb, od2_e8, CAST(sum(pj * pj) AS BIGINT) AS pd2_e8 " +
        "FROM d GROUP BY 1, 2, 3), " +
        "fin AS (SELECT va, vb, od2_e8, pd2_e8, pd2_e8 // 16 AS pd2n FROM g) " +
        "SELECT va, vb, od2_e8, pd2_e8, " +
        s"CAST(CASE WHEN od2_e8 = 0 THEN 0 ELSE ${ppmDivSql("pd2n", "od2_e8")} END AS BIGINT) AS dist_ppm " +
        "FROM fin ORDER BY va"),
    "q_survival_curve" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS dte FROM orders), " +
        "mx AS (SELECT max(dte) AS maxd FROM o), " +
        "g AS (SELECT o_custkey, dte, lead(dte, 1) OVER " +
        "(PARTITION BY o_custkey ORDER BY dte, o_orderkey) AS nxt FROM o), " +
        "obs AS (SELECT CASE WHEN nxt IS NOT NULL THEN CAST(date_diff('day', dte, nxt) AS BIGINT) " +
        "ELSE CAST(date_diff('day', dte, maxd) AS BIGINT) END AS t, " +
        "CAST(nxt IS NOT NULL AS BIGINT) AS ev FROM g CROSS JOIN mx), " +
        "census AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d_ev, " +
        "CAST(sum(1 - ev) AS BIGINT) AS c_cens, CAST(count(*) AS BIGINT) AS n_at " +
        "FROM obs GROUP BY 1), " +
        "r AS (SELECT *, CAST(sum(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS n_risk FROM census), " +
        "tm AS (SELECT *, CASE WHEN d_ev = 0 THEN 0 WHEN d_ev >= n_risk THEN 0 " +
        "ELSE CAST(round(ln(1.0 - CAST(d_ev AS DOUBLE) / n_risk) * 1000000000, 0) AS BIGINT) " +
        "END AS term_e9 FROM r), " +
        "fin AS (SELECT *, max(CAST(d_ev = n_risk AS INT)) OVER " +
        "(ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead, " +
        "CAST(sum(term_e9) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_e9 " +
        "FROM tm) " +
        "SELECT t, n_risk, d_ev, c_cens, " +
        "CASE WHEN dead = 1 THEN NULL ELSE cum_e9 END AS logs_e9, " +
        "CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(CAST(cum_e9 AS DOUBLE) / 1000000000.0), 4) " +
        "END AS s_r4 FROM fin ORDER BY t"),
    "q_gini_split" ->
      ("WITH e AS (SELECT CAST(round(CAST(embedding[1] AS DOUBLE) * 10000, 0) AS BIGINT) AS x_e4, " +
        "CAST(label < 5 AS BIGINT) AS y FROM embeddings), " +
        "st AS (SELECT min(x_e4) AS xmin, max(x_e4) AS xmax, " +
        "CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos FROM e), " +
        "census AS (SELECT CASE WHEN xmax = xmin THEN 0 " +
        "ELSE least(63, ((x_e4 - xmin) * 64) // (xmax - xmin)) END AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_b, CAST(sum(y) AS BIGINT) AS pos_b, " +
        "max(xmin) AS xmin, max(xmax) AS xmax, max(n) AS n, max(pos) AS pos " +
        "FROM e CROSS JOIN st GROUP BY 1), " +
        "sc AS (SELECT *, CAST(sum(n_b) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS n_left, CAST(sum(pos_b) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS pos_left FROM census), " +
        "f AS (SELECT CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(xmin + ((bucket + 1) * (xmax - xmin)) // 64 AS BIGINT) AS thr_e4, " +
        "n_left, pos_left, n, pos, " +
        "CAST(round(((n_left - (CAST(pos_left AS DOUBLE) * pos_left + " +
        "CAST(n_left - pos_left AS DOUBLE) * (n_left - pos_left)) / n_left) + " +
        "((n - n_left) - (CAST(pos - pos_left AS DOUBLE) * (pos - pos_left) + " +
        "CAST((n - n_left) - (pos - pos_left) AS DOUBLE) * ((n - n_left) - (pos - pos_left))) " +
        "/ (n - n_left))) / n * 1000000000, 0) AS BIGINT) AS wgini_e9 " +
        "FROM sc WHERE n_left < n), " +
        "b AS (SELECT min(struct_pack(wgini_e9 := wgini_e9, bucket := bucket)) AS m FROM f) " +
        "SELECT bucket, thr_e4, n_left, pos_left, wgini_e9, " +
        "CAST(bucket = struct_extract(m, 'bucket') AS BIGINT) AS is_best " +
        "FROM f CROSS JOIN b ORDER BY bucket"),
    "q_psi_drift" ->
      ("WITH ev AS (SELECT ts, value FROM events WHERE value IS NOT NULL), " +
        "st AS (SELECT min(value) AS vmin, max(value) AS vmax, min(ts) AS t0 FROM ev), " +
        "c AS (SELECT CASE WHEN vmax = vmin THEN 0 ELSE least(9, " +
        "CAST(floor((value - vmin) * 10.0 / (vmax - vmin)) AS BIGINT)) END AS bin, " +
        "CAST(ts < t0 + INTERVAL 7 DAY AS BIGINT) AS is_ref FROM ev CROSS JOIN st), " +
        "census AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_n, " +
        "CAST(sum(1 - is_ref) AS BIGINT) AS cur_n FROM c GROUP BY 1), " +
        "grid AS (SELECT CAST(g.bin AS BIGINT) AS bin, coalesce(ref_n, 0) AS ref_n, " +
        "coalesce(cur_n, 0) AS cur_n FROM range(10) g(bin) " +
        "LEFT JOIN census ON census.bin = g.bin), " +
        "tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt, CAST(sum(cur_n) AS BIGINT) AS ct " +
        "FROM grid) " +
        "SELECT bin, ref_n, cur_n, " +
        s"CAST(${ppmDivSql("(ref_n + 1)", "(rt + 10)")} AS BIGINT) AS ref_ppm, " +
        s"CAST(${ppmDivSql("(cur_n + 1)", "(ct + 10)")} AS BIGINT) AS cur_ppm, " +
        "CAST(round((CAST(ref_n + 1 AS DOUBLE) / (rt + 10) - " +
        "CAST(cur_n + 1 AS DOUBLE) / (ct + 10)) * " +
        "ln((CAST(ref_n + 1 AS DOUBLE) / (rt + 10)) / " +
        "(CAST(cur_n + 1 AS DOUBLE) / (ct + 10))) * 1000000000, 0) AS BIGINT) AS term_e9 " +
        "FROM grid CROSS JOIN tot ORDER BY bin"),
    "q_mmr_rerank" -> mmrOracleSql,
    "q_topk_churn" ->
      ("WITH rev AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, " +
        "l_partkey AS part, CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) " +
        "AS BIGINT) AS rev_c FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1, 2), " +
        "top AS (SELECT month, part FROM (SELECT month, part, row_number() OVER " +
        "(PARTITION BY month ORDER BY rev_c DESC, part) AS rk FROM rev) WHERE rk <= 10), " +
        "sizes AS (SELECT month, CAST(count(*) AS BIGINT) AS n_list FROM top GROUP BY 1), " +
        "months AS (SELECT DISTINCT month FROM rev), " +
        "consec AS (SELECT m1.month, CAST(m1.month + INTERVAL 1 MONTH AS DATE) AS next_month " +
        "FROM months m1 JOIN months m2 ON m2.month = CAST(m1.month + INTERVAL 1 MONTH AS DATE)), " +
        "common AS (SELECT CAST(t2.month - INTERVAL 1 MONTH AS DATE) AS month, " +
        "CAST(count(*) AS BIGINT) AS n_common FROM top t1 JOIN top t2 " +
        "ON t2.month = CAST(t1.month + INTERVAL 1 MONTH AS DATE) AND t2.part = t1.part " +
        "GROUP BY 1), " +
        "j AS (SELECT c.month, c.next_month, sa.n_list AS n_a, sb.n_list AS n_b, " +
        "coalesce(common.n_common, 0) AS n_common " +
        "FROM consec c JOIN sizes sa ON sa.month = c.month " +
        "JOIN sizes sb ON sb.month = c.next_month " +
        "LEFT JOIN common ON common.month = c.month) " +
        "SELECT month, next_month, n_common, " +
        s"CAST(${ppmDivSql("n_common", "(n_a + n_b - n_common)")} AS BIGINT) AS jaccard_ppm " +
        "FROM j ORDER BY month"),
  )
}
