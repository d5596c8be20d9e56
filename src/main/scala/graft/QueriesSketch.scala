package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.operators.{Checkpoints, EventAnalytics, Graph, Ops, Shuffles, Similarity, TextOps, TrainPrep}

/** Query tier `Sketch` — sketches, graph kernels, warehouse audits and windowed analytics.
  *
  * One of the six position-ordered fragments of the declared inventory
  * (SURVEY.md §2.3), split from the former 13 k-line `Queries.scala` so a
  * wave's def + registry entry + oracle land in ONE bounded file. The
  * self-type gives every fragment the full [[Queries]] member surface
  * (shared ppm/round-div helpers, CTE prefixes, cross-tier query reuse).
  * Registry/oracle fragments are concatenated — with a duplicate-key
  * guard — in [[Queries.all]] / [[Queries.oracles]].
  */
private[graft] trait QueriesSketch { this: Queries.type =>


  /** Exact heavy hitters over the document token stream at support 1/200
    * via [[graft.operators.Ops.heavyHitters]] — per-partition Misra-Gries
    * summaries (k = 400 counters, bounded memory) whose survivor union
    * provably contains every token at the threshold, then an exact
    * broadcast-restricted re-count. The declared result is the EXACT set
    * `cnt·200 ≥ N` (partition-independent; the sketch only prunes the
    * key space), so the oracle is the plain HAVING aggregate. At 100 TB
    * this shape replaces a full token-vocabulary shuffle with a
    * candidates·partitions one. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.explodedShingles(Tables.documents(s, d), "doc_id", "text", 1)
      .select(col("shingle").as("token"))
    Ops.heavyHitters(toks, "token", 200, 400)
      .select(col("token"), col("cnt"), col("total"),
        expr(ppmDiv("cnt", "total")).as("share_ppm"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Exact connected components of the co-purchase graph
    * ([[graft.operators.Graph.connectedComponents]] — min-label
    * propagation + pointer jumping, O(log n) rounds, localCheckpoint per
    * round), labeled with component sizes. The fixpoint (min node id per
    * component) is unique, so the output is deterministic; the oracle
    * states the same components as a recursive-CTE transitive closure —
    * quadratic in component size and only viable at oracle scale, which
    * is exactly the point of shipping the relational-iteration form. */
  def qGraphComponents(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = op.as("a")
      .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("pa", "pb")
    val cc = Graph.connectedComponents(e, "pa", "pb")
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("csize"))
    cc.join(sizes, Seq("component"))
      .select(col("node").as("l_partkey"), col("component"), col("csize"))
      .orderBy("l_partkey")
  }

  /** Referential-integrity audit over every FK relation in the star
    * schema: child rows, orphan rows (no parent), orphan ppm — each
    * relation ONE left-join + conditional-count pass (never a separate
    * anti-join re-scan), dims broadcast, fact relations shuffled once on
    * the FK. Bounded output (one row per declared relation) makes this
    * the load-verification primitive that runs after every 100 TB bulk
    * append. */
  def qFkAudit(s: SparkSession, d: String): DataFrame = {
    def rel(name: String, child: DataFrame, fk: String,
            parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pk).as("__pk")).distinct()
      child.select(col(fk).as("__fk"))
        .join(if (bcast) broadcast(p) else p, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphan"),
          expr(ppmDiv("n_orphan", "n_child")).as("orphan_ppm"))
    }
    rel("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", bcast = true)
      .unionAll(rel("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", bcast = false))
      .unionAll(rel("lineitem->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey", bcast = true))
      .unionAll(rel("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey", bcast = true))
      .unionAll(rel("customer->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true))
      .unionAll(rel("supplier->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true))
      .orderBy("relation")
  }

  /** Join-key skew profile for the lineitem→orders shuffle key: the
    * top-20 heaviest keys with their row share, plus the global skew
    * factor `max_cnt·n_keys div n_rows` (1 000 000 = perfectly uniform)
    * carried on every row. This is the diagnostic that decides salting /
    * AQE skew-join thresholds BEFORE a 100 TB shuffle: one map-side
    * combinable count, top-20 via TakeOrdered, the two scalar baselines
    * broadcast back. */
  def qSkewProfile(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    val base = cnt.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    cnt.crossJoin(broadcast(base))
      .select(col("l_orderkey"), col("cnt"), col("n_keys"), col("n_rows"),
        expr(ppmDiv("cnt", "n_rows")).as("share_ppm"),
        expr("(max_cnt * n_keys * 1000000) div n_rows").as("skew_factor_ppm"))
      .orderBy(col("cnt").desc, col("l_orderkey")).limit(20)
  }

  /** ANALYZE-style column statistics — the `ANALYZE TABLE ... FOR
    * COLUMNS` pass that feeds a cost-based optimizer: per column, row
    * count, null count, EXACT distinct count, and min/max rendered as
    * strings (doubles excluded by design — their string rendering is the
    * one engine-divergent surface; dates pass through a `date` cast so
    * both engines print ISO). TWO aggregate passes deliberately: the
    * multi-count-distinct plans as one Expand (+1 stream per column,
    * map-side partials), and MIXING the 19 regular aggregates into that
    * same aggregate forces them through every Expand stream (measured
    * 7× slower than the split form at sf0.1); the min/max/null pass is a
    * plain 1-row aggregate, and the two 1-row results combine in a
    * broadcast nest. Both scans read only the 6 stat columns. At extreme
    * scale the approximate path is [[qApproxDistinct]]'s HLL. Output is
    * |columns| rows at any data size. */
  def qNdvStats(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_returnflag", "l_linestatus")
    val render: Map[String, String] =
      (cols.map(c => c -> c) :+ ("l_shipdate" -> "CAST(l_shipdate AS DATE)")).toMap
    val all = cols :+ "l_shipdate"
    val li = Tables.lineitem(s, d)
    val ndvAggs = all.map(c => countDistinct(expr(render(c))).as(s"nd_$c"))
    val ndvs = li.agg(ndvAggs.head, ndvAggs.tail: _*)
    val mmAggs =
      all.map(c => sum(when(expr(render(c)).isNull, 1L).otherwise(0L)).as(s"nn_$c")) ++:
      all.map(c => min(expr(render(c))).cast("string").as(s"mn_$c")) ++:
      all.map(c => max(expr(render(c))).cast("string").as(s"mx_$c"))
    val mm = li.agg(count(lit(1)).as("n_rows"), mmAggs: _*)
    val stackArgs = all.map(c =>
      s"'$c', n_rows, nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    ndvs.crossJoin(broadcast(mm))
      .selectExpr(s"stack(${all.size}, $stackArgs) AS " +
        "(col, n_rows, n_nulls, ndv, min_val, max_val)")
      .transform(ps(col("col")))
  }

  /** Dataset datasheet ("dataset card") per source: docs, empty docs,
    * token totals, distinct token types, mean tokens/doc (ppm), distinct
    * languages — the curation summary a training-data release ships
    * with. Two map-side-combinable aggregation passes (doc grain, then
    * token-type grain) merged on the bounded source key; nothing here
    * exceeds |sources| rows after the partials. */
  def qDatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val docStats = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(Ops.normalizeText(col("text")) === "", 1L).otherwise(0L))
        .as("n_empty"),
      count_distinct(col("lang")).as("n_langs"))
    // tokens carry `source` straight out of the scan (row-local explode) —
    // never a doc_id join back onto the token stream
    val tok = docs.select(col("source"),
      explode(graft.functions.Shingles.shingles(
        Ops.normalizeText(col("text")), 1)).as("shingle"))
    val tokStats = tok.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("total_tokens"), count(lit(1)).as("n_types"))
    docStats.join(tokStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_empty"), col("n_langs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        expr(ppmDiv("coalesce(total_tokens, 0)", "n_docs")).as("mean_len_ppm"))
      .transform(ps(col("source")))
  }

  /** BFS distance layers from the highest-degree node of the co-purchase
    * graph (hop cap 15 — the declared semantics is `min distance ≤ 15`,
    * identically stated by the oracle's depth-capped recursive CTE).
    * Distance relaxation `d(v) := min(d(v), min_u d(u)+1)` as one
    * map-side-combinable aggregate per round with localCheckpoint
    * lineage truncation; the convergence check is fused into that same
    * materialization as a `Dataset.observe` changed-counter (one job per
    * round — the [[operators.Graph.connectedComponents]] discipline,
    * including its cluster-mode reliable-checkpoint note). The 1-row
    * seed (max degree, min node tie-break) rides a broadcast — the
    * driver never sees node data. Unreached nodes are excluded. */
  def qBfsLevels(s: SparkSession, d: String): DataFrame = {
    // Resumable tier (kernel `bfs`, round 16): the relaxation state
    // (node, d) is compact and its per-round update is a deterministic
    // monotone function of the previous distances, so the kernel resumes
    // from the last committed round with the identical fixpoint — same
    // discipline as pagerank/components. Manifest-bound to the source
    // rows the graph is a deterministic function of (pure scan + xor agg,
    // cheaper than fingerprinting the self-joined edge set).
    val resumeDir = graft.operators.IterResume.dir(s, "bfs")
    resumeDir.foreach(rd => graft.operators.IterResume.checkOrInit(s, rd,
      graft.operators.IterResume.descriptor("bfs", "cap=15",
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")))))
    val resumed = resumeDir.flatMap(graft.operators.IterResume.resume(s, _))
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = op.as("a")
      .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("pa", "pb")
    // sym feeds the loop AND (on fresh runs) the seed/round-0 build; a
    // fully-converged resume needs neither, so it is built on demand.
    var symCache: DataFrame = null
    def sym: DataFrame = {
      // one-pass symmetric expansion (r17): e is declarative here, and the
      // two-scan unionAll re-ran the whole 3-shuffle edge build twice
      // inside this single truncate
      if (symCache == null) symCache = Checkpoints.truncate(
        e.select(explode(array(
            struct(col("pa").as("src"), col("pb").as("dst")),
            struct(col("pb").as("src"), col("pa").as("dst")))).as("ed"))
          .select(col("ed.src").as("src"), col("ed.dst").as("dst")))
      symCache
    }
    var dist: DataFrame = null
    var changed = 1L
    var iter = 0
    resumed match {
      case Some((k, saved, rows)) =>
        iter = k
        dist = saved
        changed = rows.last.getLong(1)
      case None =>
        val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val seed = deg.orderBy(col("deg").desc, col("src")).limit(1)
          .select(col("src").as("node"), lit(0L).as("sd"))
        dist = Checkpoints.truncate(
          sym.select(col("src").as("node")).distinct()
            .join(broadcast(seed), Seq("node"), "left")
            .select(col("node"), col("sd").as("d")))
        // empty-graph guard (one limit-1 job, fresh runs only — a resumed
        // run committed rounds, so its graph is nonempty): AQE's
        // empty-relation propagation can eliminate a CollectMetrics node
        // on a provably-empty plan, which would block the fused
        // Observation below forever
        if (dist.isEmpty) changed = 0L
    }
    while (changed > 0 && iter < 15) {
      // One exchange fewer per round (r16, guide §2.4): the node's own
      // distance rides the same union-aggregate as the relaxed neighbor
      // distances, so min over the union (nulls ignored, all-null → null)
      // replaces the aggregate-then-left-join form exactly — every node
      // appears via its self row, least(d, min(d_nbr + 1)) = min(d ∪
      // {d_nbr + 1}), and unreached stays null.
      val obs = org.apache.spark.sql.Observation()
      val next0 = sym
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .where(col("d").isNotNull)
        .select(col("dst").as("node"), (col("d") + 1).as("dd"),
          lit(0L).as("own"))
        .unionAll(dist.select(col("node"), col("d").as("dd"),
          lit(1L).as("own")))
        .groupBy(col("node"))
        .agg(min(col("dd")).as("d"),
          max(when(col("own") === 1L, col("dd"))).as("prev"))
        // fused convergence check: the changed-count is an observed metric
        // on the SAME plan the eager localCheckpoint materializes — one
        // job per round (distances only tighten, so a null-safe ≠ against
        // the carried prev is exactly "progress")
        .observe(obs, sum(when(!(col("d") <=> col("prev")), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("node"), col("d"))
      // Resumable tier: the parquet commit is this round's single
      // materialization and lineage cut; otherwise the configured
      // Checkpoints tier cuts (both eager, so obs reports either way).
      val next = resumeDir match {
        case Some(rd) => graft.operators.IterResume.commitState(next0, rd, iter + 1)
        case None     => Checkpoints.truncate(next0)
      }
      changed = obs.get.getOrElse("changed", 0L) match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }
      dist.unpersist()
      dist = next
      iter += 1
      resumeDir.foreach { rd =>
        import s.implicits._
        graft.operators.IterResume.commitTrace(
          Seq((iter.toLong, changed)).toDF("round", "changed"), rd, iter)
      }
    }
    if (symCache != null) symCache.unpersist()
    dist.where(col("d").isNotNull)
      .select(col("node").as("l_partkey"), col("d").as("level"))
      .orderBy("l_partkey")
  }

  /** Deterministic A/B experiment readout: users split into two arms by
    * the portable Knuth multiplicative hash (engine-independent, no RNG
    * state), per-arm conversion (≥ 14 purchase events — a threshold the
    * fixture doesn't saturate) as exact integer counts and ppm rates,
    * and the 2×2 chi-square statistic computed ONCE at the end in
    * doubles with the identical expression in both engines. One
    * user-keyed aggregate (map-side combinable max) then a 4-cell
    * aggregate — the readout is O(1) output at any event volume. */
  def qAbtestChi2(s: SparkSession, d: String): DataFrame = {
    val arms = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .geq(14), 1L).otherwise(0L).as("converted"))
      .withColumn("arm",
        expr("((user_id % 2147483648) * 2654435761) % 4294967296 % 2"))
    arms.agg(
        sum(when(col("arm") === 0 && col("converted") === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("arm") === 0 && col("converted") === 1, 1L).otherwise(0L)).as("b"),
        sum(when(col("arm") === 1 && col("converted") === 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("arm") === 1 && col("converted") === 1, 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr(ppmDiv("b", "nullif(a + b, 0)")).as("rate0_ppm"),
        expr(ppmDiv("d", "nullif(c + d, 0)")).as("rate1_ppm"),
        expr("CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL " +
          "ELSE round(((a + b + c + d) * pow(CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c, 2)) / " +
          "((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d) * " +
          "(CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d)), 4) END").as("chi2"))
  }

  /** Prefix-duplicate detection: documents grouped by the md5 of their
    * first 16 normalized tokens — the cheap linear pass that catches
    * boilerplate-prefix and truncated-copy near-dups that full-text
    * fingerprints miss. One hash-partitioned window over the prefix
    * fingerprint (same discipline as [[qExactDedup]]); emits only
    * multi-member groups with the canonical (min) doc and group size. */
  def qPrefixDup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("pfp"))
    Tables.documents(s, d)
      .select(col("doc_id"), Ops.normalizeText(col("text")).as("t"))
      .where(col("t") =!= "")
      .select(col("doc_id"),
        md5(array_join(slice(split(col("t"), " "), 1, 16), " ")).as("pfp"))
      .select(col("doc_id"), col("pfp"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("grp_size"))
      .where(col("grp_size") >= 2)
      .select(col("doc_id"), col("canonical_id"), col("grp_size"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment dedup: pairs where ≥ 60% of the SMALLER
    * document's token set appears in the larger one — the
    * quote/excerpt/truncation case symmetric Jaccard under-scores. Same
    * df-capped posting-list expansion as [[qNgramJaccard]] (bounded
    * in-bucket pairs, no self-join), with the exact integer containment
    * `c·10⁶ div min(na, nb)` and a strict-size asymmetry filter. */
  def qContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).where(col("doc_id") % 50 === 0)
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(split(Ops.normalizeText(col("text")), " ")).as("token"))
      .where(col("token") =!= "").distinct()
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dft = tok.groupBy("lang", "token").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 1000))
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
      .where(col("na") =!= col("nb"))
      .select(col("id_a"), col("id_b"), col("c"), col("na"), col("nb"),
        expr(ppmDiv("c", "least(na, nb)")).as("containment_ppm"))
      .where(col("containment_ppm") >= 600000)
      .orderBy("id_a", "id_b")
  }

  /** Mann-Kendall trend test per order priority, entirely in exact
    * integers: monthly revenue cents first (map-side combinable, bounded
    * by the calendar), then the S statistic `Σ_{i<j} sign(x_j − x_i)`
    * with concordant/discordant/tie counts from the in-priority month
    * pair join — pairs are CALENDAR-bounded (months², independent of row
    * volume), so the quadratic stays O(1) at any data scale while the
    * scan stays linear. The classic nonparametric "is revenue trending"
    * readout, no distributional assumption, no floats. */
  def qMannKendall(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    monthly.as("i")
      .join(monthly.as("j"), col("i.o_orderpriority") === col("j.o_orderpriority") &&
        col("i.ym") < col("j.ym"))
      .groupBy(col("i.o_orderpriority").as("o_orderpriority"))
      .agg(
        sum(expr("CAST(sign(j.x - i.x) AS BIGINT)")).as("s_stat"),
        sum(when(col("j.x") > col("i.x"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("j.x") < col("i.x"), 1L).otherwise(0L)).as("discordant"),
        sum(when(col("j.x") === col("i.x"), 1L).otherwise(0L)).as("ties"),
        (count(lit(1))).as("n_pairs"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Incremental-ingest dedup: a NEW document batch (odd doc ids)
    * checked against the EXISTING corpus (even ids) by whole-text
    * fingerprint — the nightly-append primitive: `dup_of_corpus` from a
    * left join onto the corpus fingerprint index (min existing doc as
    * canonical), `dup_in_batch` from a first-wins window WITHIN the
    * batch. Both sides hash-partition on the fingerprint — one co-keyed
    * exchange each, no full-corpus rescan of anything but the bounded
    * fingerprint column. */
  def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    val corpus = fp.where(col("doc_id") % 2 === 0)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_canonical"))
    val batch = fp.where(col("doc_id") % 2 === 1)
    val w = Window.partitionBy(col("fp"))
    batch
      .withColumn("batch_first", min(col("doc_id")).over(w))
      .join(corpus, Seq("fp"), "left")
      .select(col("doc_id"),
        col("corpus_canonical"),
        when(col("corpus_canonical").isNotNull, 1L).otherwise(0L).as("dup_of_corpus"),
        when(col("doc_id") =!= col("batch_first"), 1L).otherwise(0L).as("dup_in_batch"))
      .orderBy("doc_id")
  }

  /** Last-observation-carried-forward imputation (LOCF): every event
    * annotated with its user's most recent PURCHASE value at that point
    * in time (null before the first purchase) — the sparse-feature
    * forward-fill of a training-data pipeline. `last(…, ignoreNulls)`
    * over a growing frame: one exchange + one sort per user, never the
    * O(rows²) following-frame scan; the value passes through untouched
    * (bit-identical doubles from the shared parquet). */
  def qLocfImpute(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w).as("last_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  /** TPC-H Q5 shape — local-supplier revenue per ASIA nation for 1997
    * orders: the full six-table star join with the co-nationality
    * constraint (customer and supplier in the SAME nation). All dims
    * (region→nation→customer key set, supplier) broadcast; the only
    * fact-fact shuffle is lineitem⋈orders on the order key; revenue is
    * exact integer cent-percents `price_c·(100−disc_pct)`. The classic
    * join-order stress test: Catalyst must push the region filter
    * through two dims before any fact touches the plan. */
  def qRegionalRevenue(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(asiaNations.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).as("revenue_cp"), count(lit(1)).as("n_lines"))
      .transform(ps(col("n_name")))
  }

  /** TPC-H Q10 shape — top-20 customers by revenue lost to returns
    * (returnflag R) among 1997-H1 orders, with their nation. Exact
    * integer cent-percent revenue; customer and nation dims broadcast
    * onto the one lineitem⋈orders shuffle; the bounded top-20 ranks by
    * TakeOrdered (revenue desc, custkey tie-break), never a global
    * sort. */
  def qReturnedCustomers(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-07-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = Tables.lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("rev")).as("revenue_cp"))
    rev
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("c_custkey")).limit(20)
  }

  /** TPC-H Q14 shape — promotional revenue share for 1997 shipments:
    * `promo_rev·10⁶ div total_rev` from two conditional sums in ONE
    * aggregate pass over the part-joined lineitem (part dim broadcast,
    * shipdate pushed to the scan). O(1) output; the share is the exact
    * two-step ppm division. */
  def qPromoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date"))
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))").as("rev"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L)).as("promo_cp"),
        sum(col("rev")).as("total_cp"))
      .select(col("promo_cp"), col("total_cp"),
        expr(ppmDiv("promo_cp", "total_cp")).as("promo_share_ppm"))

  /** Time-boxed funnel census: users completing view→click→purchase with
    * EACH step within 7 days of the previous
    * ([[graft.operators.EventAnalytics.funnelStagesWithin]] — one
    * actor-keyed shuffle, K-slot row-local fold, exact
    * timestamp+interval deadlines). The oracle states the equivalent
    * nested bounded-min joins; output is the O(1) per-stage completion
    * count. */
  def qFunnelBounded(s: SparkSession, d: String): DataFrame =
    EventAnalytics.funnelStagesWithin(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click", "purchase"), 7L * 86400L)
      .agg(count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click_7d"),
        count(col("t3")).as("n_purchase_7d"))

  /** Per-user discovery curve: how many DISTINCT event types the user
    * has seen up to each event — the scalable form of a running
    * COUNT(DISTINCT) window (which Spark rightly refuses): a
    * first-occurrence flag from a (user, type)-keyed row_number window,
    * then a running sum of flags over the (user)-keyed time order. Two
    * exchanges, both high-cardinality-keyed; state per row is one bit,
    * never a per-row distinct set. */
  def qDiscoveryCurve(s: SparkSession, d: String): DataFrame = {
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L).as("is_first"))
      .withColumn("types_seen", sum(col("is_first")).over(wRun))
      .select(col("user_id"), col("event_id"), col("types_seen"))
      .orderBy("user_id", "event_id")
  }

  /** Zone-map build: per 500-order batch (scalable two-phase global
    * numbering, no single-task window), the min/max order key, date
    * span, and cent range plus row count — the data-skipping statistics
    * a 100 TB table layout maintains per file/row-group so point and
    * range scans can prune without reading data. */
  def qZoneMap(s: SparkSession, d: String): DataFrame =
    Ops.runningSums(
        Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("day"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")),
        Nil, Seq("o_orderkey"), "rn" -> lit(1L))
      .groupBy(expr("(rn - 1) div 500 + 1").as("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("batch_id")

  /** Class-balanced undersampling: every event_type capped at the
    * MINORITY class size, members chosen by the deterministic Knuth-hash
    * order (portable, seedable, no RNG state) — the imbalance fix before
    * training a classifier. The bounded per-class count table and its
    * min ride a broadcast; selection is one class-keyed ranking window
    * over the hash order. Emits the per-class census (kept = min class
    * size for every class — the balance proof). */
  def qBalancedSample(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("h",
        expr("((event_id % 2147483648) * 2654435761) % 4294967296"))
    val minN = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("cap"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("event_id"))
    ev.crossJoin(broadcast(minN))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("cap"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("kept"), min(col("cap")).as("cap"),
        sum(col("h")).as("h_sum"))
      .transform(ps(col("event_type")))
  }

  /** Dedup yield report per source: documents in, unique fingerprints,
    * duplicate rows and ppm — the before/after census a 100 TB dedup
    * pass publishes. One fingerprint-grain aggregate (map-side
    * combinable count) re-aggregated to the bounded source key; the
    * fingerprint never leaves its hash partition unreduced. */
  def qDedupReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"),
        (sum(col("c")) - count(lit(1))).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_unique"), col("n_dups"),
        expr(ppmDiv("n_dups", "n_docs")).as("dup_ppm"))
      .transform(ps(col("source")))

  /** Theil–Sen robust trend per priority: the MEDIAN of all pairwise
    * monthly-revenue slopes, each slope lifted to the exact integer
    * surrogate `(Δcents·10⁶) div Δmonths` so the ranking is
    * engine-portable (no float ties). Pairs are calendar-bounded
    * (months², invariant to row volume); the median is the exact
    * (n+1)/2 order statistic by row_number — the breakdown-resistant
    * alternative to the least-squares slope of q_regr_trend. */
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        ((year(col("o_orderdate")) * 12) + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    val slopes = monthly.as("i")
      .join(monthly.as("j"), col("i.o_orderpriority") === col("j.o_orderpriority") &&
        col("i.m") < col("j.m"))
      .select(col("i.o_orderpriority").as("o_orderpriority"),
        expr(scaledDiv("(j.x - i.x)", "(j.m - i.m)", 1000L, 1000L)).as("slope"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("slope"), col("o_orderpriority"))
    slopes
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .where(col("rk") === expr("(n + 1) div 2"))
      .select(col("o_orderpriority"), col("slope").as("theil_sen_slope"),
        col("n").as("n_pairs"), col("rk").as("median_rank"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Lag-1 autocorrelation of monthly revenue per priority from exact
    * BIGINT moment sums over the lag-paired series (one lag window +
    * one bounded aggregate; the single Pearson division happens at the
    * end in doubles with the identical expression both engines) — the
    * "is this series momentum or noise" readout. Calendar-bounded
    * state; the scan stays one linear map-side aggregate. Units are
    * HUNDRED-dollar buckets (cents div 10⁴): `n·Σx²` must stay under
    * 2⁶³, and the coarse unit buys headroom to ~10¹² of monthly revenue
    * where cents would overflow at ~10⁷ (caught live by ANSI mode). */
  def qAutocorr(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(expr("sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) div 10000")
        .as("x"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("ym"))
    monthly
      .withColumn("xp", lag(col("x"), 1).over(w))
      .where(col("xp").isNotNull)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("xp")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("xp") * col("xp")).as("syy"),
        sum(col("x") * col("xp")).as("sxy"))
      .select(col("o_orderpriority"), col("n"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("d1"),
        expr("n * syy - sy * sy").as("d2"),
        expr("CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL " +
          "ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)) / " +
          "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) END")
          .as("r1"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Wald–Wolfowitz runs test inputs per priority: monthly revenue
    * classified above/below its per-priority MEDIAN (exact (n+1)/2
    * order statistic — no float percentile), then maximal same-side
    * runs counted as sign-change transitions + 1 via a lag window.
    * All exact integers over the calendar-bounded series; too many or
    * too few runs versus n⁺/n⁻ flags cycling or clustering. */
  def qRunsTest(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    val wRank = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("x"), col("ym"))
    val wpart = Window.partitionBy(col("o_orderpriority"))
    val med = monthly
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wpart))
      .where(col("rk") === expr("(n + 1) div 2"))
      .select(col("o_orderpriority"), col("x").as("median_x"))
    val wTime = Window.partitionBy(col("o_orderpriority")).orderBy(col("ym"))
    monthly.join(broadcast(med), Seq("o_orderpriority"))
      .withColumn("side", when(col("x") > col("median_x"), 1L).otherwise(0L))
      .withColumn("prev", lag(col("side"), 1).over(wTime))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("side")).as("n_above"),
        (sum(when(col("prev").isNotNull && col("side") =!= col("prev"), 1L)
          .otherwise(0L)) + 1L).as("n_runs"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Month-over-month revenue bridge (the BI waterfall): each month's
    * revenue change decomposed into NEW customers, REACTIVATED (gap >
    * 1 month), EXPANSION / CONTRACTION of returning customers vs their
    * prior month, and CHURN (prior-month actives gone this month) —
    * `Δrev = new + react + expansion − contraction − churn` holds
    * exactly in integer cents. One customer-keyed window (lag month,
    * lag cents, lead month — one Window node) over the (customer,
    * month) aggregate, then two calendar-bounded aggregates merged on
    * the month key. */
  def qRevenueBridge(s: SparkSession, d: String): DataFrame = {
    val cm = Tables.orders(s, d)
      .groupBy(col("o_custkey"),
        ((year(col("o_orderdate")) * 12) + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    val e = cm.select(col("o_custkey"), col("m"), col("cents"),
      lag(col("m"), 1).over(w).as("pm"),
      lag(col("cents"), 1).over(w).as("pc"),
      lead(col("m"), 1).over(w).as("nm"))
    val inflow = e.groupBy(col("m")).agg(
      sum(col("cents")).as("total_cents"),
      sum(when(col("pm").isNull, col("cents")).otherwise(0L)).as("new_cents"),
      sum(when(col("pm").isNotNull && col("pm") < col("m") - 1, col("cents"))
        .otherwise(0L)).as("react_cents"),
      sum(when(col("pm") === col("m") - 1 && col("cents") > col("pc"),
        col("cents") - col("pc")).otherwise(0L)).as("expansion_cents"),
      sum(when(col("pm") === col("m") - 1 && col("cents") < col("pc"),
        col("pc") - col("cents")).otherwise(0L)).as("contraction_cents"))
    val churn = e.where(col("nm").isNull || col("nm") =!= col("m") + 1)
      .select((col("m") + 1).as("m"), col("cents"))
      .groupBy(col("m")).agg(sum(col("cents")).as("churn_cents"))
    inflow.join(churn, Seq("m"), "left")
      .select(col("m"), col("total_cents"), col("new_cents"),
        col("react_cents"), col("expansion_cents"), col("contraction_cents"),
        coalesce(col("churn_cents"), lit(0L)).as("churn_cents"))
      .orderBy("m")
  }

  /** Heterogeneous treatment readout: exact distributed order-value
    * percentiles PER Knuth-hash experiment arm (the q_abtest_chi2
    * assignment) — two bounded rows, the distributional companion to
    * the scalar conversion test. Percentiles ride the pinned exact
    * two-round selection ([[graft.operators.Ops.exactPercentiles]]) —
    * over INTEGER CENTS at binary-exact quartile fractions (.25/.5/.75),
    * so the interpolation `lo + frac·(hi−lo)` is bit-identical in any
    * IEEE engine (a p90-style 0.9·(n−1) fraction is NOT binary-exact
    * and can flip the last cent — caught live by the oracle). */
  def qAbQuantiles(s: SparkSession, d: String): DataFrame = {
    val armed = Tables.orders(s, d)
      .select(expr("((o_custkey % 2147483648) * 2654435761) % 4294967296 % 2")
        .as("arm"),
        expr("CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS DOUBLE)").as("v"))
    Ops.exactPercentiles(armed, Seq("arm"), "v",
        Seq(("p25_c", 0.25), ("p50_c", 0.5), ("p75_c", 0.75)))
      .select(col("arm"), round(col("p25_c"), 2).as("p25_c"),
        round(col("p50_c"), 2).as("p50_c"), round(col("p75_c"), 2).as("p75_c"))
      .transform(ps(col("arm")))
  }

  /** Session-duration histogram: 24h-gap sessions per user (the
    * sessionize semantics), span measured min→max event (exact integer
    * µs — gap padding excluded so the islands-reconstruction oracle
    * states the identical number), bucketed into power-of-2 minutes
    * (−1 = single-event sessions). Bounded output (≤ 1 + log₂ span
    * buckets); the only exchange is the user-session key. */
  def qSessionLengths(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "24 hours"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(expr("(unix_micros(t1) - unix_micros(t0)) div 60000000").as("mins"))
    val bucket = (0 to 20).foldLeft(lit(-1L)) { (acc, b) =>
      when(col("mins") >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    spans.select(bucket.as("len_bucket"))
      .groupBy("len_bucket").agg(count(lit(1)).as("n_sessions"))
      .transform(ps(col("len_bucket")))
  }

  /** Exact 7-day rolling MEDIAN of daily revenue per priority — the
    * robust rolling baseline a spiky series needs where the rolling
    * mean chases outliers. The bounded (≤7-row) frame makes the exact
    * form cheap: collect the frame into a row-local array, sort it,
    * take the (n+1)/2-th element — all integers, no percentile
    * interpolation, state bounded by the frame length at any scale. */
  def qRollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list(col("x")).over(w)))
      .select(col("o_orderpriority"), col("day"),
        size(col("arr")).cast("long").as("n"),
        expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))").as("med_cents"))
      .orderBy("o_orderpriority", "day")
  }

  /** Benford first-digit profile of order totals (in cents): digit
    * counts and ppm shares against the 30.1%/17.6%/… expectation — the
    * classic fabricated-data screen, here as a data-quality primitive.
    * The first digit comes from the decimal string (no float log10);
    * one map-side-combinable 9-row aggregate. */
  def qBenford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .where(col("digit") >= 1)
    val total = digits.agg(count(lit(1)).as("n_total"))
    digits.groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("cnt"), col("n_total"),
        expr(ppmDiv("cnt", "n_total")).as("share_ppm"))
      .transform(ps(col("digit")))
  }

  /** Cohort LTV curves: customers cohorted by FIRST-order month, then
    * cumulative revenue per (cohort, month-offset) cell — the
    * lifetime-value grid a subscription/commerce business reads
    * horizontally. The first-order month is one customer-keyed min;
    * the grid is calendar²-bounded, and the cumulative sum runs over
    * the bounded offsets within each cohort. All exact integer cents. */
  def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    val om = Tables.orders(s, d)
      .select(col("o_custkey"),
        ((year(col("o_orderdate")) * 12) + month(col("o_orderdate")))
          .cast("long").as("m"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
    val cohort = om.groupBy(col("o_custkey")).agg(min(col("m")).as("c0"))
    val grid = om.join(cohort, Seq("o_custkey"))
      .groupBy(col("c0"), (col("m") - col("c0")).as("offset"))
      .agg(sum(col("cents")).as("cents"), count_distinct(col("o_custkey")).as("n_cust"))
    val w = Window.partitionBy(col("c0")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .select(col("c0").as("cohort_m"), col("offset"), col("n_cust"),
        col("cents"), col("cum_cents"))
      .orderBy("cohort_m", "offset")
  }

  /** Weighted median unit price per return flag (weight = quantity) —
    * computed scalably by collapsing to the (flag, DISTINCT cents)
    * weight table FIRST (map-side combinable; the running sum then runs
    * over value cardinality, not row count — the flag-grouped two-phase
    * [[graft.operators.Ops.runningSums]], so each flag's sum spreads over
    * its value buckets instead of one task per flag) and taking the first
    * value whose doubled cumulative weight reaches the total (the
    * weighted lower median — rank crossing inside a tie run resolves to
    * the same value under any order, so the min aggregate is
    * deterministic). The flag totals come straight from the scan (3 rows,
    * combined map-side), not from a second pass over the value table. */
  def qWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val qty = expr("CAST(round(l_quantity, 0) AS BIGINT)")
    val vw = li
      .groupBy(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .agg(sum(qty).as("wt"))
    val tot = li.groupBy("l_returnflag").agg(sum(qty).as("tot"))
    Ops.runningSums(vw.join(broadcast(tot), "l_returnflag"), Seq("l_returnflag"),
        Seq("cents"), "cum" -> col("wt"))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cents")).as("wmed_cents"), min(col("tot")).as("w_total"))
      .transform(ps(col("l_returnflag")))
  }

  /** 10%-trimmed mean price per return flag, exactly, without ranking
    * individual rows: collapse to the (flag, DISTINCT cents) count
    * table, then each value's kept multiplicity is the overlap of its
    * cumulative-rank interval with the kept band `(n/10, n − n/10]` —
    * `greatest(0, least(cum, hi) − greatest(cum − wt, lo))`. All
    * integer arithmetic to the final one-division mean; the robust-mean
    * companion to q_winsorize (drop vs clamp). The flag counts come
    * straight from the scan, as in [[qWeightedMedian]]. */
  def qTrimmedMean(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val vc = li
      .groupBy(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("wt"))
    val tot = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    Ops.runningSums(vc.join(broadcast(tot), "l_returnflag"), Seq("l_returnflag"),
        Seq("cents"), "cum" -> col("wt"))
      .withColumn("lo", expr("n div 10"))
      .withColumn("hi", expr("n - n div 10"))
      .withColumn("kept",
        greatest(lit(0L), least(col("cum"), col("hi")) -
          greatest(col("cum") - col("wt"), col("lo"))))
      .groupBy(col("l_returnflag"))
      .agg(min(col("n")).as("n_rows"), min(expr("hi - lo")).as("n_kept"),
        sum(col("cents") * col("kept")).as("trimmed_sum"))
      .select(col("l_returnflag"), col("n_rows"), col("n_kept"),
        col("trimmed_sum"),
        (expr(roundDiv("trimmed_sum", "n_kept", 10000L)).cast("double") / 10000.0)
          .as("trimmed_mean"))
      .transform(ps(col("l_returnflag")))
  }

  /** Statistical MODE of the quantity column per return flag (most
    * frequent value, ties → smallest): one map-side value-collapse then
    * a flag-keyed argmax window over value cardinality — the
    * categorical/discrete summary mean and median miss. */
  def qModeStat(s: SparkSession, d: String): DataFrame = {
    val vc = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"),
        expr("CAST(round(l_quantity, 0) AS BIGINT)").as("qty"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("freq").desc, col("qty"))
    vc.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("l_returnflag"), col("qty").as("mode_qty"), col("freq"))
      .transform(ps(col("l_returnflag")))
  }

  /** IQR outlier census per return flag: exact Q1/Q3 as cumulative-rank
    * crossings over the DISTINCT-cents weight table (`4·cum ≥ n` /
    * `4·cum ≥ 3n` — no interpolation), Tukey fences at 1.5·IQR in pure
    * integer arithmetic (`2·cents < 2·q1 − 3·iqr`), and the outlier
    * counts from one broadcast join of the 3-row fence table back onto
    * the collapsed values. Never ranks an individual row. The flag counts
    * come straight from the scan, as in [[qWeightedMedian]]. */
  def qIqrOutliers(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val vc = li
      .groupBy(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("wt"))
    val tot = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val cum = Ops.runningSums(vc.join(broadcast(tot), "l_returnflag"), Seq("l_returnflag"),
        Seq("cents"), "cum" -> col("wt"))
    val fences = cum.groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 4 >= col("n"), col("cents"))).as("q1"),
        min(when(col("cum") * 4 >= col("n") * 3, col("cents"))).as("q3"),
        min(col("n")).as("n"))
      .withColumn("iqr", col("q3") - col("q1"))
    vc.join(broadcast(fences), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("q1")).as("q1"), min(col("q3")).as("q3"),
        min(col("n")).as("n_rows"),
        sum(when(col("cents") * 2 < col("q1") * 2 - col("iqr") * 3, col("wt"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2 > col("q3") * 2 + col("iqr") * 3, col("wt"))
          .otherwise(0L)).as("n_high"))
      .transform(ps(col("l_returnflag")))
  }

  /** Calendar gap-filling with LINEAR interpolation: the daily revenue
    * series per priority densified over its full date span, missing
    * days filled as `prev + (next−prev)·(d−d_prev) div (d_next−d_prev)`
    * — exact integer interpolation between the nearest observed
    * neighbors (edges fall back to the available side). Both carries
    * are GROWING frames — forward on the day order, backward on the
    * REVERSE order — never the O(rows²) UnboundedFollowing re-scan; the
    * spine explodes from a 5-row span table. */
  def qGapInterp(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
    val spine = daily.groupBy(col("o_orderpriority"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("o_orderpriority"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wF = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy(col("o_orderpriority")).orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("o_orderpriority", "day"), "left")
      .withColumn("pv", last(col("x"), ignoreNulls = true).over(wF))
      .withColumn("pd", last(when(col("x").isNotNull, col("day")),
        ignoreNulls = true).over(wF))
      .withColumn("nv", last(col("x"), ignoreNulls = true).over(wB))
      .withColumn("nd", last(when(col("x").isNotNull, col("day")),
        ignoreNulls = true).over(wB))
      .select(col("o_orderpriority"), col("day"),
        when(col("x").isNotNull, 1L).otherwise(0L).as("observed"),
        when(col("x").isNotNull, col("x"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + expr(
            "((nv - pv) * CAST(datediff(day, pd) AS BIGINT)) div " +
              "CAST(datediff(nd, pd) AS BIGINT)"))
          .as("filled_cents"))
      .orderBy("o_orderpriority", "day")
  }

  /** Order-count distribution (TPC-H Q13 shape): how many customers
    * placed exactly k orders, INCLUDING the zero-order tail via a left
    * join from the customer universe onto the per-customer aggregate.
    * The heavy aggregate runs on orders alone (custkey-keyed, map-side
    * combinable); the distribution re-aggregate is bounded by the max
    * per-customer order count. */
  def qOrderCountDist(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(per, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy(col("n_orders")).agg(count(lit(1)).as("n_custs"))
      .transform(ps(col("n_orders")))
  }

  /** Min-price supplier per part (TPC-H Q2's argmin re-expressed on the
    * lineitem-derived offer catalog): the (part, supplier) offer table
    * collapses map-side to its min observed price in exact cents, the
    * per-part argmin is ONE min(struct) partial-mergeable aggregate
    * (ties → smallest suppkey; no window rank pass over the offers),
    * and the supplier dim broadcasts onto the O(parts) winner set. */
  def qMinPriceSupplier(s: SparkSession, d: String): DataFrame = {
    val offers = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
        .as("best_c"))
    val winners = offers
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("best_c"), col("l_suppkey"))).as("w"))
      .select(col("l_partkey"), col("w.l_suppkey").as("s_suppkey"),
        col("w.best_c").as("best_cents"))
    winners
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        Seq("s_suppkey"))
      .select(col("l_partkey"), col("s_suppkey"), col("s_name"), col("best_cents"))
      .orderBy("l_partkey")
  }

  /** Character-trigram profile per language: top-15 trigrams of the
    * normalized text by frequency (ties → trigram) — the below-token
    * signal language-ID and gibberish filters read. The trigram stream
    * is generated row-locally (sequence + transform, no join and no
    * token shuffle), counts combine map-side, and the ranking window
    * runs on the bounded (lang, distinct-trigram) table. */
  def qCharNgrams(s: SparkSession, d: String): DataFrame = {
    val norm = Tables.documents(s, d).select(col("lang"),
        Ops.normalizeText(col("text")).as("t"))
      .where(length(col("t")) >= 3)
    // r17 (guide §1.2 per-task work): substring(t, i, 3) on a UTF8String
    // seeks codepoint i from the start — O(i) per call, O(len²) per doc
    // across the transform. Split to a char array once (O(len)) and build
    // each trigram from three O(1) element_at lookups: same trigrams,
    // measured 2.33 s → 1.95 s min-of-3 at sf0.1 (oracle-identical at
    // sf0.01 and sf0.1, accents included).
    val tri = norm
      .select(col("lang"), expr("split(t, '')").as("ch"))
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(ch) - 2), i -> " +
          "concat(element_at(ch, i), element_at(ch, i + 1), element_at(ch, i + 2)))"))
        .as("tri"))
    val cnt = tri.groupBy("lang", "tri").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tri"))
    cnt.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 15)
      .orderBy("lang", "rk")
  }

  /** Inter-event arrival-gap distribution per event type: consecutive
    * same-user gaps in whole seconds (one user-keyed sort window, gap
    * attributed to the LATER event's type), collapsed to the
    * (type, DISTINCT gap) weight table, then exact p50/p90/max as
    * cumulative-rank crossings over VALUE cardinality — the
    * arrival-process summary capacity planning reads, never ranking
    * individual rows. */
  def qInterarrival(s: SparkSession, d: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wU))
      .where(col("prev_us").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) - prev_us) div 1000000").as("gap_s"))
    val vw = gaps.groupBy(col("event_type"), col("gap_s"))
      .agg(count(lit(1)).as("wt"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vw.withColumn("cum", sum(col("wt")).over(wOrd))
      .withColumn("n", sum(col("wt")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("gap_s"))).as("p50_s"),
        min(when(col("cum") * 10 >= col("n") * 9, col("gap_s"))).as("p90_s"),
        max(col("gap_s")).as("max_s"), min(col("n")).as("n_gaps"))
      .transform(ps(col("event_type")))
  }

  /** Embedding-norm outlier screen: each vector's squared L2 norm in
    * exact integer milli-unit quantization (Σ round(x·10³)² — row-local,
    * zero shuffle), coarsened to a BOUNDED grid (`div 10⁴` — the grid
    * spans max‖x‖²·dim/10⁴ cells regardless of corpus size), fenced
    * against the per-label median grid cell (rank crossing over the
    * bounded (label, cell) table, label-row broadcast back). Flags
    * > 2× / < ½× the median cell — the cheap corrupt-vector screen an
    * embedding pipeline runs before indexing; all integer, no sqrt. */
  def qNormOutliers(s: SparkSession, d: String): DataFrame = {
    val n2 = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        expr("aggregate(transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)), " +
          "0L, (acc, v) -> acc + v * v)").as("norm2_mu"))
      .withColumn("q", expr("norm2_mu div 10000"))
    val vw = n2.groupBy(col("label"), col("q")).agg(count(lit(1)).as("wt"))
    val wOrd = Window.partitionBy(col("label")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = vw.withColumn("cum", sum(col("wt")).over(wOrd))
      .withColumn("n", sum(col("wt")).over(Window.partitionBy(col("label"))))
      .groupBy(col("label"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("q"))).as("med_q"))
    n2.join(broadcast(med), Seq("label"))
      .select(col("vec_id"), col("label"), col("norm2_mu"), col("q"),
        when(col("q") > col("med_q") * 2, lit("high"))
          .when(col("q") * 2 < col("med_q"), lit("low"))
          .otherwise(lit("ok")).as("flag"))
      .orderBy("vec_id")
  }

  /** TPC-H Q22 shape: per nation, the count and balance total of "idle"
    * high-value customers — positive balance ABOVE the global
    * positive-average, who never placed an URGENT order (the fixture's
    * FK coverage is dense, so literal zero-order Q22 is empty; the
    * never-urgent predicate keeps the composed shape — scalar threshold
    * + anti-join + group — non-degenerate at every scale). The average
    * threshold never materializes as a double: the filter
    * cross-multiplies in exact cents (`c_cents · n_pos > sum_pos_cents`),
    * the 1-row stats broadcast, and the anti-join's priority filter is
    * pushed below the join. */
  def qIdleCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
      expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"))
    val stats = c.where(col("cents") > 0)
      .agg(sum(col("cents")).as("sum_pos"), count(lit(1)).as("n_pos"))
    c.crossJoin(broadcast(stats))
      .where(col("cents") * col("n_pos") > col("sum_pos"))
      .join(Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("bal_cents"))
      .transform(ps(col("c_nationkey")))
  }

  /** Cross-source duplicate leakage: for every source pair, how many
    * duplicated head fingerprints (md5 of the first 5 normalized tokens
    * — the prefix-dup signal, which unlike whole-document equality
    * actually fires across sources at every fixture scale) appear in
    * BOTH — the contamination matrix a training-data curator reads
    * before mixing sources. The pair expansion is per-fingerprint over
    * its DISTINCT source set (≤ |sources| rows per fp — bounded), an
    * equi-join on the fingerprint, never a corpus self-join. */
  def qCrossSourceDup(s: SparkSession, d: String): DataFrame = {
    val fs = Tables.documents(s, d)
      .select(md5(concat_ws(" ",
        slice(split(Ops.normalizeText(col("text")), " "), 1, 5))).as("fp"),
        col("source"))
      .distinct()
    fs.as("a").join(fs.as("b"), Seq("fp"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .transform(ps(col("source_a"), col("source_b")))
  }

  /** Seasonality index: each calendar month's exact-ppm share of its
    * priority's revenue (overflow-safe two-step long division, identical
    * in the oracle) — the month-of-year profile demand planning reads.
    * Calendar²-bounded output; one map-side-combined aggregate, one
    * 12-row-per-priority window. */
  def qSeasonalityIndex(s: SparkSession, d: String): DataFrame = {
    val m = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        month(col("o_orderdate")).cast("long").as("moy"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
    m.withColumn("tot",
        sum(col("cents")).over(Window.partitionBy(col("o_orderpriority"))))
      .select(col("o_orderpriority"), col("moy"), col("cents"),
        expr(ppmDiv("cents", "tot")).as("ppm"))
      .transform(ps(col("o_orderpriority"), col("moy")))
  }

  /** Snapshot diff (the read side of CDC): two deterministic order
    * snapshots — "old" drops every 7th key, "new" drops every 5th and
    * bumps every 3rd key's price — reconciled into added / removed /
    * changed / unchanged counts and the net cents delta. ONE full-outer
    * equi-join on the key (both sides co-partition on one exchange
    * each); the 4-row readout is what a warehouse emits as its change
    * manifest between loads. */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
    val old = o.where(expr("k % 7 != 0"))
      .select(col("k"), col("cents").as("old_c"))
    val nw = o.where(expr("k % 5 != 0")).select(col("k"),
      expr("cents + CASE WHEN k % 3 = 0 THEN 1000 ELSE 0 END").as("new_c"))
    old.join(nw, Seq("k"), "full_outer")
      .select(
        when(col("old_c").isNull, lit("added"))
          .when(col("new_c").isNull, lit("removed"))
          .when(col("old_c") === col("new_c"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("new_c"), lit(0L)) - coalesce(col("old_c"), lit(0L)))
          .as("delta"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("delta")).as("delta_cents"))
      .transform(ps(col("status")))
  }

  /** Burst-day detection: days whose event count exceeds 2× the mean of
    * the previous 7 OBSERVED days (integer cross-multiply
    * `n·7 > 2·trail`, full-window guard) per event type — the anomaly
    * screen an ops dashboard runs on arrival counts. The window frame is
    * row-bounded over the calendar-bounded daily table; nothing scans
    * raw events twice. */
  def qBurstDays(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily.withColumn("trail", sum(col("n")).over(w))
      .withColumn("trail_days", count(col("n")).over(w).cast("long"))
      .where(col("trail_days") === 7 && col("n") * 7 > col("trail") * 2)
      .select(col("event_type"), col("day"), col("n"), col("trail"))
      .orderBy("event_type", "day")
  }

  /** Max concurrent sessions per day — the classic sweep-line, made
    * distributed: 24 h-gap sessions become ±1 boundary deltas, deltas
    * collapse per INSTANT (map-side; same-instant start+end net out, a
    * stated half-open convention), and the global running concurrency is
    * the two-phase [[graft.operators.Ops.runningSums]] (equal-width
    * buckets over the instants' own µs range, in-plan bases + bucket-local
    * windows, never the single-task global window). Output: per day with
    * ≥1 boundary, the max concurrency reached at a boundary instant. */
  def qMaxConcurrency(s: SparkSession, d: String): DataFrame = {
    val sess = Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "24 hours"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("session_window.start")).as("t0"),
        unix_micros(col("session_window.end")).as("t1"))
    val bounds = sess.select(col("t0").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(col("t1").as("t"), lit(-1L).as("delta")))
      .groupBy("t").agg(sum(col("delta")).as("net"))
    Ops.runningSums(bounds, Nil, Seq("t"), "conc" -> col("net"))
      .select(expr("CAST(timestamp_micros(t) AS DATE)").as("day"), col("conc"))
      .groupBy("day")
      .agg(max(col("conc")).as("max_conc"), count(lit(1)).as("n_boundaries"))
      .orderBy("day")
  }

  /** Survivorship rules over the exact-dup clusters: the canonical
    * member is the HIGHEST-QUALITY one (longest normalized text, tie →
    * smallest doc_id) instead of [[qExactDedup]]'s arbitrary min-id —
    * the curation-policy layer a production dedup applies when it must
    * keep the best copy. One fp-keyed max(struct) aggregate
    * (partial-mergeable, no rank window over members) + an fp equi-join
    * back onto the corpus. */
  def qDedupSurvivorship(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"),
      length(Ops.normalizeText(col("text"))).cast("long").as("len"))
    val win = t.groupBy("fp")
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("fp"), col("w.len").as("best_len"),
        (-col("w.nid")).as("canonical_id"))
    t.join(win, Seq("fp"))
      .select(col("doc_id"), col("canonical_id"), col("best_len"),
        (col("doc_id") === col("canonical_id")).as("survives"))
      .orderBy("doc_id")
  }

  /** Growth accounting: every active (user, day) classified as NEW
    * (first-ever day), RETAINED (also active the previous calendar day),
    * RESURRECTED (seen before, but not yesterday) — plus the day's
    * CHURNED count (active yesterday, absent today, attributed to
    * today) — the DAU decomposition every product dashboard leads with.
    * One distinct (user, day) collapse (map-side), one user-keyed lag
    * window, calendar-bounded output; churn is the same lag read
    * forward (a user's next-day absence), never an anti-join per day. */
  def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val tagged = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val states = tagged.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
        sum(when(expr("prev = day - INTERVAL 1 DAY"), 1L).otherwise(0L))
          .as("retained"),
        sum(when(col("prev").isNotNull
          && expr("prev < day - INTERVAL 1 DAY"), 1L).otherwise(0L))
          .as("resurrected"))
    // churned on day D+1 = active on D with no activity on D+1
    val churn = tagged
      .where(col("next").isNull || expr("next > day + INTERVAL 1 DAY"))
      .select(expr("day + INTERVAL 1 DAY").cast("date").as("day"))
      .groupBy("day").agg(count(lit(1)).as("churned"))
    states.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy("day")
  }

  /** Quantile normalization of the event value — the rank-based feature
    * transform ML preprocessing applies when magnitudes are unreliable:
    * each event's value mapped to its exact global rank ppm
    * `(rank−1)·10⁶ div (n−1)` over the (cents, event_id) total order.
    * The rank is the two-phase scalable global row number
    * ([[graft.operators.Ops.runningSums]] as a running count — never the
    * single-task `row_number() OVER (ORDER BY …)`), the ppm is exact
    * integer arithmetic, and the output is row-bound (one row per
    * event). */
  def qQuantileNormalize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val ranked = Ops.runningSums(ev, Nil, Seq("cents", "event_id"), "rk" -> lit(1L))
    val total = ev.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(total))
      .select(col("event_id"), col("cents"),
        expr("CASE WHEN n_total = 1 THEN CAST(0 AS BIGINT) ELSE " +
          ppmDiv("(rk - 1)", "(n_total - 1)") + " END").as("rank_ppm"))
      .orderBy("event_id")
  }

  /** Engine-semantics pin for SIGNED integer division: every fixed-point
    * helper here (scaledDiv/roundDiv) and the k-means centroid
    * ([[graft.operators.Similarity]] kmeansStepPrecomputed) relies on
    * Spark's `div` and DuckDB's `//` BOTH truncating toward zero on
    * negative operands — previously asserted only in a code comment. This
    * bounded 25-row readout states the truncating quotient, remainder and
    * the sign-adjusted round-half-away-from-zero form over a signed value
    * grid (±137·k spans both signs and both rounding directions), so an
    * engine semantics change to floor division flips the hash and fails
    * the driver gate loudly instead of silently skewing boundary cells. */
  def qDivConvention(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"),
        ((col("n_nationkey") - lit(12)) * lit(137)).cast("long").as("v"))
      .select(col("n_nationkey"), col("v"),
        expr("v div 100").as("q_trunc"),
        expr("v % 100").as("r_trunc"),
        expr("(v + (CASE WHEN v < 0 THEN -50 ELSE 50 END)) div 100").as("q_half"))
      .orderBy("n_nationkey")

  /** Multimodal metadata summary on the driver board: a deterministic
    * media corpus derived from `documents` (the fixture carries no binary
    * column) — modality and duration keyed off `doc_id` ONLY, with the
    * text bytes standing in as the opaque `content` column — summarized by
    * [[graft.operators.Multimodal.metadataSummary]]. Because every
    * metadata column derives from `doc_id`, columnar pruning must reduce
    * the scan to the single `doc_id` column — `content` (the dominant
    * chunk at 100 TB) is never read, which the plan pin asserts via
    * ReadSchema. Output is bounded (3 modalities × 1 format each). */
  def qMediaSummary(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("kind"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' " +
        "ELSE 'mp4' END").as("format"),
      col("text").cast("binary").as("content"),
      expr("CASE doc_id % 3 WHEN 1 THEN 1000 + (doc_id % 11) * 500 " +
        "WHEN 2 THEN 4000 + (doc_id % 7) * 1000 ELSE 0 END").as("duration_ms"))
    graft.operators.Multimodal.metadataSummary(media)
      .transform(ps(col("kind"), col("format")))
  }

  /** Forecasting-revenue-change aggregate (TPC-H Q6 shape): total
    * discounted revenue that would be recovered by dropping discounts in a
    * band — one fully-pushed scan filter (shipdate year + quantity reach
    * the parquet scan as range predicates) into one map-side-combined
    * 1-row sum. Exactness: discount is compared and summed as 4-dp fixed
    * point (`d4 = round(l_discount·10⁴)` — the fixture's discounts are
    * exact 2-dp multiples, so d4 is exact), revenue accumulates in
    * 10⁻⁶-dollar units (cents · d4): per-row ≤ ~7·10⁹, so the int64 sum
    * has headroom to ~10⁹ qualifying rows (≈ sf150) — same documented
    * bound as Q1's micro-unit sum. */
  def qForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_discount * 10000, 0) AS BIGINT)").as("d4"))
      .where(col("d4").between(500L, 700L))
      .agg(sum(col("price_c") * col("d4")).as("revenue_u6"),
        count(lit(1)).as("n_lines"))

  /** Volume shipping between nations (TPC-H Q7 shape): bilateral
    * cross-border revenue by (supplier nation, customer nation, ship
    * year) — all nation pairs rather than Q7's two-literal filter so the
    * smallest fixture still exercises the shape (output stays bounded at
    * ≤ |nations|² × |years|). Join order is scale-honest: orders ⋈
    * customer is the one big-big shuffle (customer grows with SF — NOT
    * broadcast), lineitem then lands on the SAME `orderkey`
    * co-partitioning, and only the genuinely bounded supplier→nation
    * lookup broadcasts. Revenue in exact 10⁻⁶-dollar units
    * (cents · (10⁴ − d4)). */
  def qVolumeShipping(s: SparkSession, d: String): DataFrame = {
    val suppN = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
    val custN = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(custN, col("o_custkey") === col("c_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          (lit(10000L) - expr("CAST(round(l_discount * 10000, 0) AS BIGINT)")))
          .as("rev_u6"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(col("rev_u6")).as("revenue_u6"), count(lit(1)).as("n_lines"))
      .transform(ps(col("supp_nation"), col("cust_nation"), col("l_year")))

  }

  /** Discounted revenue for targeted (brand, size, quantity) segments
    * (TPC-H Q19 shape): a 3-arm disjunctive predicate over part
    * attributes × lineitem quantity. The part dimension pre-filters to
    * the 3 brands BEFORE broadcasting (the broadcast side is 3/25 of the
    * dim); the disjunction is evaluated post-join in one codegen stage;
    * the quantity range filter (covering all arms) is pushed to the fact
    * scan. Exact micro-unit revenue; 3-row output. */
  def qBrandQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val pt = Tables.part(s, d)
      .where(col("p_brand").isin("Brand#3", "Brand#9", "Brand#15"))
      .select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(s, d)
      .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          (lit(10000L) - expr("CAST(round(l_discount * 10000, 0) AS BIGINT)")))
          .as("rev_u6"))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("qty").between(1L, 11L)) ||
        (col("p_brand") === "Brand#9" && col("p_size").between(1, 25) &&
          col("qty").between(10L, 20L)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 35) &&
          col("qty").between(20L, 30L)))
      .groupBy(col("p_brand"))
      .agg(sum(col("rev_u6")).as("revenue_u6"), count(lit(1)).as("n_lines"))
      .transform(ps(col("p_brand")))
  }

  /** Power-of-2 document-length histogram per language — the corpus
    * length profile every training-data curation pass starts from. The
    * bucket bound is integer-exact (no float log2 whose exact-power
    * boundaries round differently per engine): a 21-row bucket table
    * [2^b, 2^(b+1)) broadcasts into a binned range join, then one
    * map-side-combined (lang, bucket) count. Scales as a linear scan —
    * the range join is against a CONSTANT 21-row side. */
  def qDocLenHist(s: SparkSession, d: String): DataFrame = {
    val buckets = s.range(0, 21).select(col("id").cast("long").as("b"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("lo"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id + 1 AS INT))").as("hi"))
    Tables.documents(s, d).select(col("lang"), col("n_chars"))
      .join(broadcast(buckets),
        col("n_chars") >= col("lo") && col("n_chars") < col("hi"))
      .groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .transform(ps(col("lang"), col("b")))
  }

  /** Language-mix matrix: per-source language distribution in exact ppm
    * — the dataset-composition report for a multilingual corpus. Two
    * map-side-combined aggregates over the SAME (source, lang) cells and
    * one broadcast of the bounded per-source totals; ppm via the
    * overflow-safe two-step integer division ([[scaledDiv]], restated
    * identically in the oracle). Output bounded at |sources|·|langs|. */
  def qLangMix(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    cells.join(broadcast(totals), Seq("source"))
      .withColumn("ppm", expr(scaledDiv("n", "tot", 1000L, 1000L)))
      .select(col("source"), col("lang"), col("n"), col("ppm"))
      .transform(ps(col("source"), col("lang")))
  }

  /** Deterministic round-robin source interleave — the training-order
    * layout step that stripes a mixed corpus so no source forms a run.
    * Per-source position = hash-order row number (a PARTITIONED window:
    * each source sorts its own rows, never a global single-task sort);
    * global position = (rn−1)·|sources| + source index, with the bounded
    * source-index table broadcast. Row-linear output, deterministic in
    * (doc_id, source) via the portable Knuth hash. */
  def qInterleave(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val srcIdx = docs.select("source").distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy()))
    val w = Window.partitionBy(col("source"))
      .orderBy(Ops.seededHash(col("doc_id"), 0L), col("doc_id"))
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(srcIdx), Seq("source"))
      .select(col("doc_id"), col("source"),
        ((col("rn") - 1L) * col("n_src") + col("src_idx")).as("pos"))
      .transform(ps(col("pos")))
  }

  /** LSH band-health statistics: the bucket-size distribution per minhash
    * band — the metric that says whether banding is splitting the corpus
    * into join-safe buckets or drifting toward quadratic blowup (the
    * thing [[graft.operators.TextOps.lshCandidatePairs]]'s maxBucket
    * guard defends against, here made observable). Signature build is the
    * linear minhash pass; each band's histogram is two map-side-combined
    * aggregates over (bucket) then (size); output is bounded by the
    * number of DISTINCT sizes per band. */
  def qBandStats(s: SparkSession, d: String): DataFrame = {
    val sig = TextOps.minhashSignatureMd5(Tables.documents(s, d), "doc_id", "text", 3, 4)
    (1 to 4).map { i =>
      sig.groupBy(col(s"mh$i").as("bucket")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_buckets"))
        .select(lit(i.toLong).as("band"), col("size"), col("n_buckets"))
    }.reduce(_ unionByName _)
      .transform(ps(col("band"), col("size")))
  }

  /** Order-priority check (TPC-H Q4 shape, adapted to the fixture's
    * columns — the reference schema's commit/receipt date pair is absent,
    * so "late" is DECLARED as a lineitem shipped more than 30 days after
    * its order date). One quarter of orders, each kept iff at least one
    * late line exists: a LEFT SEMI join on the order key with the date
    * residual evaluated inside the join — the correlated EXISTS rewritten
    * so lineitem is scanned ONCE, never re-scanned per order. The quarter
    * filter is pushed to the orders scan (pruning most of the probe before
    * the shuffle); the final aggregate is a bounded priority census. */
  def qOrderPriority(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate").cast("date") < lit("1996-04-01").cast("date"))
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("sd"))
    ord.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("sd") > date_add(col("od"), 30), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .transform(ps(col("o_orderpriority")))
  }

  /** Suppliers who kept orders waiting (TPC-H Q21 shape, adapted: "late"
    * = shipped more than 60 days after the order date, on finished
    * orders). The textbook form is TWO correlated EXISTS over lineitem
    * (another supplier exists / no other supplier was late) — three scans
    * of the fact; this is the one-pass aggregate rewrite: group the
    * finished-order fact once by order key, count distinct suppliers and
    * distinct LATE suppliers, and emit a blame row only when the order
    * had ≥2 suppliers and EXACTLY one was late (the max over the
    * late-supplier set is then that supplier). One fact shuffle on the
    * order key replaces both self-joins; the supplier dim broadcasts;
    * the top-10 is TakeOrderedAndProject with a total (numwait desc,
    * suppkey) order. */
  def qLateSuppliers(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("sd"))
    val perOrder = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("sd") > date_add(col("od"), 60)).as("late"))
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"),
        max(when(col("late"), col("l_suppkey"))).as("blame"))
    perOrder.where(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("blame").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        Seq("s_suppkey"))
      .select(col("s_name"), col("s_suppkey"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  /** Bollinger-band breach screen over the daily revenue series per order
    * priority: a day breaches when its revenue leaves the ±2σ band of its
    * trailing 7 OBSERVED days (itself excluded; at least 4 required). The
    * band test is exact integer arithmetic end to end — revenue quantizes
    * to hundred-dollar units (`rev_h`, int64 headroom past sf10³) and
    * `v ≷ μ ± 2σ` cross-multiplies to `sign(n·v − S)` plus
    * `(n·v − S)² > 4·(n·Σx² − S²)` — no sqrt, no float boundary for the
    * two engines to disagree on. The series is one calendar-bounded
    * aggregate; the window is priority-partitioned with a bounded ROWS
    * frame (constant state per row at any scale); output is breach rows
    * only. */
  def qBollinger(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("rev_c"))
      .select(col("o_orderpriority"), col("day"),
        expr("rev_c div 10000").as("rev_h"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("rev_h")).over(w))
      .withColumn("s2", sum(col("rev_h") * col("rev_h")).over(w))
      .where(col("n") >= 4)
      .withColumn("dev", col("n") * col("rev_h") - col("s"))
      .withColumn("var4", lit(4L) * (col("n") * col("s2") - col("s") * col("s")))
      .where(col("dev") =!= 0L && col("dev") * col("dev") > col("var4"))
      .select(col("o_orderpriority"), col("day"), col("rev_h"),
        col("n").as("win_n"),
        when(col("dev") > 0, lit("hi")).otherwise(lit("lo")).as("band"))
      .transform(ps(col("o_orderpriority"), col("day")))
  }

  /** Retrieval-quality NDCG@10: ten probe vectors score the candidate
    * corpus by cosine, relevance = label agreement, and each probe gets
    * its normalized discounted cumulative gain — the ranking-eval metric
    * a similarity-search index is tuned against. Ranking is by the
    * ROUNDED similarity with a vec_id tie-break (the q_cosine_topk
    * determinism convention, so both engines rank identically); the
    * log2 discount and the final NDCG are continuous doubles rounded at
    * presentation (measure-zero boundary risk). The probe side is a
    * 10-row broadcast; candidates are scanned once and the per-probe
    * top-10 is a rank window under the probe key — candidate×probe rows
    * never shuffle more than once. IDCG folds over sequence(1, n_rel)
    * row-locally (guarded: n_rel = 0 → NDCG 0). */
  def qNdcg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("simr").desc, col("vec_id"))
    emb.where(col("vec_id") >= 10)
      .crossJoin(broadcast(probes))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(cosine_sim(col("embedding"), col("q_emb")), 4).as("simr"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .withColumn("rel",
        when(col("label") === col("q_label"), 1.0).otherwise(0.0))
      .groupBy("q_id")
      .agg(sum(col("rel") / log2(col("rank").cast("double") + 1.0)).as("dcg"),
        sum(col("rel")).cast("long").as("n_rel"))
      .withColumn("idcg", when(col("n_rel") > 0,
        expr("aggregate(sequence(1L, n_rel), CAST(0 AS DOUBLE), " +
          "(acc, i) -> acc + CAST(1 AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0))"))
        .otherwise(lit(1.0)))
      .select(col("q_id"), col("n_rel"), round(col("dcg"), 4).as("dcg"),
        when(col("n_rel") === 0, 0.0)
          .otherwise(round(col("dcg") / col("idcg"), 4)).as("ndcg"))
      .transform(ps(col("q_id")))
  }

  private[graft] val registrySketch: Map[String, Q] = Map(
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_graph_components" -> (qGraphComponents _),
    "q_fk_audit" -> (qFkAudit _),
    "q_skew_profile" -> (qSkewProfile _),
    "q_dataset_card" -> (qDatasetCard _),
    "q_ndv_stats" -> (qNdvStats _),
    "q_bfs_levels" -> (qBfsLevels _),
    "q_abtest_chi2" -> (qAbtestChi2 _),
    "q_prefix_dup" -> (qPrefixDup _),
    "q_containment" -> (qContainment _),
    "q_mann_kendall" -> (qMannKendall _),
    "q_incremental_dedup" -> (qIncrementalDedup _),
    "q_locf_impute" -> (qLocfImpute _),
    "q_regional_revenue" -> (qRegionalRevenue _),
    "q_returned_customers" -> (qReturnedCustomers _),
    "q_promo_share" -> (qPromoShare _),
    "q_funnel_bounded" -> (qFunnelBounded _),
    "q_discovery_curve" -> (qDiscoveryCurve _),
    "q_zone_map" -> (qZoneMap _),
    "q_balanced_sample" -> (qBalancedSample _),
    "q_dedup_report" -> (qDedupReport _),
    "q_theil_sen" -> (qTheilSen _),
    "q_autocorr" -> (qAutocorr _),
    "q_runs_test" -> (qRunsTest _),
    "q_revenue_bridge" -> (qRevenueBridge _),
    "q_ab_quantiles" -> (qAbQuantiles _),
    "q_session_lengths" -> (qSessionLengths _),
    "q_rolling_median" -> (qRollingMedian _),
    "q_benford" -> (qBenford _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_weighted_median" -> (qWeightedMedian _),
    "q_trimmed_mean" -> (qTrimmedMean _),
    "q_mode_stat" -> (qModeStat _),
    "q_iqr_outliers" -> (qIqrOutliers _),
    "q_gap_interp" -> (qGapInterp _),
    "q_order_count_dist" -> (qOrderCountDist _),
    "q_min_price_supplier" -> (qMinPriceSupplier _),
    "q_char_ngrams" -> (qCharNgrams _),
    "q_interarrival" -> (qInterarrival _),
    "q_norm_outliers" -> (qNormOutliers _),
    "q_idle_customers" -> (qIdleCustomers _),
    "q_cross_source_dup" -> (qCrossSourceDup _),
    "q_seasonality_index" -> (qSeasonalityIndex _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_burst_days" -> (qBurstDays _),
    "q_max_concurrency" -> (qMaxConcurrency _),
    "q_dedup_survivorship" -> (qDedupSurvivorship _),
    "q_growth_accounting" -> (qGrowthAccounting _),
    "q_quantile_normalize" -> (qQuantileNormalize _),
    "q_div_convention" -> (qDivConvention _),
    "q_media_summary" -> (qMediaSummary _),
    "q_forecast_revenue" -> (qForecastRevenue _),
    "q_volume_shipping" -> (qVolumeShipping _),
    "q_brand_qty_revenue" -> (qBrandQtyRevenue _),
    "q_doc_len_hist" -> (qDocLenHist _),
    "q_lang_mix" -> (qLangMix _),
    "q_interleave" -> (qInterleave _),
    "q_band_stats" -> (qBandStats _),
    "q_order_priority" -> (qOrderPriority _),
    "q_late_suppliers" -> (qLateSuppliers _),
    "q_bollinger" -> (qBollinger _),
    "q_ndcg" -> (qNdcg _),
  )

  private[graft] val oraclesSketch: Map[String, String] = Map(
    "q_heavy_hitters" ->
      (TP_TOK_CTE +
        ", t AS (SELECT count(*) AS n FROM tok), " +
        "c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1) " +
        "SELECT token, cnt, n AS total, " + ppmDivSql("cnt", "n") + " AS share_ppm " +
        "FROM c CROSS JOIN t WHERE cnt * 200 >= n ORDER BY cnt DESC, token"),
    "q_graph_components" ->
      ("WITH RECURSIVE " +
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e), " +
        "r(node, reach) AS (SELECT src, src FROM (SELECT DISTINCT src FROM sym) " +
        "UNION SELECT r.node, s.dst FROM r JOIN sym s ON r.reach = s.src), " +
        "cc AS (SELECT node, min(reach) AS component FROM r GROUP BY node), " +
        "sz AS (SELECT component, count(*) AS csize FROM cc GROUP BY 1) " +
        "SELECT node AS l_partkey, component, csize FROM cc JOIN sz USING (component) " +
        "ORDER BY l_partkey"),
    "q_fk_audit" ->
      ("WITH rels AS (" +
        "SELECT 'orders->customer' AS relation, count(*) AS n_child, " +
        "CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan " +
        "FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p ON o_custkey = c_custkey " +
        "UNION ALL SELECT 'lineitem->orders', count(*), " +
        "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p ON l_orderkey = o_orderkey " +
        "UNION ALL SELECT 'lineitem->part', count(*), " +
        "CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l_partkey = p_partkey " +
        "UNION ALL SELECT 'lineitem->supplier', count(*), " +
        "CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) p ON l_suppkey = s_suppkey " +
        "UNION ALL SELECT 'customer->nation', count(*), " +
        "CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p ON c_nationkey = n_nationkey " +
        "UNION ALL SELECT 'supplier->nation', count(*), " +
        "CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM supplier LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p ON s_nationkey = n_nationkey) " +
        "SELECT relation, n_child, n_orphan, " + ppmDivSql("n_orphan", "n_child") +
        " AS orphan_ppm FROM rels ORDER BY relation"),
    "q_skew_profile" ->
      ("WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1), " +
        "b AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
        "max(cnt) AS max_cnt FROM c) " +
        "SELECT l_orderkey, cnt, n_keys, n_rows, " +
        ppmDivSql("cnt", "n_rows") + " AS share_ppm, " +
        "(max_cnt * n_keys * 1000000) // n_rows AS skew_factor_ppm " +
        "FROM c CROSS JOIN b ORDER BY cnt DESC, l_orderkey LIMIT 20"),
    "q_ndv_stats" ->
      ("WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_l_orderkey, CAST(count(*) - count(l_orderkey) AS BIGINT) AS nn_l_orderkey, CAST(min(l_orderkey) AS VARCHAR) AS mn_l_orderkey, CAST(max(l_orderkey) AS VARCHAR) AS mx_l_orderkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_l_partkey, CAST(count(*) - count(l_partkey) AS BIGINT) AS nn_l_partkey, CAST(min(l_partkey) AS VARCHAR) AS mn_l_partkey, CAST(max(l_partkey) AS VARCHAR) AS mx_l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_l_suppkey, CAST(count(*) - count(l_suppkey) AS BIGINT) AS nn_l_suppkey, CAST(min(l_suppkey) AS VARCHAR) AS mn_l_suppkey, CAST(max(l_suppkey) AS VARCHAR) AS mx_l_suppkey, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_l_returnflag, CAST(count(*) - count(l_returnflag) AS BIGINT) AS nn_l_returnflag, CAST(min(l_returnflag) AS VARCHAR) AS mn_l_returnflag, CAST(max(l_returnflag) AS VARCHAR) AS mx_l_returnflag, CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd_l_linestatus, CAST(count(*) - count(l_linestatus) AS BIGINT) AS nn_l_linestatus, CAST(min(l_linestatus) AS VARCHAR) AS mn_l_linestatus, CAST(max(l_linestatus) AS VARCHAR) AS mx_l_linestatus, CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT) AS nd_l_shipdate, CAST(count(*) - count(CAST(l_shipdate AS DATE)) AS BIGINT) AS nn_l_shipdate, CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mn_l_shipdate, CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mx_l_shipdate FROM lineitem) SELECT * FROM (SELECT 'l_orderkey' AS col, n_rows, nn_l_orderkey AS n_nulls, nd_l_orderkey AS ndv, mn_l_orderkey AS min_val, mx_l_orderkey AS max_val FROM a UNION ALL SELECT 'l_partkey' AS col, n_rows, nn_l_partkey AS n_nulls, nd_l_partkey AS ndv, mn_l_partkey AS min_val, mx_l_partkey AS max_val FROM a UNION ALL SELECT 'l_suppkey' AS col, n_rows, nn_l_suppkey AS n_nulls, nd_l_suppkey AS ndv, mn_l_suppkey AS min_val, mx_l_suppkey AS max_val FROM a UNION ALL SELECT 'l_returnflag' AS col, n_rows, nn_l_returnflag AS n_nulls, nd_l_returnflag AS ndv, mn_l_returnflag AS min_val, mx_l_returnflag AS max_val FROM a UNION ALL SELECT 'l_linestatus' AS col, n_rows, nn_l_linestatus AS n_nulls, nd_l_linestatus AS ndv, mn_l_linestatus AS min_val, mx_l_linestatus AS max_val FROM a UNION ALL SELECT 'l_shipdate' AS col, n_rows, nn_l_shipdate AS n_nulls, nd_l_shipdate AS ndv, mn_l_shipdate AS min_val, mx_l_shipdate AS max_val FROM a) ORDER BY col"),
    "q_dataset_card" ->
      (TP_TOK_CTE +
        ", ds AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = '' " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_empty, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM documents GROUP BY 1), " +
        "tt AS (SELECT source, shingle_token AS token, count(*) AS c FROM " +
        "(SELECT source, token AS shingle_token FROM tok) GROUP BY 1, 2), " +
        "ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens, " +
        "count(*) AS n_types FROM tt GROUP BY 1) " +
        "SELECT ds.source AS source, n_docs, n_empty, n_langs, " +
        "coalesce(total_tokens, 0) AS total_tokens, " +
        "coalesce(n_types, 0) AS n_types, " +
        ppmDivSql("coalesce(total_tokens, 0)", "n_docs") + " AS mean_len_ppm " +
        "FROM ds LEFT JOIN ts ON ds.source = ts.source ORDER BY source"),
    "q_bfs_levels" ->
      ("WITH RECURSIVE " +
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
        "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "sym AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e), " +
        "dg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1), " +
        "seedq AS (SELECT src FROM dg ORDER BY deg DESC, src LIMIT 1), " +
        "r(node, dd) AS (SELECT src, CAST(0 AS BIGINT) FROM seedq " +
        "UNION SELECT s.dst, r.dd + 1 FROM r JOIN sym s ON r.node = s.src WHERE r.dd < 15) " +
        "SELECT node AS l_partkey, CAST(min(dd) AS BIGINT) AS level FROM r " +
        "GROUP BY node ORDER BY l_partkey"),
    "q_abtest_chi2" ->
      ("WITH u AS (SELECT user_id, " +
        "CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 " +
        "THEN 1 ELSE 0 END AS converted " +
        "FROM events GROUP BY 1), " +
        "arms AS (SELECT ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 AS arm, " +
        "converted FROM u), " +
        "cells AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN arm = 1 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d " +
        "FROM arms) " +
        "SELECT a, b, c, d, " +
        ppmDivSql("b", "(a + b)") + " AS rate0_ppm, " +
        ppmDivSql("d", "(c + d)") + " AS rate1_ppm, " +
        "CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL " +
        "ELSE round(((a + b + c + d) * pow(CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c, 2)) / " +
        "((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d) * " +
        "(CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d)), 4) END AS chi2 " +
        "FROM cells"),
    "q_prefix_dup" ->
      ("WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents), " +
        "f AS (SELECT doc_id, md5(array_to_string(list_slice(string_split(t, ' '), 1, 16), ' ')) AS pfp " +
        "FROM n WHERE t <> ''), " +
        "g AS (SELECT doc_id, pfp, min(doc_id) OVER (PARTITION BY pfp) AS canonical_id, " +
        "CAST(count(*) OVER (PARTITION BY pfp) AS BIGINT) AS grp_size FROM f) " +
        "SELECT doc_id, canonical_id, grp_size FROM g WHERE grp_size >= 2 ORDER BY doc_id"),
    "q_containment" ->
      ("WITH d0 AS (SELECT * FROM documents WHERE doc_id % 50 = 0), " +
        "n AS (SELECT doc_id, lang, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM d0), " +
        "tok AS (SELECT DISTINCT doc_id, lang, unnest(string_split(t, ' ')) AS token FROM n WHERE t <> ''), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1), " +
        "dft AS (SELECT lang, token FROM (SELECT lang, token, count(*) AS df FROM tok GROUP BY 1, 2) " +
        "WHERE df BETWEEN 2 AND 1000), " +
        "inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS c " +
        "FROM tok x JOIN dft USING (lang, token) JOIN tok y " +
        "ON x.lang = y.lang AND x.token = y.token AND x.doc_id < y.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT id_a, id_b, c, na, nb, " + ppmDivSql("c", "least(na, nb)") + " AS containment_ppm " +
        "FROM inter JOIN (SELECT doc_id AS id_a, sz AS na FROM sz) USING (id_a) " +
        "JOIN (SELECT doc_id AS id_b, sz AS nb FROM sz) USING (id_b) " +
        "WHERE na <> nb AND " + ppmDivSql("c", "least(na, nb)") + " >= 600000 " +
        "ORDER BY id_a, id_b"),
    "q_mann_kendall" ->
      ("WITH m AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS ym, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT i.o_orderpriority AS o_orderpriority, " +
        "CAST(sum(CAST(sign(j.x - i.x) AS BIGINT)) AS BIGINT) AS s_stat, " +
        "CAST(sum(CASE WHEN j.x > i.x THEN 1 ELSE 0 END) AS BIGINT) AS concordant, " +
        "CAST(sum(CASE WHEN j.x < i.x THEN 1 ELSE 0 END) AS BIGINT) AS discordant, " +
        "CAST(sum(CASE WHEN j.x = i.x THEN 1 ELSE 0 END) AS BIGINT) AS ties, " +
        "count(*) AS n_pairs " +
        "FROM m i JOIN m j ON i.o_orderpriority = j.o_orderpriority AND i.ym < j.ym " +
        "GROUP BY 1 ORDER BY 1"),
    "q_incremental_dedup" ->
      ("""WITH fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f FROM documents), """ +
        "corpus AS (SELECT f, min(doc_id) AS corpus_canonical FROM fp WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "batch AS (SELECT doc_id, f, min(doc_id) OVER (PARTITION BY f) AS batch_first " +
        "FROM fp WHERE doc_id % 2 = 1) " +
        "SELECT doc_id, corpus_canonical, " +
        "CAST(CASE WHEN corpus_canonical IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS dup_of_corpus, " +
        "CAST(CASE WHEN doc_id <> batch_first THEN 1 ELSE 0 END AS BIGINT) AS dup_in_batch " +
        "FROM batch LEFT JOIN corpus USING (f) ORDER BY doc_id"),
    "q_locf_impute" ->
      ("SELECT user_id, event_id, event_type, " +
        "last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value " +
        "FROM events ORDER BY user_id, event_id"),
    "q_regional_revenue" ->
      ("WITH an AS (SELECT n_nationkey, n_name FROM nation JOIN region " +
        "ON n_regionkey = r_regionkey WHERE r_name = 'ASIA') " +
        "SELECT n_name, CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_cp, " +
        "count(*) AS n_lines " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN an ON c_nationkey = an.n_nationkey " +
        "WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01' " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_returned_customers" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_cp " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= DATE '1997-01-01' " +
        "AND o_orderdate < DATE '1997-07-01' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_cp DESC, c_custkey LIMIT 20"),
    "q_promo_share" ->
      ("WITH r AS (SELECT " +
        "CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_cp, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS total_cp " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01') " +
        "SELECT promo_cp, total_cp, " + ppmDivSql("promo_cp", "total_cp") +
        " AS promo_share_ppm FROM r"),
    "q_funnel_bounded" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL 604800 SECOND " +
        "GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL 604800 SECOND " +
        "GROUP BY e.user_id) " +
        "SELECT (SELECT count(*) FROM s1) AS n_view, " +
        "(SELECT count(*) FROM s2) AS n_click_7d, " +
        "(SELECT count(*) FROM s3) AS n_purchase_7d"),
    "q_discovery_curve" ->
      ("WITH f AS (SELECT user_id, event_id, ts, " +
        "CASE WHEN row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first FROM events) " +
        "SELECT user_id, event_id, CAST(sum(is_first) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS types_seen " +
        "FROM f ORDER BY user_id, event_id"),
    "q_zone_map" ->
      ("WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500) AS BIGINT) + 1 AS batch_id " +
        "FROM orders) " +
        "SELECT batch_id, count(*) AS n_rows, min(o_orderkey) AS min_key, " +
        "max(o_orderkey) AS max_key, min(day) AS min_day, max(day) AS max_day, " +
        "min(cents) AS min_cents, max(cents) AS max_cents " +
        "FROM b GROUP BY 1 ORDER BY 1"),
    "q_balanced_sample" ->
      ("WITH ev AS (SELECT event_type, event_id, " +
        "((event_id % 2147483648) * 2654435761) % 4294967296 AS h FROM events), " +
        "cap AS (SELECT CAST(min(n) AS BIGINT) AS cap FROM " +
        "(SELECT event_type, count(*) AS n FROM ev GROUP BY 1)), " +
        "r AS (SELECT event_type, h, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY h, event_id) AS rk FROM ev) " +
        "SELECT event_type, count(*) AS kept, min(cap) AS cap, " +
        "CAST(sum(h) AS BIGINT) AS h_sum " +
        "FROM r CROSS JOIN cap WHERE rk <= cap GROUP BY 1 ORDER BY 1"),
    "q_dedup_report" ->
      ("""WITH fp AS (SELECT source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f FROM documents), """ +
        "g AS (SELECT source, f, count(*) AS c FROM fp GROUP BY 1, 2), " +
        "r AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_unique, " +
        "CAST(sum(c) - count(*) AS BIGINT) AS n_dups FROM g GROUP BY 1) " +
        "SELECT source, n_docs, n_unique, n_dups, " + ppmDivSql("n_dups", "n_docs") +
        " AS dup_ppm FROM r ORDER BY source"),
    "q_theil_sen" ->
      ("WITH m AS (SELECT o_orderpriority, " +
        "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM orders GROUP BY 1, 2), " +
        "sl AS (SELECT i.o_orderpriority, " +
        scaledDivSql("(j.x - i.x)", "(j.m - i.m)", 1000L, 1000L) + " AS slope " +
        "FROM m i JOIN m j ON i.o_orderpriority = j.o_orderpriority AND i.m < j.m), " +
        "r AS (SELECT o_orderpriority, slope, " +
        "CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY slope, o_orderpriority) AS BIGINT) AS rk, " +
        "CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n FROM sl) " +
        "SELECT o_orderpriority, slope AS theil_sen_slope, n AS n_pairs, rk AS median_rank " +
        "FROM r WHERE rk = (n + 1) // 2 ORDER BY o_orderpriority"),
    "q_autocorr" ->
      ("WITH m AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS ym, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 10000 AS x " +
        "FROM orders GROUP BY 1, 2), " +
        "l AS (SELECT o_orderpriority, x, lag(x) OVER " +
        "(PARTITION BY o_orderpriority ORDER BY ym) AS xp FROM m), " +
        "a AS (SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(xp) AS BIGINT) AS sy, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(xp * xp) AS BIGINT) AS syy, " +
        "CAST(sum(x * xp) AS BIGINT) AS sxy FROM l WHERE xp IS NOT NULL GROUP BY 1) " +
        "SELECT o_orderpriority, n, n * sxy - sx * sy AS num, " +
        "n * sxx - sx * sx AS d1, n * syy - sy * sy AS d2, " +
        "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL " +
        "ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r1 " +
        "FROM a ORDER BY o_orderpriority"),
    "q_runs_test" ->
      ("WITH m AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS ym, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM orders GROUP BY 1, 2), " +
        "r AS (SELECT o_orderpriority, ym, x, " +
        "CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY x, ym) AS BIGINT) AS rk, " +
        "CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n FROM m), " +
        "md AS (SELECT o_orderpriority, x AS median_x FROM r WHERE rk = (n + 1) // 2), " +
        "sd AS (SELECT m.o_orderpriority, ym, " +
        "CASE WHEN x > median_x THEN 1 ELSE 0 END AS side FROM m JOIN md USING (o_orderpriority)), " +
        "lg AS (SELECT o_orderpriority, side, lag(side) OVER " +
        "(PARTITION BY o_orderpriority ORDER BY ym) AS prev FROM sd) " +
        "SELECT o_orderpriority, count(*) AS n_months, " +
        "CAST(sum(side) AS BIGINT) AS n_above, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND side <> prev THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs " +
        "FROM lg GROUP BY 1 ORDER BY 1"),
    "q_revenue_bridge" ->
      ("WITH cm AS (SELECT o_custkey, CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1, 2), " +
        "e AS (SELECT o_custkey, m, cents, " +
        "lag(m) OVER w AS pm, lag(cents) OVER w AS pc, lead(m) OVER w AS nm " +
        "FROM cm WINDOW w AS (PARTITION BY o_custkey ORDER BY m)), " +
        "inflow AS (SELECT m, CAST(sum(cents) AS BIGINT) AS total_cents, " +
        "CAST(sum(CASE WHEN pm IS NULL THEN cents ELSE 0 END) AS BIGINT) AS new_cents, " +
        "CAST(sum(CASE WHEN pm IS NOT NULL AND pm < m - 1 THEN cents ELSE 0 END) AS BIGINT) AS react_cents, " +
        "CAST(sum(CASE WHEN pm = m - 1 AND cents > pc THEN cents - pc ELSE 0 END) AS BIGINT) AS expansion_cents, " +
        "CAST(sum(CASE WHEN pm = m - 1 AND cents < pc THEN pc - cents ELSE 0 END) AS BIGINT) AS contraction_cents " +
        "FROM e GROUP BY 1), " +
        "churn AS (SELECT m + 1 AS m, CAST(sum(cents) AS BIGINT) AS churn_cents " +
        "FROM e WHERE nm IS NULL OR nm <> m + 1 GROUP BY 1) " +
        "SELECT m, total_cents, new_cents, react_cents, expansion_cents, " +
        "contraction_cents, coalesce(churn_cents, 0) AS churn_cents " +
        "FROM inflow LEFT JOIN churn USING (m) ORDER BY m"),
    "q_ab_quantiles" ->
      ("WITH a AS (SELECT ((o_custkey % 2147483648) * 2654435761) % 4294967296 % 2 AS arm, " +
        "CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS DOUBLE) AS v FROM orders) " +
        "SELECT arm, round(quantile_cont(v, 0.25), 2) AS p25_c, " +
        "round(quantile_cont(v, 0.5), 2) AS p50_c, " +
        "round(quantile_cont(v, 0.75), 2) AS p75_c " +
        "FROM a GROUP BY arm ORDER BY arm"),
    "q_session_lengths" ->
      ("WITH o AS (SELECT user_id, ts, lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM events), " +
        // session_window is half-open: an event exactly 24h after the
        // previous one starts a NEW session → the islands break is `>=`
        "f AS (SELECT user_id, ts, CASE WHEN pts IS NULL OR " +
        "ts >= pts + INTERVAL 24 HOUR THEN 1 ELSE 0 END AS brk FROM o), " +
        "sid AS (SELECT user_id, ts, CAST(sum(brk) OVER " +
        "(PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess FROM f), " +
        "sp AS (SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS mins " +
        "FROM sid GROUP BY user_id, sess), " +
        "b AS (SELECT " +
        (0 to 20).reverse.map(b => s"WHEN mins >= ${1L << b} THEN $b")
          .mkString("CASE ", " ", " ELSE -1 END") +
        " AS len_bucket FROM sp) " +
        "SELECT CAST(len_bucket AS BIGINT) AS len_bucket, count(*) AS n_sessions " +
        "FROM b GROUP BY 1 ORDER BY 1"),
    "q_rolling_median" ->
      ("WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM orders GROUP BY 1, 2), " +
        "f AS (SELECT o_orderpriority, day, list_sort(list(x) OVER " +
        "(PARTITION BY o_orderpriority ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr FROM daily) " +
        "SELECT o_orderpriority, day, CAST(len(arr) AS BIGINT) AS n, " +
        "arr[(len(arr) + 1) // 2] AS med_cents " +
        "FROM f ORDER BY o_orderpriority, day"),
    "q_benford" ->
      ("WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders), " +
        "d1 AS (SELECT digit FROM d WHERE digit >= 1), " +
        "t AS (SELECT count(*) AS n_total FROM d1) " +
        "SELECT digit, count(*) AS cnt, n_total, " +
        ppmDivSql("count(*)", "n_total") + " AS share_ppm " +
        "FROM d1 CROSS JOIN t GROUP BY digit, n_total ORDER BY digit"),
    "q_cohort_ltv" ->
      ("WITH om AS (SELECT o_custkey, CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), " +
        "c AS (SELECT o_custkey, min(m) AS c0 FROM om GROUP BY 1), " +
        "g AS (SELECT c0, m - c0 AS \"offset\", CAST(sum(cents) AS BIGINT) AS cents, " +
        "CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_cust " +
        "FROM om JOIN c USING (o_custkey) GROUP BY 1, 2) " +
        "SELECT c0 AS cohort_m, \"offset\", n_cust, cents, " +
        "CAST(sum(cents) OVER (PARTITION BY c0 ORDER BY \"offset\" " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents " +
        "FROM g ORDER BY cohort_m, \"offset\""),
    "q_weighted_median" ->
      ("WITH vw AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS wt " +
        "FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT l_returnflag, cents, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS wtot FROM vw) " +
        "SELECT l_returnflag, min(cents) AS wmed_cents, min(wtot) AS w_total " +
        "FROM c WHERE cum * 2 >= wtot GROUP BY 1 ORDER BY 1"),
    "q_trimmed_mean" ->
      ("WITH vc AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "count(*) AS wt FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT l_returnflag, cents, wt, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM vc), " +
        "k AS (SELECT l_returnflag, cents, n, n // 10 AS lo, n - n // 10 AS hi, " +
        "greatest(0, least(cum, n - n // 10) - greatest(cum - wt, n // 10)) AS kept FROM c), " +
        "g AS (SELECT l_returnflag, min(n) AS n_rows, min(hi - lo) AS n_kept, " +
        "CAST(sum(cents * kept) AS BIGINT) AS trimmed_sum FROM k GROUP BY 1) " +
        "SELECT l_returnflag, n_rows, n_kept, trimmed_sum, " +
        "CAST(" + roundDivSql("trimmed_sum", "n_kept", 10000L) + " AS DOUBLE) / 10000.0 AS trimmed_mean " +
        "FROM g ORDER BY 1"),
    "q_mode_stat" ->
      ("WITH vc AS (SELECT l_returnflag, CAST(round(l_quantity, 0) AS BIGINT) AS qty, " +
        "count(*) AS freq FROM lineitem GROUP BY 1, 2), " +
        "r AS (SELECT l_returnflag, qty, freq, row_number() OVER " +
        "(PARTITION BY l_returnflag ORDER BY freq DESC, qty) AS rn FROM vc) " +
        "SELECT l_returnflag, qty AS mode_qty, freq FROM r WHERE rn = 1 ORDER BY 1"),
    "q_iqr_outliers" ->
      ("WITH vc AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "count(*) AS wt FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT l_returnflag, cents, wt, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM vc), " +
        "f AS (SELECT l_returnflag, min(CASE WHEN cum * 4 >= n THEN cents END) AS q1, " +
        "min(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS q3, min(n) AS n FROM c GROUP BY 1), " +
        "f2 AS (SELECT l_returnflag, q1, q3, n, q3 - q1 AS iqr FROM f) " +
        "SELECT vc.l_returnflag AS l_returnflag, min(q1) AS q1, min(q3) AS q3, min(f2.n) AS n_rows, " +
        "CAST(sum(CASE WHEN cents * 2 < q1 * 2 - iqr * 3 THEN wt ELSE 0 END) AS BIGINT) AS n_low, " +
        "CAST(sum(CASE WHEN cents * 2 > q3 * 2 + iqr * 3 THEN wt ELSE 0 END) AS BIGINT) AS n_high " +
        "FROM vc JOIN f2 USING (l_returnflag) GROUP BY 1 ORDER BY 1"),
    "q_gap_interp" ->
      ("WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM orders GROUP BY 1, 2), " +
        "span AS (SELECT o_orderpriority, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
        "spine AS (SELECT o_orderpriority, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), " +
        "CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span), " +
        "j AS (SELECT s.o_orderpriority, s.day, x FROM spine s " +
        "LEFT JOIN daily USING (o_orderpriority, day)), " +
        "c AS (SELECT o_orderpriority, day, x, " +
        "last_value(x IGNORE NULLS) OVER wf AS pv, " +
        "last_value(CASE WHEN x IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS pd, " +
        "last_value(x IGNORE NULLS) OVER wb AS nv, " +
        "last_value(CASE WHEN x IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS nd " +
        "FROM j WINDOW wf AS (PARTITION BY o_orderpriority ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wb AS (PARTITION BY o_orderpriority ORDER BY day DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT o_orderpriority, day, " +
        "CAST(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed, " +
        "CASE WHEN x IS NOT NULL THEN x WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + ((nv - pv) * CAST(day - pd AS BIGINT)) // CAST(nd - pd AS BIGINT) END AS filled_cents " +
        "FROM c ORDER BY o_orderpriority, day"),
    "q_order_count_dist" ->
      ("WITH per AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) " +
        "SELECT coalesce(n, 0) AS n_orders, count(*) AS n_custs " +
        "FROM customer LEFT JOIN per ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY n_orders"),
    "q_min_price_supplier" ->
      ("WITH offers AS (SELECT l_partkey, l_suppkey, " +
        "min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS best_c " +
        "FROM lineitem GROUP BY l_partkey, l_suppkey), " +
        "w AS (SELECT l_partkey, l_suppkey AS s_suppkey, best_c AS best_cents, " +
        "row_number() OVER (PARTITION BY l_partkey ORDER BY best_c, l_suppkey) AS rn " +
        "FROM offers) " +
        "SELECT l_partkey, s_suppkey, s_name, best_cents " +
        "FROM w JOIN supplier USING (s_suppkey) WHERE rn = 1 ORDER BY l_partkey"),
    "q_char_ngrams" ->
      ("WITH norm AS (SELECT lang, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t " +
        "FROM documents), " +
        "tri AS (SELECT lang, substr(t, CAST(i AS INTEGER), 3) AS tri FROM norm, " +
        "LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS i) u " +
        "WHERE length(t) >= 3), " +
        "cnt AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY lang, tri), " +
        "rk AS (SELECT lang, tri, n, row_number() OVER " +
        "(PARTITION BY lang ORDER BY n DESC, tri) AS rk FROM cnt) " +
        "SELECT lang, tri, n, rk FROM rk WHERE rk <= 15 ORDER BY lang, rk"),
    "q_interarrival" ->
      ("WITH g AS (SELECT event_type, (epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s FROM events), " +
        "vw AS (SELECT event_type, gap_s, count(*) AS wt FROM g " +
        "WHERE gap_s IS NOT NULL GROUP BY event_type, gap_s), " +
        "c AS (SELECT event_type, gap_s, wt, " +
        "sum(wt) OVER (PARTITION BY event_type ORDER BY gap_s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(wt) OVER (PARTITION BY event_type) AS n FROM vw) " +
        "SELECT event_type, min(CASE WHEN cum * 2 >= n THEN gap_s END) AS p50_s, " +
        "min(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS p90_s, " +
        "max(gap_s) AS max_s, CAST(min(n) AS BIGINT) AS n_gaps " +
        "FROM c GROUP BY event_type ORDER BY event_type"),
    "q_norm_outliers" ->
      // coalesce matches Spark's aggregate() identity: an empty embedding
      // array yields 0 in Spark but NULL from DuckDB's list_sum — pinned
      // non-empty in FixturesSpec, and made divergence-proof here anyway
      ("WITH n2 AS (SELECT vec_id, label, " +
        "CAST(coalesce(list_sum(list_transform(embedding::DOUBLE[], " +
        "x -> CAST(round(x * 1000) AS BIGINT) * CAST(round(x * 1000) AS BIGINT))), 0) AS BIGINT) AS norm2_mu " +
        "FROM embeddings), " +
        "b AS (SELECT vec_id, label, norm2_mu, norm2_mu // 10000 AS q FROM n2), " +
        "vw AS (SELECT label, q, count(*) AS wt FROM b GROUP BY label, q), " +
        "c AS (SELECT label, q, wt, sum(wt) OVER (PARTITION BY label ORDER BY q " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(wt) OVER (PARTITION BY label) AS n FROM vw), " +
        "med AS (SELECT label, min(CASE WHEN cum * 2 >= n THEN q END) AS med_q FROM c GROUP BY label) " +
        "SELECT vec_id, b.label AS label, norm2_mu, q, " +
        "CASE WHEN q > med_q * 2 THEN 'high' WHEN q * 2 < med_q THEN 'low' ELSE 'ok' END AS flag " +
        "FROM b JOIN med ON b.label = med.label ORDER BY vec_id"),
    "q_idle_customers" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, " +
        "CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer), " +
        "s AS (SELECT CAST(sum(cents) AS BIGINT) AS sum_pos, count(*) AS n_pos " +
        "FROM c WHERE cents > 0) " +
        "SELECT c_nationkey, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS bal_cents " +
        "FROM c, s WHERE cents * n_pos > sum_pos " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderpriority = '1-URGENT') " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "q_cross_source_dup" ->
      ("WITH norm AS (SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t, source " +
        "FROM documents), " +
        "fs AS (SELECT DISTINCT " +
        "md5(array_to_string(string_split(t, ' ')[1:5], ' ')) AS fp, source FROM norm) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_fp " +
        "FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_seasonality_index" ->
      ("WITH m AS (SELECT o_orderpriority, CAST(month(o_orderdate) AS BIGINT) AS moy, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1, 2), " +
        "t AS (SELECT o_orderpriority, moy, cents, " +
        "CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS tot FROM m) " +
        "SELECT o_orderpriority, moy, cents, " +
        ppmDivSql("cents", "tot") + " AS ppm " +
        "FROM t ORDER BY 1, 2"),
    "q_snapshot_diff" ->
      ("WITH o AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "old AS (SELECT k, cents AS old_c FROM o WHERE k % 7 != 0), " +
        "nw AS (SELECT k, cents + CASE WHEN k % 3 = 0 THEN 1000 ELSE 0 END AS new_c " +
        "FROM o WHERE k % 5 != 0), " +
        "j AS (SELECT old_c, new_c FROM old FULL OUTER JOIN nw ON old.k = nw.k) " +
        "SELECT CASE WHEN old_c IS NULL THEN 'added' WHEN new_c IS NULL THEN 'removed' " +
        "WHEN old_c = new_c THEN 'unchanged' ELSE 'changed' END AS status, " +
        "count(*) AS n, CAST(sum(coalesce(new_c, 0) - coalesce(old_c, 0)) AS BIGINT) AS delta_cents " +
        "FROM j GROUP BY 1 ORDER BY 1"),
    "q_burst_days" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, day, n, sum(n) OVER w AS trail, count(n) OVER w AS trail_days " +
        "FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_type, day, CAST(n AS BIGINT) AS n, CAST(trail AS BIGINT) AS trail " +
        "FROM t WHERE trail_days = 7 AND n * 7 > trail * 2 ORDER BY event_type, day"),
    "q_max_concurrency" ->
      // islands-reconstructed 24h sessions (the q_sessionize half-open gap
      // convention), session end = last event + gap (session_window
      // semantics), then the sweep in one ordered window over the
      // per-instant net deltas
      ("WITH l AS (SELECT user_id, epoch_us(ts) AS tu, " +
        "epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS pt FROM events), " +
        "f AS (SELECT user_id, tu, CASE WHEN pt IS NULL OR tu - pt >= 86400000000 " +
        "THEN 1 ELSE 0 END AS brk FROM l), " +
        "s AS (SELECT user_id, tu, sum(brk) OVER (PARTITION BY user_id ORDER BY tu " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f), " +
        "sess AS (SELECT user_id, sid, min(tu) AS t0, max(tu) + 86400000000 AS t1 " +
        "FROM s GROUP BY user_id, sid), " +
        "b AS (SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM " +
        "(SELECT t0 AS t, 1 AS delta FROM sess UNION ALL SELECT t1, -1 FROM sess) u " +
        "GROUP BY t), " +
        "p AS (SELECT t, net, CAST(coalesce(sum(net) OVER (ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + net AS BIGINT) AS conc FROM b) " +
        "SELECT CAST(make_timestamp(t) AS DATE) AS day, max(conc) AS max_conc, " +
        "count(*) AS n_boundaries FROM p GROUP BY 1 ORDER BY day"),
    "q_dedup_survivorship" ->
      ("WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm " +
        "FROM documents), " +
        "t AS (SELECT doc_id, md5(norm) AS fp, CAST(length(norm) AS BIGINT) AS len FROM n), " +
        "w AS (SELECT fp, len AS best_len, doc_id AS canonical_id, row_number() OVER " +
        "(PARTITION BY fp ORDER BY len DESC, doc_id) AS rn FROM t) " +
        "SELECT t.doc_id, w.canonical_id, w.best_len, " +
        "t.doc_id = w.canonical_id AS survives " +
        "FROM t JOIN w ON t.fp = w.fp AND w.rn = 1 ORDER BY t.doc_id"),
    "q_growth_accounting" ->
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "t AS (SELECT user_id, day, lag(day) OVER w AS prev, lead(day) OVER w AS next " +
        "FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)), " +
        "st AS (SELECT day, count(*) AS dau, " +
        "CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users, " +
        "CAST(sum(CASE WHEN prev = day - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT) AS retained, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT) AS resurrected " +
        "FROM t GROUP BY day), " +
        "ch AS (SELECT CAST(day + INTERVAL 1 DAY AS DATE) AS day, count(*) AS churned " +
        "FROM t WHERE next IS NULL OR next > day + INTERVAL 1 DAY GROUP BY 1) " +
        "SELECT coalesce(st.day, ch.day) AS day, coalesce(dau, 0) AS dau, " +
        "coalesce(new_users, 0) AS new_users, coalesce(retained, 0) AS retained, " +
        "coalesce(resurrected, 0) AS resurrected, coalesce(churned, 0) AS churned " +
        "FROM st FULL OUTER JOIN ch ON st.day = ch.day ORDER BY day"),
    "q_quantile_normalize" ->
      ("WITH ev AS (SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events), " +
        "r AS (SELECT event_id, cents, " +
        "CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) AS rk, " +
        "count(*) OVER () AS n_total FROM ev) " +
        "SELECT event_id, cents, CASE WHEN n_total = 1 THEN 0 ELSE " +
        ppmDivSql("(rk - 1)", "(n_total - 1)") + " END AS rank_ppm " +
        "FROM r ORDER BY event_id"),
    "q_div_convention" ->
      ("WITH s AS (SELECT n_nationkey, CAST((n_nationkey - 12) * 137 AS BIGINT) AS v FROM nation) " +
        "SELECT n_nationkey, v, v // 100 AS q_trunc, v % 100 AS r_trunc, " +
        "(v + (CASE WHEN v < 0 THEN -50 ELSE 50 END)) // 100 AS q_half " +
        "FROM s ORDER BY n_nationkey"),
    "q_media_summary" ->
      ("WITH m AS (SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END AS kind, " +
        "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format, " +
        "CASE doc_id % 3 WHEN 1 THEN 1000 + (doc_id % 11) * 500 " +
        "WHEN 2 THEN 4000 + (doc_id % 7) * 1000 ELSE 0 END AS duration_ms FROM documents) " +
        "SELECT kind, format, count(*) AS n, " +
        "CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms " +
        "FROM m GROUP BY kind, format ORDER BY kind, format"),
    "q_forecast_revenue" ->
      ("SELECT CAST(sum(price_c * d4) AS BIGINT) AS revenue_u6, count(*) AS n_lines FROM " +
        "(SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c, " +
        "CAST(round(l_discount * 10000, 0) AS BIGINT) AS d4 FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_quantity < 24) WHERE d4 BETWEEN 500 AND 700"),
    "q_volume_shipping" ->
      ("WITH li AS (SELECT l_orderkey, l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)) AS rev_u6 FROM lineitem), " +
        "sn AS (SELECT s_suppkey, s_nationkey AS supp_nation FROM supplier), " +
        "cn AS (SELECT c_custkey, c_nationkey AS cust_nation FROM customer), " +
        "o AS (SELECT o_orderkey, cust_nation FROM orders JOIN cn ON o_custkey = c_custkey) " +
        "SELECT supp_nation, cust_nation, l_year, CAST(sum(rev_u6) AS BIGINT) AS revenue_u6, " +
        "count(*) AS n_lines FROM li JOIN sn ON l_suppkey = s_suppkey " +
        "JOIN o ON l_orderkey = o_orderkey WHERE supp_nation <> cust_nation " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "q_brand_qty_revenue" ->
      ("WITH pt AS (SELECT p_partkey, p_brand, p_size FROM part " +
        "WHERE p_brand IN ('Brand#3', 'Brand#9', 'Brand#15')), " +
        "li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
        "(10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)) AS rev_u6 FROM lineitem " +
        "WHERE l_quantity BETWEEN 1 AND 30) " +
        "SELECT p_brand, CAST(sum(rev_u6) AS BIGINT) AS revenue_u6, count(*) AS n_lines " +
        "FROM li JOIN pt ON l_partkey = p_partkey WHERE " +
        "(p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND qty BETWEEN 1 AND 11) OR " +
        "(p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 25 AND qty BETWEEN 10 AND 20) OR " +
        "(p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND qty BETWEEN 20 AND 30) " +
        "GROUP BY 1 ORDER BY 1"),
    "q_doc_len_hist" ->
      ("WITH b2 AS (SELECT range AS b, (CAST(1 AS BIGINT) << range) AS lo, " +
        "(CAST(1 AS BIGINT) << (range + 1)) AS hi FROM range(0, 21)) " +
        "SELECT lang, b, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents JOIN b2 ON n_chars >= lo AND n_chars < hi " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_lang_mix" ->
      ("WITH cells AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2), " +
        "totals AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY 1) " +
        "SELECT source, lang, n, " + ppmDivSql("n", "tot") + " AS ppm " +
        "FROM cells JOIN totals USING (source) ORDER BY source, lang"),
    "q_interleave" ->
      ("WITH srcs AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx, " +
        "count(*) OVER () AS n_src FROM (SELECT DISTINCT source FROM documents)), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn FROM documents) " +
        "SELECT doc_id, r.source, (rn - 1) * n_src + src_idx AS pos " +
        "FROM r JOIN srcs ON r.source = srcs.source ORDER BY pos"),
    "q_band_stats" ->
      (SIG_CTE + " " +
        (1 to 4).map(i =>
          s"SELECT CAST($i AS BIGINT) AS band, size, count(*) AS n_buckets FROM " +
            s"(SELECT count(*) AS size FROM sig GROUP BY mh$i) GROUP BY size")
          .mkString(" UNION ALL ") +
        " ORDER BY band, size"),
    "q_order_priority" ->
      ("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' " +
        "AND CAST(o_orderdate AS DATE) < DATE '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_late_suppliers" ->
      ("WITH po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT CASE WHEN CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60 " +
        "THEN l_suppkey END) AS n_late, " +
        "max(CASE WHEN CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60 " +
        "THEN l_suppkey END) AS blame " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' GROUP BY l_orderkey) " +
        "SELECT s_name, s_suppkey, count(*) AS numwait " +
        "FROM po JOIN supplier ON blame = s_suppkey " +
        "WHERE n_supp >= 2 AND n_late = 1 " +
        "GROUP BY s_name, s_suppkey ORDER BY numwait DESC, s_suppkey LIMIT 10"),
    "q_bollinger" ->
      ("WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 10000 AS rev_h " +
        "FROM orders GROUP BY 1, 2), " +
        "w AS (SELECT o_orderpriority, day, rev_h, " +
        "count(*) OVER tw AS n, sum(rev_h) OVER tw AS s, sum(rev_h * rev_h) OVER tw AS s2 " +
        "FROM daily WINDOW tw AS (PARTITION BY o_orderpriority ORDER BY day " +
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)), " +
        "b AS (SELECT o_orderpriority, day, rev_h, n, " +
        "n * rev_h - s AS dev, 4 * (n * s2 - s * s) AS var4 FROM w WHERE n >= 4) " +
        "SELECT o_orderpriority, day, rev_h, n AS win_n, " +
        "CASE WHEN dev > 0 THEN 'hi' ELSE 'lo' END AS band " +
        "FROM b WHERE dev <> 0 AND dev * dev > var4 " +
        "ORDER BY o_orderpriority, day"),
    "q_ndcg" ->
      ("WITH p AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings WHERE vec_id >= 10), " +
        "sc AS (SELECT q_id, q_label, vec_id, label, " +
        "round(list_cosine_similarity(emb, q_emb), 4) AS simr FROM c CROSS JOIN p), " +
        "r AS (SELECT q_id, q_label, vec_id, label, simr, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY simr DESC, vec_id) AS rank FROM sc), " +
        "t AS (SELECT q_id, CASE WHEN label = q_label THEN 1.0 ELSE 0.0 END AS rel, rank " +
        "FROM r WHERE rank <= 10), " +
        "g AS (SELECT q_id, sum(rel / log2(rank + 1)) AS dcg, CAST(sum(rel) AS BIGINT) AS n_rel " +
        "FROM t GROUP BY q_id) " +
        "SELECT q_id, n_rel, round(dcg, 4) AS dcg, " +
        "CASE WHEN n_rel = 0 THEN 0.0 ELSE round(dcg / list_sum(" +
        "list_transform(generate_series(1, n_rel), i -> 1.0 / log2(i + 1.0))), 4) END AS ndcg " +
        "FROM g ORDER BY q_id"),
  )
}
