package graft

import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, SinglePartition}
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.DoubleType

/** Physical-plan shape assertions — the properties that decide whether these
  * operators survive a 100× scale-up: filters reach the parquet scan,
  * projections prune the read schema, small dims broadcast, top-k never
  * materializes a global sort, and aggregates combine map-side. */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** The physical plan with its exchanges, before adaptive execution. */
  private def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** `p` without the sorts, exchanges and codegen wrappers above its data. */
  private def source(p: SparkPlan): SparkPlan = p match {
    case s: SortExec => source(s.child)
    case e: ShuffleExchangeExec => source(e.child)
    case w: WholeStageCodegenExec => source(w.child)
    case i: InputAdapter => source(i.child)
    case other => other
  }

  private def groupedBy(p: SparkPlan): Option[Seq[String]] = p match {
    case a: BaseAggregateExec => Some(a.groupingExpressions.map(_.name))
    case _ => None
  }

  /** Every `SinglePartition` exchange of a [[graft.operators.Ops.runningSums]]
    * plan moves a bounded aggregate: one grouped by nothing (the 1-row key
    * stats) or by `__bucket` alone (the ≤ 1 024-row bucket census). So does
    * every operator that needs all rows in one task: over a 1-partition
    * input (a one-file table) it gets them without an exchange. */
  private def singlePartitionOnlyOnBoundedAggregates(p: SparkPlan): Unit = {
    val gathered = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => Seq(e.child)
      case op => op.requiredChildDistribution.zip(op.children)
        .collect { case (AllTuples, c) => c }
    }.flatten
    gathered.foreach { c =>
      val g = groupedBy(source(c))
      assert(g.contains(Nil) || g.contains(Seq("__bucket")),
        s"unbounded rows gathered into one task:\n$c")
    }
  }

  /** Every window over input rows is `__bucket`-partitioned; only the
    * bucket census's own window (over an aggregate keyed by `__bucket`)
    * may be unpartitioned. */
  private def rowWindowsBucketPartitioned(p: SparkPlan): Unit = {
    val windows = p.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, p)
    windows.filterNot(w => groupedBy(source(w.child)).exists(_.lastOption.contains("__bucket")))
      .foreach(w => assert(w.partitionSpec.exists(_.references.exists(_.name == "__bucket")),
        s"a window over input rows that is not bucket-partitioned:\n$w"))
  }

  /** Run `body` with [[graft.operators.Checkpoints.PassthroughConf]] set,
    * so pins can see the DECLARATIVE shape of subtrees that production
    * eagerly truncates (an eager checkpoint replaces the subtree with a
    * LogicalRDD, hiding exactly the plan properties pinned here). */
  private def withDeclarativePlan[T](body: => T): T = {
    spark.conf.set(graft.operators.Checkpoints.PassthroughConf, "true")
    try body
    finally spark.conf.unset(graft.operators.Checkpoints.PassthroughConf)
  }

  test("q_filter_nonnull pushes its predicates into the parquet scan") {
    val p = plan(Queries.qFilterNonnull(spark, SF))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull(props)"), p)
    assert(p.contains("Not(EqualTo(event_type,error))"), p)
  }

  test("q_scan_project prunes the read schema to the projected columns") {
    val p = plan(Queries.qScanProject(spark, SF))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_returnflag"), p)
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"),
      s"unprojected columns must not be read:\n$readSchema")
  }

  test("q_join_agg broadcasts the nation dim, never the fact side") {
    val p = plan(Queries.qJoinAgg(spark, SF))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_seeded_sample plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Queries.qSeededSample(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-N must not range-shuffle the whole input:\n$p")
  }

  test("q_agg_pricing: partial (map-side) aggregation + shipdate pushdown") {
    val p = plan(Queries.qAggPricing(spark, SF))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("Functions [partial"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("minhash signature aggregates partially before the doc_id shuffle") {
    val p = plan(Queries.qMinhashSignature(spark, SF))
    assert(p.contains("partial_min") || p.contains("Functions [partial"), p)
  }

  test("q_minhash_dedup: signature pipeline computed ONCE (AQE reuses the doc-keyed exchange)") {
    // The bucket-count and probe branches both sit on the signature's
    // partial-min exchange; AQE must dedupe it so the expensive
    // scan→shingles→md5 pipeline runs once per execution. (An explicit
    // checkpoint instead was measured WORSE — see TextOps' reuse note.)
    val df = Queries.qMinhashDedup(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("ReusedExchange"),
      s"the two melted-band branches must reuse one signature exchange:\n$exec")
  }

  test("q_semi_join plans a semi join (no row multiplication)") {
    val p = plan(Queries.qSemiJoin(spark, SF))
    assert(p.contains("LeftSemi"), p)
  }

  test("whole-stage codegen covers the scan->filter->project pipelines") {
    val df = Queries.qNormalizeText(spark, SF)
    df.collect() // AQE finalizes the plan only on execution
    val p = df.queryExecution.executedPlan.toString
    // codegen'd spans print with the `*(stageId)` prefix in the final plan
    assert(p.contains("*(1)"), p)
  }

  test("correlated EXISTS rewrites to a semi join; scalar subquery stays scalar") {
    val pe = plan(Queries.qExistsSubquery(spark, SF))
    assert(pe.contains("LeftSemi"), pe)
    val ps = plan(Queries.qScalarSubquery(spark, SF))
    assert(ps.contains("Subquery") || ps.contains("scalar-subquery"), ps)
  }

  test("q_batch_assign has no unpartitioned (single-task) window") {
    val p = physical(Queries.qBatchAssign(spark, SF))
    // a global row_number would serialize 100 TB through one task; only
    // the bounded stats and bucket census may meet in one partition
    singlePartitionOnlyOnBoundedAggregates(p)
    rowWindowsBucketPartitioned(p)
  }

  test("native shingles/simhash expressions run inside whole-stage codegen") {
    val df = graft.operators.TextOps.simhash64(
      Tables.documents(spark, SF), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p) // the scan->project span is codegen'd
  }

  test("partition pruning: a date filter on a partitioned table prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_parts").toString
    val ev = Tables.events(spark, SF)
      .withColumn("event_date", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val firstDate = ev.selectExpr("min(event_date)").collect()(0).getDate(0).toString
    val pruned = spark.read.parquet(dir)
      .where(org.apache.spark.sql.functions.col("event_date") === firstDate)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters"), p)
    // the scan must list only the matching partition's files
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"expected exactly 1 selected partition, got $scanned")
  }

  test("q_lang_id is shuffle-FREE (native single-sweep expression)") {
    val df = Queries.qLangId(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only allowed exchange is the final presentation sort's range
    // partitioning; language ID itself must not aggregate or re-shuffle
    assert(!p.contains("HashAggregate"), s"lang ID must not aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"lang ID must not hash-shuffle:\n$p")
  }

  test("q_bloom_semi_join carries the bloom probe inside the fact scan's filter") {
    val df = Queries.qBloomSemiJoin(spark, SF)
    val p = plan(df)
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("presentation-sorted aggregates skip the RangePartitioner sampling exchange") {
    for (name <- Seq("q_agg_pricing", "q_cube", "q_stats", "q_histogram")) {
      val p = plan(Queries.all(name)(spark, SF))
      assert(!p.contains("Exchange rangepartitioning"),
        s"$name: bounded output must not range-shuffle:\n$p")
    }
  }

  test("q_vector_quantize is shuffle-free up to the presentation sort") {
    val p = plan(Queries.qVectorQuantize(spark, SF))
    // row-local quantization: no aggregate, no hash exchange anywhere
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"quantization must not aggregate:\n$p")
  }

  test("q_kmeans_step ships only k*dim partial rows through its one exchange") {
    val p = plan(Queries.qKmeansStep(spark, SF))
    // partial (map-side) integer sum+count below the (cluster_id, pos)
    // exchange — the property that caps the shuffle at k*dim rows per
    // partition (the centroid itself is integer 4-dp fixed point computed
    // above the final aggregate)
    assert(p.contains("partial_sum") || p.contains("Functions [partial"), p)
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }

  test("perfbench scan kernels stay in generated code: no CodegenFallback, no Round(double)") {
    // round(double, 0) is rewritten to RoundHalfUpDouble, the vector folds
    // are VectorFold and normalizeWs is CollapseWs; a CodegenFallback (the
    // zip_with/aggregate form) or Spark's BigDecimal Round over a double
    // puts the per-row loop back outside the generated stage
    for (name <- Seq("q_agg_pricing", "q_histogram", "q_kmeans_step", "q_dedup_survivorship")) {
      val p = physical(Queries.all(name)(spark, SF))
      val slow = p.collectWithSubqueries { case n => n.expressions }.flatten
        .flatMap(_.collect {
          case e: CodegenFallback => e
          case r: Round if r.child.dataType == DoubleType => r
        })
      assert(slow.isEmpty, s"$name plans ${slow.mkString(", ")} outside codegen:\n$p")
    }
  }

  test("q_ngram_counts: map-side-combined counts; ranking window is lang-partitioned") {
    val df = Queries.qNgramCounts(spark, SF)
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("Functions [partial"), p)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("windowspecdefinition(lang"),
      s"ranking window must be partitioned by lang:\n$exec")
  }

  test("q_quality_score evaluates TextStats once (subexpression elimination)") {
    val df = Queries.qQualityScore(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // all five metric columns come from one projection over the scan
    assert(p.contains("*(1)"), s"quality metrics must stay in codegen:\n$p")
  }

  test("q_knn_join: broadcast queries, rank pushed down before the shuffle") {
    val p = plan(Queries.qKnnJoin(spark, SF))
    // the corpus is never shuffled before scoring: the (small) query side
    // broadcasts into a nested-loop join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // Spark's rank-limit pushdown prunes to a per-partition top-k BEFORE
    // the q_id exchange — the shuffle carries ~|Q|·k rows per partition,
    // not the full |Q|·|corpus| score matrix
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_sem_dedup: cluster-blocked pairs are an equi-join, never a cross join") {
    val p = plan(Queries.qSemDedup(spark, SF))
    assert(!p.contains("CartesianProduct"),
      s"pair expansion must be blocked by the cluster key:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_kmeans_step: fused argmin projection + ONE centroid exchange") {
    val p = plan(Queries.qKmeansStep(spark, SF))
    // assignment is k fused least-of-structs expressions over the scan —
    // never a join against a centroid table (k scans) or a cross product
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"argmin assignment must be a projection, not a per-centroid join:\n$p")
    // posexplode stays pipelined (Generate above the scan, below the agg):
    // the shuffle carries ≤ k·dim map-side partials, never exploded rows
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_sum"),
      s"centroid update must combine map-side:\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1,
      s"centroid update is one (cluster,dim) exchange, found $hashEx:\n$p")
  }

  test("q_bm25: AQE reuses the per-doc shuffle; top-k never global-sorts") {
    val df = Queries.qBm25(spark, SF)
    assert(plan(df).contains("TakeOrderedAndProject"), plan(df))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the stats branch must consume the SAME per-doc aggregate shuffle as
    // the scoring branch — one corpus scan, one tokenize pass at runtime
    assert(p.contains("ReusedExchange"),
      s"corpus-stats branch must reuse the per-doc exchange:\n$p")
  }

  test("q_funnel: ONE actor-keyed exchange, no window over the raw log") {
    val p = plan(Queries.qFunnel(spark, SF))
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashExchanges == 1,
      s"funnel must fold in one actor shuffle, found $hashExchanges:\n$p")
    assert(!p.contains("Window"),
      s"funnel state is an aggregate fold, not a window over the event log:\n$p")
  }

  test("q_cohort_retention: co-partitioned equi-join, no cartesian") {
    val p = plan(Queries.qCohortRetention(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cohort join must be an equi-join on the actor key:\n$p")
  }

  test("q_interval_join: equi-join with overlap residual, no cartesian") {
    val p = plan(Queries.qIntervalJoin(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"interval overlap must ride the key equi-join:\n$p")
  }

  test("q_weighted_sample plans as TakeOrderedAndProject") {
    val p = plan(Queries.qWeightedSample(spark, SF))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must heap-select, not globally sort:\n$p")
  }

  test("q_dup_ngram_spans: linear plan — df via partitioned window, no self-join") {
    val p = plan(Queries.qDupNgramSpans(spark, SF))
    assert(!p.contains("Join"),
      s"span-dup stats must not pair-expand or self-join:\n$p")
    assert(p.contains("hashpartitioning(shingle"),
      s"document frequency must come from a shingle-partitioned window:\n$p")
  }

  test("q_zscore: stats broadcast back — the event log is never hash-shuffled") {
    val p = plan(Queries.qZscore(spark, SF))
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row cohort stats must broadcast, not shuffle the fact side:\n$p")
  }

  test("q_percentile_gate / q_skyline / q_event_transitions: windows are partitioned") {
    for (q <- Seq(Queries.qPercentileGate(spark, SF), Queries.qSkyline(spark, SF),
        Queries.qEventTransitions(spark, SF))) {
      val p = plan(q)
      val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(windowLines.nonEmpty, p)
      assert(!p.contains("SinglePartition"),
        s"window must be partitioned, not a global single task:\n$p")
    }
  }

  test("q_skyline: frontier via range window — no dominance self-join") {
    val p = plan(Queries.qSkyline(spark, SF))
    assert(!p.contains("Join"),
      s"skyline must be sort+running-max, not a pairwise dominance join:\n$p")
  }

  test("two ordered_bits in one stage generate compilable code (fresh names)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // fallback=false turns a codegen compile error (e.g. a non-fresh local
    // variable emitted twice in one stage) into a test failure instead of a
    // silent drop to interpreted execution
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Seq((1.0, -2.0), (3.5, 0.0)).toDF("x", "y")
        .select(graft.functions.OrderedBits.orderedBits(col("x")).as("ox"),
          graft.functions.OrderedBits.orderedBits(col("y")).as("oy"))
        .collect()
      assert(out.length == 2)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("q_chunk_windows is row-local: no join, no aggregate before the sort") {
    val p = plan(Queries.qChunkWindows(spark, SF))
    assert(!p.contains("Join"),
      s"chunking must never join — the token array stays in its row:\n$p")
    assert(!p.contains("HashAggregate"),
      s"chunking must not aggregate:\n$p")
  }

  test("q_train_split: split weights window over grouped rows, map-side partials") {
    val p = plan(Queries.qTrainSplit(spark, SF))
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the per-(split,lang) aggregate must combine map-side:\n$p")
    // the window runs over <= |splits|*|langs| grouped rows; the raw docs
    // are aggregated before any window
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, p)
  }

  test("q_rarity_score / q_pmi_topk broadcast the vocabulary-sized side") {
    for (q <- Seq(Queries.qRarityScore(spark, SF), Queries.qPmiTopk(spark, SF))) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"unigram table must broadcast, not shuffle the token stream:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"no sort-merge join should appear:\n$p")
    }
  }

  test("q_pmi_topk plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Queries.qPmiTopk(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_global_rank: ranking window is bucket-partitioned, never SinglePartition") {
    val p = physical(Queries.qGlobalRank(spark, SF))
    // ranking must never move all rows to one task: the ranking window is
    // keyed by the value bucket, and only the bounded stats and bucket
    // census meet in one partition
    singlePartitionOnlyOnBoundedAggregates(p)
    rowWindowsBucketPartitioned(p)
  }

  test("q_mad_outliers: both stats tables broadcast back, fact never hash-shuffled") {
    val p = plan(Queries.qMadOutliers(spark, SF))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"median and MAD joins must both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_regr_trend: power sums combine map-side; output is 5 grouped rows") {
    val p = plan(Queries.qRegrTrend(spark, SF))
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the power-sum aggregate must combine map-side:\n$p")
  }

  test("q_next_token / q_dedup_audit: windows partitioned, contexts broadcast") {
    val pNext = plan(Queries.qNextToken(spark, SF))
    assert(!pNext.contains("SinglePartition"),
      s"argmax window must be context-partitioned:\n$pNext")
    assert(pNext.contains("BroadcastHashJoin") && !pNext.contains("SortMergeJoin"),
      s"the vocabulary-sized context table must broadcast:\n$pNext")
    val pAudit = plan(Queries.qDedupAudit(spark, SF))
    assert(!pAudit.contains("SinglePartition"),
      s"dup window must be fingerprint-partitioned:\n$pAudit")
  }

  test("q_vocab_coverage ranks only the TakeOrdered top-1000, never full vocab") {
    val p = plan(Queries.qVocabCoverage(spark, SF))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1000 must come from per-partition heaps:\n$p")
  }

  test("q_langid_confusion is one codegen'd map + bounded aggregate — no join") {
    val p = plan(Queries.qLangidConfusion(spark, SF))
    assert(!p.contains("Join"),
      s"the prediction must be computed in the scan projection, not joined back:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q_source_terms / q_token_gini: vocab broadcast, ranking never single-task") {
    val pTerms = plan(Queries.qSourceTerms(spark, SF))
    assert(pTerms.contains("BroadcastHashJoin") && !pTerms.contains("SortMergeJoin"),
      s"corpus vocab and source totals must broadcast:\n$pTerms")
    // the 1-row corpus-total aggregate legitimately single-partitions;
    // the RANKING window itself must be source-partitioned
    val termWins = pTerms.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(termWins.nonEmpty && termWins.forall(_.contains("source")),
      s"lift ranking must be source-partitioned:\n$pTerms")
    // the vocab ranking must run inside __bucket partitions (the two-phase
    // ranker); the only unpartitioned exchange allowed is the final
    // 1-row aggregate's
    val gini = Queries.qTokenGini(spark, SF)
    val pGini = plan(gini)
    assert(pGini.contains("__bucket"),
      s"vocab rank must use the bucket ranker, not a global window:\n$pGini")
    val winSpecs = pGini.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.forall(_.contains("__bucket")),
      s"every window must be bucket-partitioned:\n$pGini")
  }

  test("q_ship_priority: date filters pushed to scans, top-10 via TakeOrdered") {
    val p = plan(Queries.qShipPriority(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)")
      || p.contains("LessThan(o_orderdate") || p.contains("PushedFilters"),
      s"order-date filter must reach the scan:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"revenue must combine map-side:\n$p")
  }

  test("q_market_share: dims broadcast; only the fact-fact join merges") {
    val p = plan(Queries.qMarketShare(spark, SF))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"region/nation/supplier joins must broadcast:\n$p")
    // lineitem ⋈ orders is two fact tables: a sort-merge (or shuffled
    // hash) join is the CORRECT plan at scale — but there must be at most
    // that one; a second merge join would mean a dim failed to broadcast
    val smjNodes = p.linesIterator
      .count(l => l.matches("""\(\d+\) SortMergeJoin.*"""))
    assert(smjNodes <= 1, s"only the fact-fact join may sort-merge:\n$p")
  }

  test("q_small_qty_revenue: part dim broadcasts; correlated avg combines map-side") {
    val p = plan(Queries.qSmallQtyRevenue(spark, SF))
    assert(p.contains("BroadcastHashJoin"),
      s"the part/brand dimension must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the per-part (cnt, sum) aggregate must combine map-side:\n$p")
    // the fact ⋈ per-part-agg join is fact-shaped: at most that one may merge
    val smj = p.linesIterator.count(l => l.matches("""\(\d+\) SortMergeJoin.*"""))
    assert(smj <= 1, s"only the fact/per-part join may sort-merge:\n$p")
  }

  test("q_top_supplier: shipdate pushed to scan, no sort-merge join anywhere") {
    val p = plan(Queries.qTopSupplier(spark, SF))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"quarter filter must reach the lineitem scan:\n$p")
    // global-max (1 row) and supplier dim both broadcast; revenue table is
    // already per-supplier (bounded) — nothing may sort-merge
    assert(!p.contains("SortMergeJoin"),
      s"both probe sides are broadcast-sized:\n$p")
  }

  test("q_large_orders: quantity screen combines map-side before any join") {
    val p = plan(Queries.qLargeOrders(spark, SF))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"the per-order quantity sum must combine map-side:\n$p")
  }

  test("q_simpson_diversity / q_ttr_profile: pure two-level map-side aggregates") {
    for ((name, df) <- Seq(
        "q_simpson_diversity" -> Queries.qSimpsonDiversity(spark, SF),
        "q_ttr_profile" -> Queries.qTtrProfile(spark, SF))) {
      val p = plan(df)
      assert(!p.contains("Join"), s"$name must not plan any join:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$name must not plan any window:\n$p")
      assert(p.contains("partial_count") || p.contains("Partial"),
        s"$name aggregates must combine map-side:\n$p")
    }
  }

  test("q_asof_nearest: no join, both directional carries over one key shuffle") {
    val p = plan(Queries.qAsofNearest(spark, SF))
    assert(!p.contains("Join"),
      s"nearest as-of must not plan a join (pair expansion):\n$p")
    val hashEx = p.linesIterator
      .count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1,
      s"both window frames must reuse ONE __key exchange (got $hashEx):\n$p")
  }

  test("q_table_checksum: XOR fold combines map-side, no shuffle of raw rows twice") {
    val p = plan(Queries.qTableChecksum(spark, SF))
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the checksum must fold map-side:\n$p")
    val hashEx = p.linesIterator
      .count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"one grouped exchange of (ym, partial) only:\n$p")
  }

  test("q_power_iteration: row-local dot (no shuffle), one dim-bounded exchange") {
    val p = plan(Queries.qPowerIteration(spark, SF))
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"),
      s"the Gram-times-vector kernel must be join- and window-free:\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1,
      s"only the (pos, partial) rows may shuffle (got $hashEx exchanges):\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"per-pos sums must combine map-side:\n$p")
  }

  test("q_zipf_profile: global rank via bucket ranker, total broadcast back") {
    val p = plan(Queries.qZipfProfile(spark, SF))
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("__bucket")),
      s"the Zipf ranking must be bucket-partitioned, never SinglePartition:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row corpus total must broadcast:\n$p")
  }

  test("q_auc_per_class / q_calibration_bins: rank via bucket ranker, total broadcast") {
    for ((name, df) <- Seq(
        "q_auc_per_class" -> Queries.qAucPerClass(spark, SF),
        "q_calibration_bins" -> Queries.qCalibrationBins(spark, SF))) {
      val p = plan(df)
      val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("__bucket")),
        s"$name must rank via the bucket ranker, never one task:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name joins only broadcast-sized tables:\n$p")
    }
  }

  test("q_changepoint: priority-partitioned windows, baseline broadcast back") {
    val p = plan(Queries.qChangepoint(spark, SF))
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("o_orderpriority")),
      s"every CUSUM window must be priority-partitioned:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the (n, total) baseline must broadcast:\n$p")
  }

  test("q_seasonal_anomaly: bounded grids broadcast, top-20 via TakeOrdered") {
    val p = plan(Queries.qSeasonalAnomaly(spark, SF))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"dow calendar and 7x24 baseline must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact-sized join exists here:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_fuzzy_match: capped in-block expansion, keep-join rides the blk exchange") {
    val p = plan(Queries.qFuzzyMatch(spark, SF))
    // the ONLY join is the block-size keep-filter: a shuffle-hash equi-join
    // on blk (co-partitioned with the groupBy) — never a name-pair join
    assert(p.contains("ShuffledHashJoin"),
      s"the size guard must keep-join on blk before any list is collected:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian") &&
      !p.contains("BroadcastNestedLoop"),
      s"no all-pairs or fact-sized join may exist:\n$p")
    // the oversized-block cap must be applied to a COUNT, pre-collect
    assert(p.contains("__n"), s"block sizes must be counted before expansion:\n$p")
    // name dedup + blk exchange pair (sizes/probe) + list groupBy +
    // true-pair distinct + the r17 explicit-width blk respread (the
    // CPU-vs-bytes widening before the in-block expansion) — nothing else
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx <= 6, s"only name-dedup, the blk-keyed size/collect pair, " +
      s"the pair distinct and the explicit blk respread may shuffle (got $hashEx):\n$p")
  }

  test("q_media_summary: metadata-only — the scan never reads the content bytes") {
    val p = plan(Queries.qMediaSummary(spark, SF))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id"), p)
    // text backs the opaque `content` column (the dominant chunk at scale)
    // and every metadata column derives from doc_id only — columnar pruning
    // must drop text from the parquet read entirely
    assert(!readSchema.contains("text") && !readSchema.contains("n_chars"),
      s"content bytes must be pruned from the metadata summary scan:\n$readSchema")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the modality rollup must combine map-side:\n$p")
  }

  test("q_reagg_audit: both aggregation levels combine map-side, fact read once") {
    val p = plan(Queries.qReaggAudit(spark, SF))
    assert(!p.contains("Join"), s"the merge must not re-join the fact:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"monthly partials must combine map-side:\n$p")
    // one scan only (detail-header lines — the tree echoes each node):
    // the quarter level re-aggregates the monthly partials
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"the orders fact must be scanned exactly once:\n$p")
  }

  test("q_triangle_count: top-20 via TakeOrdered, never a global sort") {
    val p = plan(Queries.qTriangleCount(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"the bounded top-20 must not range-shuffle:\n$p")
  }

  test("q_clamped_balance: Lindley fold is ONE window pass over one exchange") {
    val p = plan(Queries.qClampedBalance(spark, SF))
    // running-min-of-running-sum necessarily stacks two Window nodes
    // (the second consumes the first's output) — but both share ONE
    // user_id exchange and ONE sort; the only other exchange/sort pair
    // is the presentation orderBy
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 2, s"exactly the two Lindley passes (got $winNodes):\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"one user_id shuffle only (got $hashEx):\n$p")
    val sorts = p.linesIterator.count(_.matches("""\(\d+\) Sort.*"""))
    assert(sorts <= 2, s"windows must share one sort (+1 presentation sort):\n$p")
    assert(!p.contains("UnboundedFollowing"),
      s"growing frames only — never the O(rows²) following re-scan:\n$p")
  }

  test("q_ewma_decay: all 8 FIR taps share one window sort and one exchange") {
    val p = plan(Queries.qEwmaDecay(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"8 lag taps must fuse into one Window (got $winNodes):\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"one user_id shuffle only (got $hashEx):\n$p")
  }

  test("q_rolling_corr: five moment sums fuse into one bounded-frame window") {
    val p = plan(Queries.qRollingCorr(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"all frame sums must share one Window (got $winNodes):\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"the daily pre-aggregate must combine map-side:\n$p")
    assert(!p.contains("UnboundedPreceding"),
      s"the frame is bounded (7 rows) — growing frames would re-state it:\n$p")
  }

  test("q_pagerank_step: top-20 via TakeOrdered; degree join never broadcasts the fact") {
    val p = plan(Queries.qPagerankStep(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"the bounded top-20 must not range-shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"degree + contribution aggregates must combine map-side:\n$p")
  }

  test("q_label_prop: brand dim broadcasts twice onto the edge stream") {
    val p = plan(Queries.qLabelProp(spark, SF))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"neighbor-label and old-label joins must both broadcast the part dim:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the vote count must combine map-side:\n$p")
  }

  test("q_inverted_index: rank + posting-length windows stack on one token exchange") {
    val p = plan(Queries.qInvertedIndex(spark, SF))
    // (doc,token) tf shuffle + token window shuffle + presentation sort —
    // the two window aggregates must NOT add a second token exchange
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 2, s"tf aggregate + one token window exchange only (got $hashEx):\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the tf aggregate must combine map-side:\n$p")
  }

  test("q_heavy_hitters: candidate re-count join broadcasts; no full-vocab shuffle before pruning") {
    val p = plan(Queries.qHeavyHitters(spark, SF))
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded candidate list must broadcast into the re-count scan:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the restricted re-count must combine map-side:\n$p")
  }

  test("q_fk_audit: every dim-parent join broadcasts; fact parents may sort-merge") {
    val p = plan(Queries.qFkAudit(spark, SF))
    // 5 of the 6 relations have dim-sized parents → broadcast; only
    // lineitem->orders joins fact-to-fact
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 5,
      s"dim parents must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"orphan counts must combine map-side:\n$p")
  }

  test("q_skew_profile: top-20 via TakeOrdered, baselines broadcast back") {
    val p = plan(Queries.qSkewProfile(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"the bounded top-20 must not range-shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the key-count aggregate must combine map-side:\n$p")
  }

  test("q_abtest_chi2: two map-side-combinable aggregates, O(1) output, no window") {
    val p = plan(Queries.qAbtestChi2(spark, SF))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"per-user and per-cell aggregates must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no window needed for the 2x2 readout:\n$p")
  }

  test("q_prefix_dup: one fingerprint-partitioned window, one hash exchange") {
    val p = plan(Queries.qPrefixDup(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"canonical + size share one Window (got $winNodes):\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"one pfp shuffle only (got $hashEx):\n$p")
  }

  test("q_containment: in-bucket expansion — never a cartesian or nested-loop join") {
    val p = plan(Queries.qContainment(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"df-capped posting lists must keep this an equi-join/groupBy shape:\n$p")
  }

  test("q_mann_kendall: pair join runs on the calendar-bounded monthly aggregate") {
    val p = plan(Queries.qMannKendall(spark, SF))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"monthly cents must combine map-side before any pairing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the month pairing is priority-keyed, never all-pairs over rows:\n$p")
    // the orders fact is scanned once; pairs come from the ym self-join of
    // the bounded aggregate (exchange reuse dedups the second scan)
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans <= 2, s"pairing must not rescan the fact per side:\n$p")
  }

  test("q_incremental_dedup: batch window and corpus join share the fp key") {
    val p = plan(Queries.qIncrementalDedup(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"one first-wins window (got $winNodes):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_locf_impute: one growing-frame window, one exchange, never a following scan") {
    val p = plan(Queries.qLocfImpute(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"one LOCF window (got $winNodes):\n$p")
    val hashEx = p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"one user_id shuffle only (got $hashEx):\n$p")
    assert(!p.contains("UnboundedFollowing"),
      s"growing frames only:\n$p")
  }

  test("q_regional_revenue: all dims broadcast; only lineitem-orders shuffles; dates pushed down") {
    val p = plan(Queries.qRegionalRevenue(spark, SF))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"customer/supplier/nation sides must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"at most the fact-fact join may sort-merge:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") || p.contains("o_orderdate"),
      s"the 1997 filter must reach the orders scan:\n$p")
  }

  test("q_returned_customers: returnflag pushed to the scan, top-20 via TakeOrdered") {
    val p = plan(Queries.qReturnedCustomers(spark, SF))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"the R filter must reach the lineitem scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"the bounded top-20 must not range-shuffle:\n$p")
  }

  test("q_promo_share: one aggregate pass, part broadcast, shipdate pushed down") {
    val p = plan(Queries.qPromoShare(spark, SF))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"both conditional sums must combine map-side:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the shipdate filter must reach the scan:\n$p")
  }

  test("q_discovery_curve: two keyed windows, no distinct-set state, no single partition") {
    val p = plan(Queries.qDiscoveryCurve(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 2, s"first-occurrence + running-sum windows (got $winNodes):\n$p")
    assert(!p.contains("SinglePartition"),
      s"both windows must stay user-keyed:\n$p")
    assert(!p.toLowerCase.contains("collect_set"),
      s"no per-row distinct sets — the flag+sum form is the point:\n$p")
  }

  test("q_funnel_bounded: one actor shuffle, partial collect_list, O(1) output") {
    val p = plan(Queries.qFunnelBounded(spark, SF))
    assert(p.contains("partial_collect_list") || p.contains("Partial"),
      s"the per-actor fold state must combine map-side:\n$p")
    assert(!p.contains("Join"),
      s"the bounded funnel is a single grouped fold, not nested joins:\n$p")
  }

  test("q_zone_map: two-phase numbering — no unpartitioned full-data window") {
    val df = Queries.qZoneMap(spark, SF)
    val p = plan(df)
    // the bucket-base window runs over <= buckets rows; the per-bucket
    // numbering window is bucket-keyed. No window may see all rows in
    // one task.
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"zone stats must combine map-side:\n$p")
  }

  test("q_balanced_sample: cap broadcasts, selection window stays class-keyed") {
    val p = plan(Queries.qBalancedSample(spark, SF))
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight") ||
      p.contains("BroadcastExchange"),
      s"the 1-row cap must broadcast onto the event stream:\n$p")
    // the 1-row cap aggregate legitimately uses a SinglePartition
    // exchange; what must stay keyed is the ranking WINDOW itself
    val winSpec = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpec.nonEmpty && winSpec.forall(_.contains("event_type")),
      s"the ranking window must partition by event_type:\n$p")
  }

  test("q_dedup_report: fingerprint reduced in place, bounded source re-aggregate") {
    val p = plan(Queries.qDedupReport(spark, SF))
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the fp-grain count must combine map-side:\n$p")
    assert(!p.contains("Join"), s"a pure two-level aggregate, no joins:\n$p")
  }

  test("q_theil_sen: slope pairs form on the bounded monthly aggregate, fact scanned once per side max") {
    val p = plan(Queries.qTheilSen(spark, SF))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"monthly cents must combine map-side before pairing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing is priority-keyed:\n$p")
  }

  test("q_autocorr / q_runs_test: calendar-bounded windows, map-side monthly partials") {
    for (q <- Seq(Queries.qAutocorr(spark, SF), Queries.qRunsTest(spark, SF))) {
      val p = plan(q)
      assert(p.contains("partial_sum") || p.contains("Partial"),
        s"the monthly aggregate must combine map-side:\n$p")
      val winSpec = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(winSpec.nonEmpty && winSpec.forall(_.contains("o_orderpriority")),
        s"every window must stay priority-keyed:\n$p")
    }
  }

  test("q_revenue_bridge: one customer window (3 lag/lead fused), calendar-bounded merge") {
    val p = plan(Queries.qRevenueBridge(spark, SF))
    // the lag/lead trio fuses into ONE Window; the windowed frame feeds
    // two aggregate branches (inflow + churn), so the fused node appears
    // once per branch — anything above 2 means the trio stopped fusing
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes <= 2, s"one fused Window per consuming branch (got $winNodes):\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"the (customer, month) aggregate must combine map-side:\n$p")
  }

  test("q_session_lengths: session aggregate keyed by user, bounded histogram output") {
    val p = plan(Queries.qSessionLengths(spark, SF))
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"session span min/max must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rolling_median: one bounded-frame window over the daily aggregate") {
    val p = plan(Queries.qRollingMedian(spark, SF))
    val winNodes = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 1, s"one collect_list frame window (got $winNodes):\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"daily cents must combine map-side:\n$p")
    assert(!p.contains("UnboundedPreceding"),
      s"the frame is bounded (7 rows):\n$p")
  }

  test("q_benford / q_cohort_ltv: map-side partials, broadcast scalar / bounded grid") {
    val pb = plan(Queries.qBenford(spark, SF))
    assert(pb.contains("partial_count") || pb.contains("Partial"), pb)
    assert(pb.contains("BroadcastNestedLoopJoin Cross BuildRight") ||
      pb.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$pb")
    val pc = plan(Queries.qCohortLtv(spark, SF))
    assert(pc.contains("partial_min") || pc.contains("Partial"),
      s"the cohort min must combine map-side:\n$pc")
    val winSpec = pc.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpec.nonEmpty && winSpec.forall(_.contains("c0")),
      s"the cumulative window must stay cohort-keyed:\n$pc")
  }

  test("q_weighted_median / q_trimmed_mean: rows collapse to value cardinality before any window") {
    for (q <- Seq(Queries.qWeightedMedian(spark, SF), Queries.qTrimmedMean(spark, SF))) {
      val p = plan(q)
      // the (flag, cents) collapse must combine map-side and sit BELOW
      // the window — the window then scans value cardinality, not rows
      assert(p.contains("partial_sum") || p.contains("partial_count") ||
        p.contains("Partial"),
        s"the distinct-value collapse must combine map-side:\n$p")
      val aggIdx = p.indexOf("HashAggregate")
      val winIdx = p.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0, p)
      val winSpec = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(winSpec.nonEmpty && winSpec.forall(_.contains("l_returnflag")),
        s"windows must stay flag-keyed:\n$p")
    }
  }

  test("q_mode_stat / q_iqr_outliers: value collapse below flag-keyed windows, fences broadcast") {
    val pm = plan(Queries.qModeStat(spark, SF))
    assert(pm.contains("partial_count") || pm.contains("Partial"), pm)
    val pi = plan(Queries.qIqrOutliers(spark, SF))
    assert(pi.contains("BroadcastHashJoin"),
      s"the 3-row fence table must broadcast back:\n$pi")
    assert(!pi.contains("SortMergeJoin"), pi)
  }

  test("q_gap_interp: both carries are growing frames; never a following-frame scan") {
    val p = plan(Queries.qGapInterp(spark, SF))
    assert(!p.contains("UnboundedFollowing"),
      s"the backward carry must ride the REVERSE-ordered growing frame:\n$p")
    val winSpec = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpec.nonEmpty && winSpec.forall(_.contains("o_orderpriority")),
      s"carries must stay priority-keyed:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"daily cents must combine map-side:\n$p")
  }

  test("q_dataset_card: token stats never join the token stream on doc_id") {
    val p = plan(Queries.qDatasetCard(spark, SF))
    // source rides the explode out of the scan; the only joins merge the
    // two |sources|-bounded aggregate outputs
    assert(!p.contains("SortMergeJoin"),
      s"bounded per-source aggregates must not sort-merge:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"both aggregate grains must combine map-side:\n$p")
  }

  test("q_order_count_dist: custkey aggregate combines map-side, no cartesian") {
    val p = plan(Queries.qOrderCountDist(spark, SF))
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the per-customer count must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the zero-tail left join must stay an equi-join:\n$p")
  }

  test("q_min_price_supplier: argmin is an aggregate (no window rank); supplier broadcasts") {
    val p = plan(Queries.qMinPriceSupplier(spark, SF))
    assert(!p.contains("Window"),
      s"the per-part argmin must be a min(struct) aggregate, not a rank window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the supplier dim must broadcast onto the winner set:\n$p")
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"the offer collapse must combine map-side:\n$p")
  }

  test("q_char_ngrams: trigram stream stays pipelined; ranking window is lang-keyed") {
    val df = Queries.qCharNgrams(spark, SF)
    val p = plan(df)
    // row-local generation: Generate above the scan, below the count agg —
    // the shuffle carries (lang, trigram) partials, never the raw stream
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("windowspecdefinition(lang"),
      s"ranking window must be partitioned by lang:\n$exec")
  }

  test("q_interarrival: one user-keyed lag window, then value-collapsed crossings") {
    val df = Queries.qInterarrival(spark, SF)
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the (type, gap) collapse must combine map-side:\n$p")
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.exists(_.contains("user_id")),
      s"the gap lag must be user-partitioned:\n$exec")
    assert(specs.forall(s => s.contains("user_id") || s.contains("event_type")),
      s"every window must be user- or type-keyed (no global window):\n$exec")
  }

  test("q_norm_outliers: row-local norm, bounded fence table broadcast back") {
    val p = plan(Queries.qNormOutliers(spark, SF))
    assert(p.contains("BroadcastHashJoin"),
      s"the per-label median fence must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the fence join must stay a broadcast equi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the (label, cell) collapse must combine map-side:\n$p")
  }

  test("q_idle_customers: 1-row threshold broadcasts; zero-order test is anti-join") {
    val p = plan(Queries.qIdleCustomers(spark, SF))
    assert(p.contains("Anti"),
      s"the zero-order test must be an anti-join, not a distinct+subtract:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row stats must broadcast (threshold is integer cross-multiply):\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q_cross_source_dup: pair expansion is an fp equi-join, never a cross join") {
    val p = plan(Queries.qCrossSourceDup(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairs must form per-fingerprint (bounded source sets):\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_seasonality_index: priority-keyed share window over the bounded grid") {
    val df = Queries.qSeasonalityIndex(spark, SF)
    assert(plan(df).contains("partial_sum") || plan(df).contains("Partial"),
      s"monthly cents must combine map-side:\n${plan(df)}")
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("windowspecdefinition(o_orderpriority"),
      s"the total window must stay priority-keyed:\n$exec")
  }

  test("q_snapshot_diff: one full-outer equi-join, map-side combined readout") {
    val p = plan(Queries.qSnapshotDiff(spark, SF))
    assert(p.contains("FullOuter"),
      s"the reconciliation must be a single full-outer join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q_max_concurrency: sweep-line prefix sum never plans a global window") {
    val df = Queries.qMaxConcurrency(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    // every window is bucket- or session-keyed; the single-task
    // `row_number() OVER (ORDER BY ...)` shape must not appear
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, exec)
    assert(specs.forall(s => s.contains("__bucket") || s.contains("user_id")
      || s.contains("session_window")),
      s"sweep prefix must ride bucket-local windows, not a global sort:\n$exec")
  }

  test("q_dedup_survivorship: winner is an aggregate, join stays fp-keyed") {
    val p = plan(Queries.qDedupSurvivorship(spark, SF))
    assert(!p.contains("Window"),
      s"the survivorship winner must be max(struct), not a rank window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the map-back must be an fp equi-join:\n$p")
    assert(p.contains("partial_max") || p.contains("Partial"), p)
  }

  test("q_growth_accounting: user-keyed lag/lead, calendar-bounded readout") {
    val df = Queries.qGrowthAccounting(spark, SF)
    assert(!plan(df).contains("CartesianProduct"), plan(df))
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"the activity lag/lead must stay user-keyed:\n$exec")
  }

  test("q_quantile_normalize: global rank rides bucket-local windows only") {
    val df = Queries.qQuantileNormalize(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__bucket")),
      s"ranking must be the two-phase bucket scheme, not a global window:\n$exec")
  }

  test("q_burst_days: type-keyed bounded row frame, no unbounded-following scan") {
    val df = Queries.qBurstDays(spark, SF)
    assert(!plan(df).contains("UnboundedFollowing"), plan(df))
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      s"the trailing window must stay type-keyed:\n$exec")
  }

  test("LSH audits: the sample-K frame is a 1-row BROADCAST nest, never a cartesian") {
    // The scale-adaptive pair thinning crossJoins a 1-row aggregate (K
    // from a bucket/df histogram) against the pair stream. The pin: that
    // nest is a BroadcastNestedLoopJoin (broadcast 1-row side — free), and
    // NO CartesianProduct exists anywhere in either audit plan; a
    // cartesian here would mean the K frame lost its 1-row aggregate and
    // the "thinning" multiplied the pair stream instead.
    // declarative-plan mode: q_lsh_precision's pair stage sits behind an
    // eager r17 checkpoint cut in production; the pin is about the
    // pair-thinning construction itself
    withDeclarativePlan {
      for (q <- Seq(Queries.qLshPrecision(spark, SF), Queries.qLshRecall(spark, SF))) {
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), p)
        assert(p.contains("BroadcastNestedLoopJoin"),
          s"K-frame must broadcast into the pair stream:\n$p")
      }
    }
  }

  test("q_order_priority: EXISTS plans as one LeftSemi join, quarter filter pushed") {
    val p = plan(Queries.qOrderPriority(spark, SF))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"),
      s"the quarter filter must reach the orders scan:\n$p")
  }

  test("q_late_suppliers: one-pass aggregate rewrite — no EXISTS self-joins, supplier broadcast") {
    val p = plan(Queries.qLateSuppliers(spark, SF))
    // the textbook form scans lineitem three times; the rewrite exactly once
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(scans == 1, s"lineitem must be scanned once, found $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_bollinger: priority-keyed bounded ROWS frame, never a global window") {
    val df = Queries.qBollinger(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("o_orderpriority")),
      s"the band window must stay priority-keyed:\n$exec")
    assert(!exec.contains("UnboundedFollowing"), exec)
  }

  test("q_ndcg: probes broadcast into the candidate scan; rank window stays probe-keyed") {
    val df = Queries.qNdcg(spark, SF)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"the probe nest must broadcast, never a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("q_id")),
      s"the rank window must be partitioned by probe:\n$exec")
  }

  test("q_feature_hash / q_doc_entropy: map-side-combinable, no windows") {
    for (df <- Seq(Queries.qFeatureHash(spark, SF), Queries.qDocEntropy(spark, SF))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"token stats must not need a window:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum") ||
        p.contains("Functions [partial"), p)
    }
  }

  test("q_mips / q_bpe_merges: top-k via TakeOrdered, never a global sort") {
    for (df <- Seq(Queries.qMips(spark, SF), Queries.qBpeMerges(spark, SF))) {
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("Exchange rangepartitioning"),
        s"top-k must not range-shuffle the whole input:\n$p")
    }
  }

  test("q_clustering_coeff: wedge join stays equi, never cartesian") {
    val p = plan(Queries.qClusteringCoeff(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration must be equi-joined:\n$p")
  }

  test("q_nation_profit: part/supplier dims broadcast, fact shuffles once for the grid") {
    val p = plan(Queries.qNationProfit(spark, SF))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"at fixture scale both dims must broadcast — the fact side never sorts:\n$p")
    assert(p.contains("partial_sum") || p.contains("Functions [partial"), p)
  }

  test("q_part_supplier_counts: distinct-pair collapse first, blacklist anti-join broadcast") {
    val p = plan(Queries.qPartSupplierCounts(spark, SF))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_dominant_supplier: pair and total grains share one fact scan (exchange reuse)") {
    val df = Queries.qDominantSupplier(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("ReusedExchange") || exec.contains("TableCacheQueryStage")
      || exec.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan")) <= 2,
      s"the per-part total must re-aggregate the pair grain, not rescan the fact:\n$exec")
    assert(plan(df).contains("TakeOrderedAndProject"), plan(df))
  }

  test("q_blocklist_filter: row-local membership — no token-stream explode, no join") {
    val p = plan(Queries.qBlocklistFilter(spark, SF))
    assert(!p.contains("Generate"),
      s"the membership test must ride the token array, not an explode:\n$p")
    assert(!p.contains("Join"), s"a literal blocklist needs no join:\n$p")
  }

  test("q_attribution / q_late_arrivals: carry windows stay user-keyed") {
    for (df <- Seq(Queries.qAttribution(spark, SF), Queries.qLateArrivals(spark, SF))) {
      df.collect()
      val exec = df.queryExecution.executedPlan.toString
      val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
        s"the high-water/last-touch carry must never be a global window:\n$exec")
      assert(!exec.contains("CartesianProduct"), exec)
    }
  }

  test("q_ann_pq: sub-centroid table broadcasts; assignment folds map-side") {
    val p = plan(Queries.qAnnPq(spark, SF))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the 16-row sub-centroid/probe tables must broadcast:\n$p")
    assert(p.contains("partial_min") || p.contains("Functions [partial"),
      s"the argmin fold must combine map-side:\n$p")
  }

  test("q_quantized_rerank: both ranking stages are TakeOrdered, never a global sort") {
    val p = plan(Queries.qQuantizedRerank(spark, SF))
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
      s"prefilter top-50 and rerank top-10 must both be TakeOrdered:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"neither stage may range-shuffle the corpus:\n$p")
  }

  test("q_bigram_ppx: no windows in the scoring path, count joins stay equi") {
    val p = plan(Queries.qBigramPpx(spark, SF))
    assert(!p.contains("Window"),
      s"bigrams must form row-locally (native shingles), not via a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("Functions [partial"), p)
  }

  test("q_pit_join: interval lookup is equi-keyed on the customer, never a nested loop") {
    val df = Queries.qPitJoin(spark, SF)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the PIT join must be equi on the customer key with the interval as residual:\n$p")
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("o_custkey")),
      s"the SCD2 build must stay customer-keyed:\n$exec")
  }

  test("q_negative_sample: bounded pool nest + co-keyed anti-join") {
    val df = Queries.qNegativeSample(spark, SF)
    val p = plan(df)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    df.collect()
    // exactly one nested-loop nest is DECLARED: users × the 50-part pool
    // (count only the AQE final plan — the string echoes the initial plan too)
    val exec = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(exec.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 1,
      s"only the bounded candidate-pool nest may be non-equi:\n$exec")
  }

  test("q_kmv_distinct: every rank window is partitioned — no single-task sort") {
    val df = Queries.qKmvDistinct(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      s"KMV k-smallest must rank inside (event_type[, range-bucket]) partitions:\n$exec")
    // phase 1 must carry the range-bucket key so its partitions stay
    // balanced and bounded as the distinct-hash set grows
    assert(specs.exists(_.contains("hb")),
      s"the bucketed phase-1 window is the scale guard:\n$exec")
  }

  test("q_cms_estimate: TakeOrdered readout, broadcast counter join") {
    val df = Queries.qCmsEstimate(spark, SF)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the d·w counter table must broadcast:\n$p")
  }

  test("q_pii_redact: token join is co-keyed hash/merge on pseudo — never a nested loop") {
    val df = Queries.qPiiRedact(spark, SF)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pseudonym join must shuffle exactly like the raw-key join it replaces:\n$p")
    // the join is keyed on the salted token, so the raw key never crosses it
    val keyLines = p.linesIterator.filter(l =>
      l.contains("Left keys") || l.contains("Right keys")).toSeq
    assert(keyLines.nonEmpty && keyLines.forall(_.contains("pseudo")),
      s"the join key must be the pseudonym, not the raw id:\n$p")
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"the event rollup must combine map-side:\n$p")
  }

  test("q_k_anonymity: two map-side-combinable aggregates — no joins, no windows") {
    val p = plan(Queries.qKAnonymity(spark, SF))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the census must be pure aggregation:\n$p")
    assert(p.contains("partial_count") || p.contains("Functions [partial"), p)
  }

  test("q_zorder_layout: exactly one 1-row stats nest, never a cartesian") {
    val df = Queries.qZorderLayout(spark, SF)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"the min/max stats must broadcast as a 1-row nest:\n$p")
    df.collect()
    // count only the AQE final plan — the string echoes the initial plan too
    val exec = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(exec.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 1,
      s"only the 1-row domain-stats broadcast may be non-equi:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_compaction_plan: prefix sum stays bucket-partitioned — no single-task window") {
    val df = Queries.qCompactionPlan(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__bucket")),
      s"the planner's running total must be the two-phase bucketed form:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_substring_dedup: shingle-df semi join, doc-keyed windows — no pair expansion") {
    val df = Queries.qSubstringDedup(spark, SF)
    val p = plan(df)
    assert(p.contains("LeftSemi"),
      s"dup-shingle membership must flow back as a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must never expand pairs:\n$p")
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id")),
      s"the span-union window must stay doc-keyed (bounded by one document):\n$exec")
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"the shingle-df count must combine map-side:\n$p")
  }

  test("q_closed_sessions: every window is user-keyed — no global sort of the log") {
    val df = Queries.qClosedSessions(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"sessionization must stay user-keyed:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      exec)
  }

  test("q_kmv_set_ops: side sketches rank bucketed; only the ≤2K-row merge is single-partition") {
    val df = Queries.qKmvSetOps(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, exec)
    // every window over the raw distinct-hash set carries the side key
    // (phase 1 additionally the range bucket); the one single-partition
    // window is the DECLARED union-sketch merge over ≤2K sketch rows
    val unkeyed = specs.filterNot(_.contains("side"))
    // the merge window appears once per consumer (stats + shared) × the
    // initial/final AQE echo — but EVERY unkeyed spec must be that ≤2K-row
    // merge rank (ORDER BY h, row frame), never a rank over the raw hash set
    assert(unkeyed.nonEmpty && unkeyed.size <= 4 &&
      unkeyed.forall(s => s.contains("h#") && !s.contains("hb")),
      s"only the bounded sketch-merge window may drop the side key:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"1-row combines must broadcast, never cartesian:\n$exec")
  }

  test("q_hist_quantiles: exact ranks two-phase bucketed; only the 64-row histogram cumsum is global") {
    val df = Queries.qHistQuantiles(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, exec)
    // the exact-order-statistic path must rank inside __bucket partitions;
    // the only unpartitioned window is the cumulative sum over the ≤64-row
    // histogram (ORDER BY the bucket id)
    val unkeyed = specs.filterNot(_.contains("__bucket"))
    assert(unkeyed.forall(_.contains("b#")),
      s"only the bounded histogram cumsum may be single-partition:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_setsim_join: candidates equi-join on the shingle — never an all-pairs nest") {
    val p = plan(Queries.qSetsimJoin(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the prefix self-join must stay shingle-keyed:\n$p")
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"df and intersection counts must combine map-side:\n$p")
  }

  test("q_ndv_stats: Expand distinct pass + plain min/max pass, 1-row nest combine") {
    val p = plan(Queries.qNdvStats(spark, SF))
    assert(p.contains("Expand"),
      s"multi-column distinct must plan as the single Expand pass:\n$p")
    assert(p.contains("partial_count") || p.contains("Functions [partial"), p)
    // the regular aggregates must NOT ride the Expand (measured 7× slower
    // mixed in at sf0.1) — they form a second 1-row aggregate combined by
    // a broadcast nest; no real join, no window
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the two 1-row stat frames combine in a broadcast nest:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
  }

  test("q_join_size_est: map-side sketch build; the only window ranks the 9-row median frame") {
    val df = Queries.qJoinSizeEst(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"per-key counts and counters must combine map-side:\n$exec")
    // every window is the bounded median rank over the d=9 estimate rows
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s => s.contains("ip#") && !s.contains("bucket")),
      s"only the 9-row median rank may be a window:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"the 1-row exact/estimate combine must broadcast, never cartesian:\n$exec")
  }

  test("q_ams_f2: map-side sketch build; the only window ranks the 9-row median frame") {
    val df = Queries.qAmsF2(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"per-key counts and bucket sums must combine map-side:\n$exec")
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s => s.contains("estj#") && !s.contains("bucket")),
      s"only the 9-row median rank may be a window:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"the 1-row exact/estimate combine must broadcast, never cartesian:\n$exec")
  }

  test("q_mrr: probes broadcast; every candidate ranking stays probe-keyed") {
    val df = Queries.qMrr(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("q_id")),
      s"candidate rankings must partition by probe (the q_ndcg shape):\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 10-row probe table must broadcast into the scan:\n$exec")
  }

  test("q_rank_fusion: both top-20s are TakeOrdered; windows rank only the 20-row lists") {
    val df = Queries.qRankFusion(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"),
      s"ranker top-20s must never globally sort the corpus:\n$exec")
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s =>
      s.contains("simr#") || s.contains("dotr#")),
      s"windows may rank only the materialized 20-row lists:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_dsir_weights: broadcast 256-row ratio table, map-side sums, no windows") {
    val df = Queries.qDsirWeights(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"bucket counts and per-doc sums must combine map-side:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the 256-row ratio table must broadcast into the token stream:\n$exec")
    assert(!exec.contains("Window") && !exec.contains("CartesianProduct"),
      s"scoring is linear — no windows, no pairs:\n$exec")
  }

  test("q_chi2_tokens: map-side counts, broadcast total, TakeOrdered top-20") {
    val df = Queries.qChi2Tokens(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-20 must never globally sort the token table:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"), exec)
    assert(!exec.contains("Window") && !exec.contains("CartesianProduct"),
      s"the statistic is row-local over counts:\n$exec")
  }

  test("q_group_quantiles: every window carries the nation key; audit ranks only target buckets") {
    val df = Queries.qGroupQuantiles(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("nation")),
      s"no global window may exist — cumsum and audit rank are nation-keyed:\n$exec")
    // the exact audit must additionally partition by bucket (the sketch
    // bounds its own audit: frames are ~1/B of a nation, never the nation)
    assert(specs.exists(s => s.contains("b#") && s.contains("__p")),
      s"the order-statistic rank must stay (nation, bucket, target)-keyed:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_temperature_mix: map-side census, 1-row total broadcast, no windows") {
    val df = Queries.qTemperatureMix(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the per-source census must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 1-row total must broadcast, never cartesian:\n$exec")
    assert(!exec.contains("Window"), s"share arithmetic is row-local:\n$exec")
  }

  test("q_dp_counts: two map-side aggregate levels, row-local noise, no windows") {
    val df = Queries.qDpCounts(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the (type, user) census must combine map-side:\n$exec")
    assert(!exec.contains("Window") && !exec.contains("CartesianProduct"),
      s"clip + noise are aggregate/row-local work:\n$exec")
  }

  test("q_maxsim: query bag broadcasts; maxes and sums combine map-side; top-10 is TakeOrdered") {
    val df = Queries.qMaxsim(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 8-row query bag must broadcast into the token scan:\n$exec")
    assert(exec.contains("partial_max"),
      s"the per-(doc, query-token) max must combine map-side:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-10 must never globally sort the corpus:\n$exec")
    assert(!exec.contains("Window"), exec)
  }

  test("q_l_diversity: single-table aggregate chain — no joins, no windows") {
    val df = Queries.qLDiversity(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"band and class censuses must combine map-side:\n$exec")
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"the audit is one aggregate chain over customer:\n$exec")
  }

  test("q_t_closeness: bounded broadcasts build the grid — never a cartesian; censuses map-side") {
    val df = Queries.qTCloseness(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the |bands| and 1-row total frames must broadcast:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("partial_sum"),
      s"the (class, band) / band censuses must combine map-side:\n$exec")
    // the cumulative window must be keyed by the class — never a single
    // global partition over the grid
    val winLine = exec.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("nation"), s"window must partition by class:\n$winLine")
  }

  test("q_winnow_fingerprint: doc-keyed window, no cartesian, doc-grain map-side rollup") {
    val df = Queries.qWinnowFingerprint(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"winnowing is join-free until the doc-keyed readout join:\n$exec")
    val winLine = exec.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("doc_id"),
      s"the sliding frame must partition by doc (bounded by one document):\n$winLine")
    assert(exec.contains("partial_count") || exec.contains("partial_sum"),
      s"the fingerprint rollup must combine map-side:\n$exec")
  }

  test("q_triplet_mine: anchors broadcast, conditional argmaxes map-side, no windows") {
    val df = Queries.qTripletMine(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 8-row anchor frame must broadcast into the candidate scan:\n$exec")
    assert(exec.contains("partial_max"),
      s"the per-anchor argmaxes must combine map-side:\n$exec")
    assert(!exec.contains("Window"), s"triplet mining needs no window:\n$exec")
  }

  test("q_preference_pairs: join-free group extremes — map-side struct argmax, no windows") {
    val df = Queries.qPreferencePairs(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"one scored scan + one group aggregate:\n$exec")
    assert(exec.contains("partial_max") && exec.contains("partial_min"),
      s"chosen/rejected extremes must combine map-side:\n$exec")
  }

  test("q_winnow_matches: fingerprint-keyed equi join — never a cartesian or unkeyed nest") {
    val df = Queries.qWinnowMatches(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"pairs exist only inside a shared fingerprint's bucket:\n$exec")
    val winLine = exec.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("doc_id"),
      s"the winnow frame must partition by doc:\n$winLine")
  }

  test("q_embed_dim_stats: join-free 64-group census, map-side partials, no windows") {
    val df = Queries.qEmbedDimStats(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"one posexplode + one dim-grain aggregate:\n$exec")
    assert(exec.contains("partial_sum"),
      s"the moment sums must combine map-side:\n$exec")
  }

  test("q_cluster_purity: inlined-centroid assignment — join-free, map-side, no windows") {
    val df = Queries.qClusterPurity(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"assignment is a row-local projection against inlined centroids:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("partial_sum"),
      s"the (cluster, label) census must combine map-side:\n$exec")
  }

  test("q_random_projection: sign table broadcasts; pair join is keyed; sums map-side") {
    val df = Queries.qRandomProjection(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 16-row sign table must broadcast into the pair scan:\n$exec")
    assert(exec.contains("partial_sum"),
      s"the projected-distance sum must combine map-side:\n$exec")
    assert(!exec.contains("Window"), exec)
  }

  test("q_kl_divergence: token-keyed corpus join, bounded broadcasts, map-side sums") {
    val df = Queries.qKlDivergence(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total must broadcast:\n$exec")
    assert(exec.contains("partial_sum"),
      s"token counts and the term sum must combine map-side:\n$exec")
    assert(!exec.contains("Window"), exec)
  }

  test("q_mutual_info: bounded-grid broadcast joins only — no cartesian, no windows") {
    val df = Queries.qMutualInfo(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"every join is a bounded-frame broadcast:\n$exec")
    assert(!exec.contains("Window"), exec)
    assert(exec.contains("partial_sum"), exec)
  }

  test("q_js_sources: token-keyed pair join — never a cartesian or unkeyed nest") {
    val df = Queries.qJsSources(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"pairs exist only inside a shared token's bucket:\n$exec")
    assert(!exec.contains("Window"), exec)
    assert(exec.contains("partial_sum"),
      s"shares and term sums must combine map-side:\n$exec")
  }

  test("q_survival_curve: customer-keyed gap window, map-side census, horizon broadcast") {
    val df = Queries.qSurvivalCurve(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row horizon must broadcast:\n$exec")
    val gapWin = exec.linesIterator.find(l =>
      l.contains("windowspecdefinition") && l.contains("o_custkey")).getOrElse("")
    assert(gapWin.nonEmpty,
      s"the gap derivation must partition by customer:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("partial_count"),
      s"the (time, event) census must combine map-side:\n$exec")
  }

  test("q_gini_split: stats broadcast, bucket census map-side — never a cartesian") {
    val df = Queries.qGiniSplit(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 1-row min/max/total frame must broadcast:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("partial_sum"),
      s"the bucket census must combine map-side:\n$exec")
  }

  test("q_psi_drift: binned map-side census, bounded broadcasts, no windows") {
    val df = Queries.qPsiDrift(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the stats and totals frames must broadcast:\n$exec")
    assert(!exec.contains("Window"), s"PSI is census + row-local terms:\n$exec")
    assert(exec.contains("partial_sum"), exec)
  }

  test("q_bootstrap_ci: replicate sums combine map-side; expansion never shuffles raw rows") {
    val df = Queries.qBootstrapCi(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row CI frame must broadcast onto the totals:\n$exec")
    assert(exec.contains("partial_sum"),
      s"the 64 replicate sums must combine map-side before the exchange:\n$exec")
  }

  test("q_seasonal_decompose: map-side day census; seasonal broadcast; no cartesian") {
    val df = Queries.qSeasonalDecompose(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum"),
      s"the day census must combine map-side over the scan:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the 7-row seasonal table must broadcast back onto the series:\n$exec")
  }

  test("q_mmr_rerank: corpus pass is TakeOrdered; greedy result is a bounded local table") {
    // The corpus-sized work lives in mmrPool (Queries.scala) — pin THAT plan.
    val pool = Queries.mmrPool(spark, SF)
    pool.collect()
    val poolExec = pool.queryExecution.executedPlan.toString
    assert(poolExec.contains("TakeOrderedAndProject"),
      s"the top-20 pool must never globally sort the corpus:\n$poolExec")
    assert(poolExec.contains("BroadcastNestedLoopJoin") && !poolExec.contains("CartesianProduct"),
      s"the 1-row probe rides a broadcast, never a cartesian:\n$poolExec")
    // The public query's own plan must be a LocalTableScan of exactly 5 rows —
    // proof that the greedy loop is a bounded driver step, not a corpus pass.
    val df = Queries.qMmrRerank(spark, SF)
    val rows = df.collect()
    assert(rows.length == 5, s"MMR selects exactly 5 documents, got ${rows.length}")
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("LocalTableScan"),
      s"the greedy steps run on a bounded driver-side pool:\n$exec")
  }

  test("q_topk_churn: month-partitioned ranking window, map-side census, no cartesian") {
    // declarative-plan mode: `top` is checkpoint-cut in production (r17)
    val df = withDeclarativePlan(Queries.qTopkChurn(spark, SF))
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    val winLine = exec.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("month"),
      s"the top-10 ranking must partition by month:\n$winLine")
    assert(exec.contains("partial_sum"),
      s"the (month, part) census must combine map-side:\n$exec")
  }

  test("q_frame_sample: schedule computed from metadata alone — text never read") {
    val p = plan(Queries.qFrameSample(spark, SF))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id"), p)
    assert(!readSchema.contains("text"),
      s"the schedule must not scan the content/text column:\n$readSchema")
  }

  test("q_hll_distinct: mergeable-sketch shape — register max combines map-side") {
    val df = Queries.qHllDistinct(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_max") || exec.contains("Functions [partial"),
      s"the (group, bucket) register max must combine map-side:\n$exec")
  }

  test("q_lm_perplexity: token-keyed scoring joins; V rides a broadcast; no cartesian") {
    val df = Queries.qLmPerplexity(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum") || exec.contains("partial_count"),
      s"the bigram census must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin") || exec.contains("BroadcastHashJoin"),
      s"the 1-row vocabulary size must broadcast:\n$exec")
  }

  test("q_brier_calibration: one map-side census into a bounded bin grid") {
    val df = Queries.qBrierCalibration(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the bin census must combine map-side:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the 10-row grid join must broadcast:\n$exec")
  }

  test("q_watermark_fit: user-keyed running max — never a global event sort") {
    val df = Queries.qWatermarkFit(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    val winLine = exec.linesIterator
      .find(l => l.contains("windowspecdefinition") && l.contains("ts_us"))
      .getOrElse("")
    assert(winLine.contains("user_id"),
      s"the lateness window must partition by user:\n$winLine")
    assert(exec.contains("partial_sum") || exec.contains("partial_count") ||
      exec.contains("Functions [partial"),
      s"the bucket census must combine map-side:\n$exec")
  }

  test("q_oov_rate: TakeOrdered vocab + broadcast scoring join") {
    val df = Queries.qOovRate(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-1000 vocab must never globally sort the token census:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the 1000-row vocab must broadcast into the scoring pass:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_bpe_apply: winner rides a broadcast; vocab-only recount; TakeOrdered") {
    val df = Queries.qBpeApply(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"the 1-row winning merge must ride a broadcast:\n$exec")
  }

  test("q_link_predict: wedge equi-join on the center — never an all-pairs nest") {
    val df = Queries.qLinkPredict(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the center-keyed wedge join only:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-50 readout must never globally sort the candidate set:\n$exec")
  }

  test("q_isotonic_calibrate: one corpus census; minimax entirely on broadcast frames") {
    val df = Queries.qIsotonicCalibrate(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"every minimax join runs on ≤220-row broadcast frames:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the bin census must combine map-side:\n$exec")
  }

  test("q_er_weights: block-keyed pair join; weights ride a broadcast; TakeOrdered") {
    val df = Queries.qErWeights(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("TakeOrderedAndProject"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin") || exec.contains("BroadcastHashJoin"),
      s"the 1-row weight table must broadcast:\n$exec")
  }

  test("q_neyman_alloc: one stratum census; apportionment on the bounded frame") {
    val df = Queries.qNeymanAlloc(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the stratum census must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals ride broadcasts:\n$exec")
  }

  test("q_naive_forecast: lag window runs on the calendar-bounded day frame") {
    val df = Queries.qNaiveForecast(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the daily census must combine map-side BELOW the lag window:\n$exec")
  }

  test("q_freshness_decay: 1-row max broadcast; map-side decayed census") {
    val df = Queries.qFreshnessDecay(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the corpus-max timestamp must ride a broadcast:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the per-type decayed census must combine map-side:\n$exec")
  }

  test("q_part_top_shipments: partial aggregation, no window over the fact table") {
    val df = Queries.qPartTopShipments(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("windowspecdefinition"),
      s"the aggregator path must never window-sort the fact table:\n$exec")
    assert(exec.contains("ObjectHashAggregate") || exec.contains("SortAggregate"),
      s"the typed top-k must plan as an aggregate:\n$exec")
    // the map-side partial is the whole point: shuffle carries k rows/group
    assert(exec.contains("partial_topkagg") || exec.contains("partial_"),
      s"the top-k buffers must combine map-side:\n$exec")
  }

  test("q_ipf_raking: corpus censuses map-side; raking rounds broadcast-only") {
    val df = Queries.qIpfRaking(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"every raking join runs on the 125-row broadcast grid:\n$exec")
  }

  test("q_markov_attribution: chain math is a bounded driver step (LocalTableScan)") {
    val df = Queries.qMarkovAttribution(spark, SF)
    val rows = df.collect()
    assert(rows.length <= 10, s"bounded channel output, got ${rows.length}")
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("LocalTableScan"),
      s"the absorption iterations run on the collected ≤49-row matrix:\n$exec")
  }

  test("q_temperature_fit: grid rides a broadcast; 16 totals combine map-side") {
    val df = Queries.qTemperatureFit(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 16-row tau grid must broadcast into the scan:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"per-tau NLL totals must combine map-side:\n$exec")
  }

  test("q_pca_power: melted 64-group censuses only — never a vec-keyed exchange") {
    val df = Queries.qPcaPower(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("hashpartitioning(vec_id"),
      s"the matvec must never shuffle at the vector grain:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the per-dim censuses must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row mean array must ride a broadcast:\n$exec")
  }

  test("q_jaro_er: vocab census first, noun-blocked equi-join, native jw codegen") {
    val df = Queries.qJaroEr(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("NestedLoop"),
      s"blocking must be an equi-join on the noun:\n$exec")
    assert(exec.contains("jaro_winkler"),
      s"the native expression must appear in the physical plan:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the name-vocabulary census must combine map-side before the join:\n$exec")
  }

  test("q_shapley_attribution: one user census; every post-census join broadcast") {
    val df = Queries.qShapleyAttribution(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"subset-grid and channel joins run on ≤16-row broadcast frames:\n$exec")
    assert(exec.contains("partial_"),
      s"the user-mask census must combine map-side:\n$exec")
  }

  test("q_frequent_triples: L2/candidate prunes broadcast; no pair blowup path") {
    val df = Queries.qFrequentTriples(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("NestedLoop"),
      s"all joins equi-keyed on the basket:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the frequency-pruned L2/candidate frames must broadcast:\n$exec")
  }

  test("q_cuped: user census map-side; pooled moments ride one 1-row broadcast") {
    val df = Queries.qCuped(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"the only join is the broadcast pooled-moment frame:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"theta/varred must ride a 1-row broadcast back over users:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the per-user census must combine map-side:\n$exec")
  }

  test("q_ols_closed: one scan, one map-side census, zero joins") {
    val df = Queries.qOlsClosed(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"), s"the closed form needs no join at all:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the nine power sums must combine map-side:\n$exec")
  }

  test("q_logistic_step: weights ride broadcasts; gradients combine map-side") {
    val df = Queries.qLogisticStep(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"the 1-row weight frames must broadcast into each scan:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"per-step gradient totals must combine map-side:\n$exec")
  }

  test("q_merkle_diff: row-grain diff runs behind a broadcast dirty-bucket semi") {
    // declarative-plan mode: `dirty` is checkpoint-cut in production (r17)
    val df = withDeclarativePlan(Queries.qMerkleDiff(spark, SF))
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("NestedLoop"), exec)
    assert(exec.contains("LeftSemi"),
      s"only dirty buckets' rows may enter the row-grain diff:\n$exec")
    // r17: the fused two-sided checksum census counts via sum(), so the
    // map-side combine prints as partial_sum (was partial_count)
    assert(exec.contains("partial_sum") || exec.contains("partial_count") ||
      exec.contains("Functions [partial"),
      s"bucket checksums must combine map-side:\n$exec")
  }

  test("q_sprt: running LLR is bucket-partitioned, never a one-task stream fold") {
    val df = Queries.qSprt(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("hashpartitioning(__bucket") ||
      exec.contains("hashpartitioning(knownfloatingpointnormalized"),
      s"the prefix sum must run on value buckets:\n$exec")
    val winLines = exec.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("__bucket")),
      s"every window must be bucket-keyed:\n$exec")
  }

  test("q_xcorr_leadlag: every join runs on the calendar-bounded daily frame") {
    val df = Queries.qXcorrLeadlag(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(!exec.contains("SortMergeJoin"),
      s"daily census and lag grid are broadcast-sized:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the daily census must combine map-side:\n$exec")
  }

  test("q_mcnemar: one user census, single-row readout, no joins") {
    val df = Queries.qMcnemar(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"), s"no join belongs in a paired census:\n$exec")
    assert(exec.contains("partial_max") || exec.contains("Functions [partial"),
      s"the per-user flags must combine map-side:\n$exec")
  }

  test("q_jackknife_sources: |sources| census with a 1-row pooled broadcast") {
    val df = Queries.qJackknifeSources(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the pooled totals must ride a 1-row broadcast:\n$exec")
  }

  test("q_bradley_terry: basket-bounded pair census cut once; TakeOrdered readout") {
    val df = Queries.qBradleyTerry(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("NestedLoop"), exec)
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-20 must never globally sort:\n$exec")
    // the truncate shows as a scan of the checkpointed pair census — the
    // expensive self-join must appear ZERO times in this downstream plan
    assert(!exec.contains("SortMergeJoin [k"),
      s"the basket self-join must be cut out by the checkpoint:\n$exec")
  }

  test("q_crossval_ols: two passes — fold census + broadcast-model scoring") {
    val df = Queries.qCrossvalOls(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"the 5-row model frame must broadcast into the scoring scan:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"row→fold-model lookup must be a broadcast hash join:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"both censuses must combine map-side:\n$exec")
  }

  test("q_uncertainty_sample: 1-row weight broadcast + TakeOrdered readout") {
    val df = Queries.qUncertaintySample(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the weight frame must ride a 1-row broadcast:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-20 must never globally sort:\n$exec")
  }

  test("q_bom_rollup: hierarchy is key arithmetic — zero joins past the censuses") {
    val df = Queries.qBomRollup(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"ancestors come from div-arithmetic, never a hierarchy join:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"both rollup levels must combine map-side:\n$exec")
  }

  test("q_permutation_test: 64x expansion combines map-side to 65 cells") {
    val df = Queries.qPermutationTest(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the rep grid and observed contrast ride broadcasts:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"per-rep sums must combine map-side before the exchange:\n$exec")
  }

  test("q_pagerank_iter: bounded trace; loop capped; rounds cut per iteration") {
    val (df, rounds) = Queries.pagerankTrace(spark, SF)
    assert(rounds <= Queries.PrCap)
    val rows = df.collect()
    assert(rows.length == Queries.PrCap, "trace always emits PrCap rows")
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("LocalTableScan"),
      s"the trace itself is a bounded local frame (the per-round work ran " +
        s"as checkpoint-cut jobs):\n$exec")
  }

  test("q_graph_modularity: brand dim broadcast onto both endpoints; bounded output") {
    val df = Queries.qGraphModularity(spark, SF)
    val rows = df.collect()
    assert(rows.length <= 30, "output bounded by |brands|")
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastHashJoin"),
      s"the brand dim must broadcast, never shuffle the edge stream extra:\n$exec")
  }

  test("q_assortativity: degree joins equi-keyed; single-row readout") {
    val df = Queries.qAssortativity(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("NestedLoop"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the moment sums must combine map-side:\n$exec")
  }

  test("q_mann_whitney: rank prefix is bucket-partitioned, census map-side") {
    val df = Queries.qMannWhitney(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    val winLines = exec.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("__bucket")),
      s"the rank-before prefix must run on value buckets:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the value census must combine map-side:\n$exec")
  }

  test("q_rule_confidence: item counts broadcast; TakeOrdered readout") {
    val df = Queries.qRuleConfidence(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    // (the 1-row order-count frame legitimately rides a BroadcastNestedLoopJoin)
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("TakeOrderedAndProject"), exec)
    assert(exec.contains("BroadcastHashJoin"),
      s"item supports must broadcast onto the rule stream:\n$exec")
  }

  test("q_fdr_bh: 64x census map-side; step-up on the bounded brand frame") {
    val df = Queries.qFdrBh(spark, SF)
    val rows = df.collect()
    assert(rows.length <= 30, "bounded by |brands|")
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the (brand, rep) census must combine map-side:\n$exec")
  }

  test("q_power_analysis: one census, no joins, single-row readout") {
    val df = Queries.qPowerAnalysis(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"), s"the design readout needs no join:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the moment census must combine map-side:\n$exec")
  }

  test("q_ess_weights: |sources| census; pooled row via union, not a rescan join") {
    val df = Queries.qEssWeights(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"), s"pooled totals re-aggregate the census:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the source census must combine map-side:\n$exec")
  }

  test("q_propensity_strata: bounded strata frame; pooled ATE rides a broadcast") {
    val df = Queries.qPropensityStrata(spark, SF)
    val rows = df.collect()
    assert(rows.length <= 10, "declared bands bound the output")
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row pooled ATE must broadcast:\n$exec")
    assert(exec.contains("partial_max") || exec.contains("Functions [partial"),
      s"the per-order outcome flag must combine map-side:\n$exec")
  }

  test("q_kn_smooth: token-keyed censuses; TakeOrdered readout") {
    val df = Queries.qKnSmooth(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-20 must never globally sort:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the bigram census must combine map-side:\n$exec")
  }

  test("q_wilson_ci and q_cohens_kappa: join-free single-census readouts") {
    Seq(Queries.qWilsonCi _, Queries.qCohensKappa _).foreach { q =>
      val df = q(spark, SF)
      df.collect()
      val exec = df.queryExecution.executedPlan.toString
      assert(!exec.contains("Join"), s"one census, no join:\n$exec")
      assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
        s"the census must combine map-side:\n$exec")
    }
  }

  test("q_kendall_tau: one TakeOrdered corpus pass; pairs on the broadcast 20") {
    val df = Queries.qKendallTau(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
    assert(exec.contains("TakeOrderedAndProject"),
      s"the corpus sees exactly one top-k pass:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the revenue census must combine map-side:\n$exec")
  }

  test("q_silhouette: one broadcast-expression scan, no joins, 8-row output") {
    val df = Queries.qSilhouette(spark, SF)
    val rows = df.collect()
    assert(rows.length <= 8)
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"),
      s"centroids are baked literals — the scan needs no join:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"per-cluster sums must combine map-side:\n$exec")
  }

  test("q_simpson_reversal: dim broadcast; census map-side; pooled 1-row broadcast") {
    val df = Queries.qSimpsonReversal(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"), exec)
    assert(exec.contains("BroadcastHashJoin"),
      s"the part dim must broadcast into the fact scan:\n$exec")
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the brand census must combine map-side:\n$exec")
  }

  test("q_stream_interval_join: user-keyed equi join, range as filter, no cartesian") {
    val df = Queries.qStreamIntervalJoin(spark, SF)
    val p = plan(df)
    // the join must key on user_id (hash/merge equi join at any scale) with
    // the ±30 min band riding as a join filter — a time-theta-only plan
    // would be a cartesian per user at 100 TB
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // batch execution of the streaming operator: watermark nodes eliminated
    assert(!df.queryExecution.optimizedPlan.toString.contains("EventTimeWatermark"))
  }

  test("q_ddsketch_quantiles: census map-side; only bounded-frame windows unkeyed") {
    val df = Queries.qDdsketchQuantiles(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("partial_count") || exec.contains("Functions [partial"),
      s"the (month, bucket) census must combine map-side:\n$exec")
    // same discipline as q_hist_quantiles: the exact-order-statistic path
    // ranks inside __bucket partitions; the only unpartitioned window is
    // the cumulative sum over the bounded log-bucket table
    val specs = exec.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, exec)
    val unkeyed = specs.filterNot(_.contains("__bucket"))
    assert(unkeyed.forall(_.contains("bkt#")),
      s"only the bounded sketch cumsum may be single-partition:\n$exec")
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("q_simhash_portable: vote census map-side; block-keyed pair join, no all-pairs") {
    val df = Queries.qSimhashPortable(spark, SF)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoop"),
      s"the pair expansion must stay block-keyed:\n$exec")
    assert(exec.contains("partial_sum") || exec.contains("Functions [partial"),
      s"the 32 bit-votes must combine map-side in one census:\n$exec")
  }

  test("q_ann_ivf_recall: one TakeOrdered corpus pass; bounded frames broadcast") {
    val df = Queries.qAnnIvfRecall(spark, SF)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact top-10 must be a per-partition heap, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"every post-TakeOrdered frame is bounded — all joins must broadcast:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchema.contains("label"),
      s"the label column must never be read:\n$readSchema")
  }
}
