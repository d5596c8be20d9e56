package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed graph kernels over plain edge-list DataFrames — the
  * relational formulation (joins + aggregates), never a driver-side
  * adjacency structure. The reference delegates all graph-shaped
  * analytics to its warehouse tier (SURVEY.md §3.3); these are the
  * Spark-native equivalents.
  *
  * Three building blocks every graph query composes, each defined once:
  *  - [[coOccurrence]]: the undirected edge build — item pairs that share
  *    at least `minSupport` baskets;
  *  - [[symmetric]]: both directions of every edge, in one scan;
  *  - [[degrees]]: the per-node degree census, in one scan.
  */
object Graph {

  /** Co-occurrence edges: item pairs `(pa, pb)` with `pa < pb` that share
    * at least `minSupport` distinct baskets, with their shared-basket
    * count `c`. A duplicated `(basket, item)` row counts once. The pair
    * expansion is one self-equi-join of the distinct rows under the
    * basket key — bounded by basket size, never a cross join. */
  def coOccurrence(rows: DataFrame, basket: String, item: String,
                   minSupport: Int): DataFrame = {
    val bi = rows.select(col(basket), col(item)).distinct()
    bi.as("a")
      .join(bi.as("b"), col(s"a.$basket") === col(s"b.$basket") &&
        col(s"a.$item") < col(s"b.$item"))
      .groupBy(col(s"a.$item").as("pa"), col(s"b.$item").as("pb"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= minSupport)
  }

  /** Both directions of every edge of `e` as `(src, dst)`, from ONE scan:
    * an `explode` of the two directed structs per edge row. Never the
    * two-branch `unionAll` form: `e` is declarative, so each textual
    * reference to it re-runs its whole build (for [[coOccurrence]], three
    * shuffles), and executed plans show no runtime stage reuse between
    * the two branches.
    *
    * An edge with a null endpoint names no node and is dropped. The
    * filter sits after the explode on purpose: a generator's output
    * carries none of its input's constraints, and a checkpoint of this
    * frame keeps the constraints it was planned with. Without the
    * non-null ones, a self-join over the checkpointed frame (the
    * pointer jump in [[connectedComponents]]) infers a null filter on
    * one side only, the two sides stop sharing their exchange, and each
    * round runs the neighbor aggregate twice. */
  def symmetric(e: DataFrame, a: String, b: String): DataFrame =
    e.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** Per-node degree `(n, d)` of the undirected edge list `e`: one
    * `explode(array(a, b))` scan and one map-side-combinable count —
    * equal to [[symmetric]]'s per-`src` count without building it. */
  def degrees(e: DataFrame, a: String, b: String): DataFrame =
    e.select(explode(array(col(a), col(b))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** Exact connected components by min-label propagation with pointer
    * jumping, over an undirected edge list. Per round: every node takes
    * the minimum label among itself and its neighbors (ONE map-side
    * combinable aggregate over the symmetric edges), then labels are
    * pointer-jumped (`label := label(label)`) so chains collapse
    * geometrically — O(log n) rounds on a path, not O(diameter). Lineage
    * is truncated per round with localCheckpoint, and the convergence
    * check is FUSED into that same materialization: the changed-count is
    * a `Dataset.observe` metric on the checkpointed plan, so each round
    * is ONE job, never a checkpoint job plus a count job — the
    * [[TextOps.lshDedupClusters]] iteration discipline on a general
    * graph. The fixpoint (min node id per component) is unique, so the
    * result is deterministic regardless of partitioning or round count.
    *
    * Cluster-mode note: `localCheckpoint` pins blocks to executors and
    * truncates lineage, so a lost executor fails the job rather than
    * recomputing (acceptable in local mode / on static on-demand fleets).
    * Under dynamic allocation, spot instances or preemption, the
    * [[Checkpoints.DirConf]] reliable tier survives executor loss at one
    * DFS write per round, and the [[IterResume.DirConf]] resumable tier
    * (kernel `components`) additionally survives DRIVER loss: each
    * round's label frame + changed-count commit as parquet, and a fresh
    * call resumes at the last complete round — the per-round dynamics
    * are a deterministic monotone function of the previous labels, so
    * the resumed fixpoint is the unkilled run's. The resume directory is
    * manifest-bound to the edge set's fingerprint + maxIter
    * ([[IterResume.checkOrInit]]); resuming against different edges
    * throws rather than silently returning the earlier run's fixpoint.
    *
    * Returns (node, component); the result holds the final round's
    * checkpoint blocks — `.unpersist()` it when done, or drop all
    * stranded blocks at a quiescent point via [[Checkpoints.release]]
    * (what the Bench/Verify batch harnesses do after each query). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val src = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Manifest binding first (round 16): under the resumable tier the
    // directory is bound to THIS edge set + maxIter by an order-independent
    // fingerprint, so two distinct edge sets sharing the `components`
    // kernel in one session throw instead of one silently returning the
    // other's fixpoint. Then probe resume BEFORE building round-0 labels
    // (ADVICE r15): on a resumed run the distinct() build is dead work and
    // its eager truncate would strand blocks. sym is needed only when the
    // loop actually runs — a fully-converged resume never builds it.
    val resumeDir = IterResume.dir(spark, "components")
    resumeDir.foreach(rd => IterResume.checkOrInit(spark, rd,
      IterResume.descriptor("components", s"maxIter=$maxIter", src)))
    val resumed = resumeDir.flatMap(IterResume.resume(spark, _))
    var symCache: DataFrame = null
    def sym: DataFrame = {
      if (symCache == null) symCache = Checkpoints.truncate(symmetric(src, "src", "dst"))
      symCache
    }
    var labels: DataFrame = null
    var changed = 1L
    var iter = 0
    resumed match {
      case Some((k, saved, rows)) =>
        iter = k
        labels = saved
        changed = rows.last.getLong(1)
      case None =>
        labels = sym.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        // Empty-graph guard (one limit-1 job, fresh runs only — a resumed
        // run committed rounds, so its graph is nonempty): the fused
        // observe metric below is reported by the round's materialization,
        // and AQE's empty-relation propagation can eliminate the
        // CollectMetrics node on a provably-empty plan — in which case
        // Observation.get would block forever. An empty node set has
        // nothing to propagate anyway.
        if (labels.isEmpty) {
          sym.unpersist()
          return labels.withColumnRenamed("label", "component")
        }
    }
    while (changed > 0 && iter < maxIter) {
      // One exchange fewer per round (r16, guide §2.4): the node's own
      // label rides the same union-aggregate as the neighbor labels, so
      // min(self ∪ neighbors) replaces the aggregate-then-left-join form
      // (a third exchange) — identical per-round labels: every node in
      // the symmetric edge list receives ≥ 1 neighbor row, and min over
      // the union equals least(self, min-neighbor).
      val hop = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"), lit(0L).as("own"))
        .unionAll(labels.select(col("node"), col("label"), lit(1L).as("own")))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          max(when(col("own") === 1L, col("label"))).as("prev"))
      // pointer jump: adopt my label's own label (labels are node ids, so
      // the self-join resolves; a label may itself be mid-update, which is
      // fine — any monotone decrease stays inside the component)
      val jumped = hop.join(
          hop.select(col("node").as("__n"), col("label").as("__l")),
          col("label") === col("__n"))
        .select(col("node"), col("prev"), col("__l").as("label"))
      // Fused convergence check: the changed-count rides the SAME plan
      // the eager localCheckpoint materializes (labels only ever
      // decrease, so label ≠ prev ⇔ progress). Observation.get blocks
      // until that action reports — no separate count job, no extra scan.
      val obs = Observation()
      val next0 = jumped
        .observe(obs, sum(when(col("label") =!= col("prev"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("node"), col("label"))
      // Resumable tier: the parquet commit is this round's single
      // materialization and lineage cut; otherwise the configured
      // Checkpoints tier cuts (both eager, so obs reports either way).
      val next = resumeDir match {
        case Some(rd) => IterResume.commitState(next0, rd, iter + 1)
        case None     => Checkpoints.truncate(next0)
      }
      changed = Checkpoints.observedLong(obs, "changed")
      labels.unpersist()
      labels = next
      iter += 1
      resumeDir.foreach(rd => IterResume.commitTrace(
        Seq((iter.toLong, changed)).toDF("round", "changed"), rd, iter))
    }
    if (symCache != null) symCache.unpersist()
    labels.withColumnRenamed("label", "component")
  }
}
