package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation policy for the iterative operators
  * ([[Graph.connectedComponents]], [[Graph.bfsLevels]],
  * [[TextOps.lshDedupClusters]], the k-core fixpoint) plus the release
  * path for the blocks they leave behind.
  *
  * Every iterated loop here must cut its plan per round — without it the
  * round-i chain re-derives rounds 1..i−1 once per downstream aggregate
  * (measured 24 s → 3 s at sf0.01 on the k-core loop). HOW it cuts is a
  * durability decision that belongs to the deployment, not the operator:
  *
  *  - default: `localCheckpoint()` — executor-pinned blocks, zero DFS
  *    traffic. Right for local mode and static on-demand fleets, but a
  *    lost executor FAILS the job (truncated lineage cannot recompute).
  *  - `graft.checkpoint.dir=<durable path>` (a session conf): reliable
  *    `checkpoint()` against that directory — each round writes to the
  *    DFS and survives executor loss/preemption/dynamic deallocation.
  *    The 100-TB posture for spot fleets, at the cost of one DFS
  *    round-trip per iteration. Measured cost (SCALING.md round-14
  *    table): ≤ ~10% wall at sf0.1 and within host noise at 10×,
  *    because each round persists only the compact
  *    frontier/label/rank frame (0.3–0.5 MB/run at sf0.1, 5–26 MB at
  *    10× — data-linear, never the edge set).
  *
  * Both paths are EAGER (they run the plan now), so a fused
  * `Dataset.observe` convergence metric on the incoming frame reports on
  * this same materialization in either mode — the one-job-per-round
  * discipline is durability-independent. */
object Checkpoints {

  /** Session conf selecting the durable-checkpoint directory; unset or
    * empty → `localCheckpoint`. The first nonempty value wins for the
    * lifetime of the SparkContext (setCheckpointDir is context-global). */
  val DirConf = "graft.checkpoint.dir"

  /** Session conf (plan-inspection hook): when `true`, [[truncate]] is a
    * no-op so `explain`/PlanSpec can pin the DECLARATIVE shape of a
    * subtree that production eagerly cuts (an eager checkpoint replaces
    * the subtree with a LogicalRDD, hiding the very plan properties the
    * pins protect). Never set outside tests/plan dumps. */
  val PassthroughConf = "graft.checkpoint.passthrough"

  /** Truncate `df`'s lineage under the configured durability tier. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption(PassthroughConf).contains("true")) return df
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None =>
        df.localCheckpoint()
    }
  }

  /** Drop all persisted RDD blocks (non-blocking) and, on the durable
    * tier, reclaim the per-round checkpoint directories. Safe only when
    * no in-flight job can still read a checkpointed frame AND no held
    * DataFrame will be re-executed — after a query's sink has fully
    * materialized, or between batch passes (what the Bench/Verify
    * harnesses do after each query). Unpersisting a localCheckpoint (or
    * deleting a reliable checkpoint's files) a concurrent query still
    * reads is not a slow recompute but a job failure: truncated lineage
    * cannot be rebuilt.
    *
    * The DFS reclaim matters for long-lived batch sessions: Spark only
    * deletes `rdd-*` checkpoint dirs itself under
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
    * context-construction conf, and GC-timing-dependent even then), so
    * without this a session accumulates one directory per iteration per
    * query for the SparkContext lifetime. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sparkContext.getCheckpointDir.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).foreach(st => fs.delete(st.getPath, true))
    }
  }
}
