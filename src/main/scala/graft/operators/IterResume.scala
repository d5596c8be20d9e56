package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Restart protocol for the iterative operators' reliable durability tier.
  *
  * [[Checkpoints]] prices the tier's steady state (each round persists the
  * compact rank/frontier frame, ≤ ~10% wall at sf0.1 — SCALING.md r14);
  * this supplies the claim's other half: after a mid-iteration DRIVER loss
  * (spot reclaim, OOM kill), the next run must resume from the last
  * completed round instead of recomputing rounds 1..k. `checkpoint()`
  * alone cannot give that — its rdd-* directories die with the
  * SparkContext — so the resumable tier persists each round as PARQUET
  * under a caller-owned directory:
  *
  * {{{ <dir>/round=N/ranks/   — the round's full iteration state
  *     <dir>/round=N/trace/   — that round's one telemetry row }}}
  *
  * The commit order makes rounds atomic without a manifest: `ranks` is
  * written first, `trace` second, and a round counts as complete only
  * when BOTH carry Spark's `_SUCCESS` marker — a kill between the two
  * writes simply re-runs that round. Reading the round-N parquet back is
  * itself the lineage cut (what `Checkpoints.truncate` does for the
  * non-resumable tiers), so the one-job-per-round discipline and the
  * fused `observe` telemetry are unchanged: the parquet write IS the
  * round's single materialization.
  *
  * Opt-in via the session conf [[IterResume.DirConf]]; unset keeps the
  * zero-overhead `localCheckpoint`/`checkpoint` paths untouched. The
  * fault-injection conf [[IterResume.FailAfterConf]] exists for the
  * restart drill (IterResumeSpec; the round-15 numbers are in
  * SCALING.md): it kills the loop AFTER round k commits, exactly like a
  * preemption between rounds.
  *
  * Bytes are data-linear: one rank frame per round (0.3–26 MB at
  * sf0.1–10×, never the edge set), same as the reliable-checkpoint tier
  * it extends. */
object IterResume {

  /** Session conf: directory for resumable per-round state; unset/empty →
    * no resume capability (the Checkpoints tiers apply). */
  val DirConf = "graft.iter.resume.dir"

  /** Session conf (restart-drill fault injection only): throw AFTER the
    * given round commits — a deterministic stand-in for a driver kill. */
  val FailAfterConf = "graft.iter.resume.failAfterRound"

  /** The configured resume directory, if the tier is active. */
  def dir(s: SparkSession): Option[String] =
    s.conf.getOption(DirConf).filter(_.nonEmpty)

  /** Kernel-namespaced resume directory (`<dir>/<kernel>`): one session
    * conf can serve several iterative operators without their `round=N`
    * sequences colliding. Like a streaming `checkpointLocation`, the
    * directory identifies ONE logical job instance — and since round 16
    * that identity is ENFORCED: kernels call [[checkOrInit]] with an
    * input-fingerprint [[descriptor]] before probing [[resume]], so
    * pointing a populated directory at different input data (a DirConf
    * left set across a sf0.01 warmup then a sf0.1 timed pass; two edge
    * sets sharing the `components` kernel in one session) throws instead
    * of silently returning the earlier run's fixpoint. */
  def dir(s: SparkSession, kernel: String): Option[String] =
    dir(s).map(d => s"$d/$kernel")

  /** Identity string for one logical iteration run: kernel name, the
    * kernel's convergence-relevant parameters, and an order-independent
    * fingerprint of the input frame (row count + XOR-fold of per-row
    * xxhash64 — commutative and map-side combinable, so the agg is one
    * cheap job under any partitioning; the same doctrine as the
    * replica-validation checksum in `qTableChecksum`). Cost: one extra
    * aggregate job over the input per resumable-tier call — the tier is
    * opt-in, and the scan is the price of refusing a silently-wrong
    * resume. Collision risk is the 64-bit hash's, vanishing at any
    * realistic fingerprint count. */
  def descriptor(kernel: String, params: String, input: DataFrame): String = {
    val hashed = input.columns.map(c => s"`$c`").mkString(", ")
    val r = input.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(s"bit_xor(xxhash64($hashed))"),
        org.apache.spark.sql.functions.lit(0L)).as("x")).head()
    s"kernel=$kernel;params=$params;rows=${r.getLong(0)};xor=${r.getLong(1)}"
  }

  /** Bind `dir` to this run's identity, or refuse. First call on a fresh
    * directory writes `<dir>/MANIFEST` (tmp + rename, so a kill mid-write
    * leaves no manifest and the next run simply rewrites it); every later
    * call recomputes the descriptor and throws on mismatch — resuming
    * against changed input or parameters is a loud error, never a silent
    * fixpoint of neither input. A populated pre-manifest directory (rounds
    * committed, no MANIFEST) is also refused: its provenance is unknown. */
  def checkOrInit(s: SparkSession, dir: String, descriptor: String): Unit = {
    val (f, _) = fs(s, dir)
    val m = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST")
    if (f.exists(m)) {
      val in = f.open(m)
      val existing =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (existing != descriptor)
        throw new IllegalStateException(
          s"resume directory $dir belongs to a different run: manifest " +
            s"'$existing' vs this call's '$descriptor' — resuming would " +
            "silently mix two inputs; clear the directory or point " +
            s"$DirConf elsewhere")
    } else if (complete(s, dir, 1)) {
      throw new IllegalStateException(
        s"resume directory $dir has committed rounds but no MANIFEST " +
          "(pre-manifest or foreign state) — clear it before resuming")
    } else {
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST.tmp")
      val out = f.create(tmp, true)
      try out.write(descriptor.getBytes("UTF-8")) finally out.close()
      if (!f.rename(tmp, m) && !f.exists(m))
        throw new java.io.IOException(s"could not commit manifest $m")
    }
  }

  private def fs(s: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def complete(s: SparkSession, dir: String, round: Int): Boolean = {
    val (f, _) = fs(s, dir)
    Seq("ranks", "trace").forall(part => f.exists(
      new org.apache.hadoop.fs.Path(s"$dir/round=$round/$part/_SUCCESS")))
  }

  /** Persist round `round`'s state frame and return it read back from
    * parquet — the round's single materialization AND its lineage cut
    * (the loop reads its telemetry `Observation` right after this, off
    * the same job). The round is not yet COMPLETE: that's
    * [[commitTrace]], written second so a kill between the two re-runs
    * this round instead of resuming past a torn one. */
  def commitState(state: DataFrame, dir: String, round: Int): DataFrame = {
    val s = state.sparkSession
    state.write.mode("overwrite").parquet(s"$dir/round=$round/ranks")
    s.read.parquet(s"$dir/round=$round/ranks")
  }

  /** Persist round `round`'s telemetry row — the commit point. Honors
    * [[FailAfterConf]] AFTER the commit, so the injected kill lands
    * exactly where a between-rounds preemption would. */
  def commitTrace(trace: DataFrame, dir: String, round: Int): Unit = {
    val s = trace.sparkSession
    trace.write.mode("overwrite").parquet(s"$dir/round=$round/trace")
    s.conf.getOption(FailAfterConf).map(_.toInt).filter(_ == round).foreach { k =>
      throw new IllegalStateException(
        s"injected kill after round $k (graft.iter.resume.failAfterRound)")
    }
  }

  /** Latest complete round under `dir`, with its state frame and the
    * trace rows of every round up to it — None when nothing committed
    * (a fresh run). Rounds are probed upward from 1 so a torn tail
    * (round k+1's ranks written, trace not) resumes at k. */
  def resume(s: SparkSession, dir: String): Option[(Int, DataFrame, Vector[Row])] = {
    val (f, root) = fs(s, dir)
    if (!f.exists(root)) return None
    val last = Iterator.from(1).takeWhile(complete(s, dir, _)).foldLeft(0)((_, r) => r)
    if (last == 0) None
    else {
      val trace = (1 to last).flatMap(r =>
        s.read.parquet(s"$dir/round=$r/trace").collect()).toVector
      Some((last, s.read.parquet(s"$dir/round=$last/ranks"), trace))
    }
  }
}
