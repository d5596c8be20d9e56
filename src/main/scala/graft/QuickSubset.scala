package graft

/** Stratified quick-subset picker — ONE implementation shared by the two
  * consumers that previously each approximated it:
  *
  *  - [[Bench]]'s warmup pass (round 16): warming all ~340 queries at
  *    sf0.01 burned 279.6 s of the 900 s driver budget in r15, starving
  *    the second sequential pass (`samples_per_query` stuck at 1, the
  *    single-sample bias that manufactured r15's 71 false bench flags).
  *    The JIT warms the scan/codegen/shuffle paths identically on a
  *    ~45-query subset spanning the wall-time deciles and plan shapes,
  *    and min-of-2 sequential sampling heals any residual per-query
  *    first-touch inflation.
  *  - `dev/ab_prev.sh --quick`: the stratified same-VM A/B subset
  *    (formerly an inline Python block in that script).
  *
  * Strata: 4 picks per wall-time decile of the newest archived full-board
  * snapshot (evenly spaced within each decile, so the subset spans
  * sub-second scans to multi-second iterative heavies) + the five
  * bench_diff plan-shape anchors. Snapshots are ordered by PARSED round
  * number (ADVICE r15: a lexicographic sort misorders r99 vs r100; the
  * zero-padded BENCH_rNN convention does not apply to BENCH_LOCAL_rN).
  * Picks are intersected with the caller's inventory predicate and every
  * drop is REPORTED, never silent (ADVICE r15: ab_prev runs the subset
  * through the previous round's worktree, whose DevTime fails fast on
  * names that round never had — a rename at HEAD must not kill the
  * escalation chain with an opaque error). */
object QuickSubset {

  /** bench_diff's host-drift anchors, kept in lockstep with its
    * `--anchors` default: scan-agg, join, window, shuffle-heavy,
    * iterative. */
  val Anchors: Seq[String] = Seq("q_agg_pricing", "q_join_agg",
    "q_window_topk", "q_global_rank", "q_kcore")

  private val SnapRx = """BENCH_LOCAL_r(\d+)\.json""".r

  /** Archived full-board snapshots in `dir`, oldest→newest by parsed
    * integer round number. */
  def snapshots(dir: String = "."): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .flatMap { f =>
        f.getName match {
          case SnapRx(n) => Some((n.toInt, f))
          case _         => None
        }
      }.sortBy(_._1).map(_._2)

  /** Per-query seconds regex-parsed from a bench record line. The
    * numeric-value pattern skips `null` (failed-in-every-pass) entries
    * and cannot match the `errors` map, whose values are strings. */
  def queryWalls(f: java.io.File): Map[String, Double] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    """"(q_[a-z0-9_]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The stratified picks over `walls`, restricted to names `keep`
    * accepts. Returns (picks sorted, dropped names sorted) — dropped =
    * snapshot queries or anchors the predicate rejected, for the caller
    * to log. */
  def compute(walls: Map[String, Double],
              keep: String => Boolean): (Seq[String], Seq[String]) = {
    val (valid, droppedWalls) = walls.keys.toSeq.sorted.partition(keep)
    val ranked = valid.sortBy(walls)
    val n = ranked.size
    val picks = scala.collection.mutable.SortedSet.empty[String]
    for (d <- 0 until 10) {
      val dec = ranked.slice(d * n / 10, (d + 1) * n / 10)
      for (i <- 0 until 4 if dec.nonEmpty) picks += dec(i * dec.size / 4)
    }
    val (okAnchors, droppedAnchors) = Anchors.partition(keep)
    picks ++= okAnchors
    (picks.toSeq, (droppedWalls ++ droppedAnchors).sorted)
  }

  /** Bench's warmup subset: stratify from the newest snapshot under `dir`
    * (archived `_rN` preferred, plain BENCH_LOCAL.json fallback),
    * intersected with the current registry. None when no snapshot exists
    * or the subset degenerates — the caller warms the whole board. */
  def warmup(registry: Set[String], dir: String = "."): Option[(String, Seq[String])] = {
    val newest = snapshots(dir).lastOption
      .orElse(Some(new java.io.File(dir, "BENCH_LOCAL.json")).filter(_.isFile))
    newest.map(f => (f.getName, compute(queryWalls(f), registry.contains)._1))
      .filter(_._2.size >= 10)
  }

  /** CLI for dev/ab_prev.sh: prints the subset CSV on stdout, drops on
    * stderr. Stratifies from the newest archived snapshot and
    * additionally intersects with the SECOND-newest snapshot's query set
    * when one exists — that set is the previous round's inventory, which
    * is exactly what the ref-side worktree's DevTime can run. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(".")
    val snaps = snapshots(dir)
    val newest = snaps.lastOption
      .orElse(Some(new java.io.File(dir, "BENCH_LOCAL.json")).filter(_.isFile))
      .getOrElse(sys.error(
        "QuickSubset: no BENCH_LOCAL_r*.json or BENCH_LOCAL.json to stratify from"))
    val prevKeys = snaps.dropRight(1).lastOption.map(f => queryWalls(f).keySet)
    val registry = Queries.all.keySet
    val keep = (q: String) => registry.contains(q) && prevKeys.forall(_.contains(q))
    val (picks, dropped) = compute(queryWalls(newest), keep)
    if (dropped.nonEmpty)
      System.err.println("[quick_subset] dropped (absent from the current " +
        s"registry or the previous round's snapshot): ${dropped.mkString(",")}")
    require(picks.nonEmpty, s"QuickSubset: empty subset from ${newest.getName}")
    println(picks.mkString(","))
  }
}
