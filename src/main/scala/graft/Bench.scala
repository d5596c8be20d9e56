package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** JSON string literal: escapes the quote, the backslash and EVERY
    * control char (< 0x20) — one raw tab or CR in oracle SQL would make
    * the driver's `json.load` fail and silently zero a round's
    * correctness. Shared by Verify's oracle_sql.json. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Intra-batch concurrency: a warehouse executes a query batch
    // concurrently, and Spark schedules concurrent jobs from multiple
    // submitter threads across the same executors. Per-query seconds below
    // are still each query's own wall time (slightly inflated by
    // contention); `value` is the batch's wall time and `sum_sequential`
    // the contention-inflated per-query sum, reported for transparency.
    // 14 measured best on local[32] for the ~138-query batch: wall 17.8 s
    // vs 26.4 s at 8 (job-floor gaps overlap; per-query sequential-pass
    // times unchanged). Override with SPARK_GRAFT_BENCH_PAR.
    val par = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAR", "14").toInt.max(1)
    // Wall budget for the WHOLE run (round-14, after BENCH_r13 rc=124):
    // the harness wraps the bench in a hard ~20-min timeout and keeps only
    // a stdout tail, so an all-or-nothing emission loses the round's
    // record whenever a degraded host pushes the passes past the
    // envelope. Two defenses: (1) the complete JSON record (and a compact
    // summary line) is printed after EVERY timed pass — sequential
    // first — so the tail always holds the latest complete record even
    // if a later pass is killed; (2) this budget causes remaining passes
    // to be SKIPPED (recorded in `skipped_passes`) or, for the second
    // sequential pass, PREEMPTED between queries, rather than overrun.
    // Default 1000 s: the only post-budget spend is one in-flight query
    // (≤ ~20 s) or a skip message, so sbt-startup (~50 s) + shutdown
    // headroom still fits the 1200 s envelope with ~130 s of margin.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1000").toDouble
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    // Warmup exists to JIT-compile the scan/codegen/shuffle paths once so
    // the timed passes measure steady-state engine throughput, not
    // first-touch JVM compilation (rep1 vs rep2 differs ~10×). The JIT
    // warms identically at a smaller scale factor (round-13 judge: 423 s
    // of sf0.1 warmup buys nothing the sequential pass doesn't), so the
    // warmup pass runs against the cheaper sibling sf0.01 fixture when
    // one exists. SPARK_GRAFT_WARMUP_DIR overrides; fallback is sfDir.
    val warmupDir = sys.env.get("SPARK_GRAFT_WARMUP_DIR").getOrElse {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
      if (sib.isDirectory && sib.getPath != sfDir) sib.getPath else sfDir
    }
    val spark = Sessions.local(cpus)
    // noop sink forces full computation of every column (count() would let
    // Catalyst prune the projections and under-measure). A query that
    // crashes is recorded in `errors` — never silently scored as a
    // near-zero time.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def run(name: String, dir: String,
            fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
            record: Boolean = true): Boolean =
      try { fn(spark, dir).write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable =>
        if (record)
          errors.put(name, Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        false
      }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // The iterative operators (graph kernels, LSH dedup clustering) return
    // localCheckpoint-backed frames whose blocks stay pinned after the sink
    // completes; across 200 queries × 4 passes the stranded generations
    // contend with live shuffles (round-5 driver bench: q_graph_components
    // 90.9 s vs 7.4 s isolated). Release at quiescent points only — after
    // each query in a SEQUENTIAL pass, and between passes — never while a
    // concurrent query may still read a (lineage-truncated) checkpoint.
    def releaseCheckpoints(): Unit = graft.operators.Checkpoints.release(spark)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "" }
    val loadStart = loadavg()
    // Untimed warmup pass at warmupDir, run CONCURRENTLY: warmup exists
    // only to execute the engine's code paths once (JIT), not to produce
    // clean timings, so contention is free speed. Round 16: even the
    // concurrent full-board sf0.01 warmup cost 279.6 s of the 900 s
    // driver budget (BENCH_LOCAL_r15 pass_walls), starving the second
    // sequential pass — so the warmup runs the ~45-query stratified
    // subset (wall-time deciles + plan-shape anchors, the same picker
    // ab_prev --quick uses) when a previous snapshot exists to stratify
    // from. The JVM's hot paths (parquet scan, hash agg, sort, window,
    // join, codegen compilation) warm identically; per-query residual
    // first-touch inflation in pass 1 is healed by the min-of-2 the
    // freed budget buys. SPARK_GRAFT_WARMUP_SUBSET=all restores the
    // full-board warmup. Warmup-only failures are not recorded: the
    // timed passes at sfDir are the contract. Checkpoints released once
    // at the quiescent drain point.
    val warmupPick =
      if (sys.env.get("SPARK_GRAFT_WARMUP_SUBSET").contains("all")) None
      else QuickSubset.warmup(ordered.map(_._1).toSet)
    val warmupQueries = warmupPick match {
      case Some((snap, names)) =>
        val set = names.toSet
        val qs = ordered.filter { case (n, _) => set.contains(n) }
        println(s"[bench] warmup on ${qs.size}/${ordered.size} queries " +
          s"(stratified subset from $snap; SPARK_GRAFT_WARMUP_SUBSET=all overrides)")
        qs
      case None => ordered
    }
    val wu0 = System.nanoTime()
    locally {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = warmupQueries.map { case (name, fn) =>
        scala.concurrent.Future { run(name, warmupDir, fn, record = false) }
      }
      fs.foreach(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      pool.shutdown()
      releaseCheckpoints()
    }
    val wallWarmup = (System.nanoTime() - wu0) / 1e9
    // Timed passes: each pass runs the whole batch on a fixed thread pool
    // and records (per-query seconds, batch wall seconds). Per-query min
    // over passes; batch wall min over passes. Failed queries score NaN
    // (JSON null) so the totals can't look healthy.
    def timedPass(): (Map[String, Double], Double) = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val w0 = System.nanoTime()
      val futures = ordered.map { case (name, fn) =>
        scala.concurrent.Future {
          val q0 = System.nanoTime()
          val ok = run(name, sfDir, fn)
          name -> (if (ok) (System.nanoTime() - q0) / 1e9 else Double.NaN)
        }
      }
      val results = futures.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)).toMap
      val wall = (System.nanoTime() - w0) / 1e9
      pool.shutdown()
      releaseCheckpoints() // pool drained: quiescent
      (results, wall)
    }
    // Per-query numbers come from an UNCONTENDED sequential pass (true
    // steady-state latency); the concurrent passes supply the batch
    // wall time. min over passes on both. `stopAt` makes a pass
    // PREEMPTIBLE: the budget is checked between queries and the pass
    // stops (keeping the samples it has) instead of overrunning — so a
    // second sequential pass can start whenever ANY room remains, with
    // overshoot bounded by one query, never by a whole pass.
    def sequentialPass(stopAt: Double = Double.MaxValue)
        : (Map[String, Double], Double, Boolean) = {
      val w0 = System.nanoTime()
      var cut = false
      val r = ordered.iterator.takeWhile { _ =>
        cut = elapsed() > stopAt; !cut
      }.map { case (name, fn) =>
        val q0 = System.nanoTime()
        val ok = run(name, sfDir, fn)
        val secs = (System.nanoTime() - q0) / 1e9
        // release INSIDE the pass but OUTSIDE the per-query timer: the
        // stranded blocks are batch-harness residue, not query cost
        releaseCheckpoints()
        name -> (if (ok) secs else Double.NaN)
      }.toMap
      (r, (System.nanoTime() - w0) / 1e9, !cut)
    }
    def jnum(v: Double): String = if (v.isNaN) "null" else v.toString
    import scala.jdk.CollectionConverters._
    // Build the COMPLETE record from whatever passes have finished so far,
    // print it, and persist it to BENCH_LOCAL.json. Called after every
    // timed pass: the last complete line in the kept stdout tail (or the
    // file) is always the best record the run produced before any kill.
    var lastLine = ""
    var lastSummary = ""
    def emit(seqs: List[(Map[String, Double], Double, Boolean)],
             conc: List[(Map[String, Double], Double)],
             skipped: List[String]): Unit = {
      val wallSeq = seqs.filter(_._3).map(_._2).min
      val results = seqs.head._1.keys.map { k =>
        // min over every pass that sampled this query (a preempted
        // sequential pass covers a prefix of the board); List.min under
        // total ordering ranks NaN greatest, so a query that failed in
        // SOME passes keeps its best successful time — n_completed only
        // drops queries that failed in EVERY pass that ran them (errors
        // still records each failure, so partial flakes are visible,
        // not silently healthy).
        k -> (seqs.flatMap(_._1.get(k)) ++ conc.map(_._1(k))).min
      }.toMap
      val concWalls = conc.map(_._2)
      // Batch wall: min over concurrent passes when any ran, else the
      // sequential wall (value_pass says which, so cross-round readers
      // never compare a sequential wall against a concurrent one).
      val (wall, valuePass) =
        if (concWalls.nonEmpty) (concWalls.min, "concurrent")
        else (wallSeq, "sequential")
      val qs = results.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
        .mkString("{", ",", "}")
      val errJson = errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      val sumSeq = results.values.filterNot(_.isNaN).sum
      // Per-pass walls + loadavg make a contended run self-diagnosing: the
      // round-5 driver record was 3.8× its isolated steady state (ambient
      // box load, not a code change) and needed a manual judge rerun to
      // adjudicate. With warmup/sequential/concurrent walls and the host's
      // 1/5/15-min load recorded, that diagnosis is one look at the JSON.
      val seqNames = seqs.zipWithIndex.map { case ((m, _, full), i) =>
        val base = if (i == 0) "sequential" else s"sequential${i + 1}"
        if (full) base else s"${base}_partial_${m.size}q"
      }
      val passWalls = (Seq(s""""warmup":$wallWarmup""") ++
        seqNames.zip(seqs.map(_._2)).map { case (n, w) => s""""$n":$w""" } ++
        concWalls.zipWithIndex.map { case (w, i) => s""""concurrent${i + 1}":$w""" })
        .mkString("{", ",", "}")
      val completed = (Seq("warmup") ++ seqNames ++
        concWalls.indices.map(i => s"concurrent${i + 1}")).map(jstr).mkString("[", ",", "]")
      val skippedJson = skipped.map(jstr).mkString("[", ",", "]")
      // n_queries = declared batch size; n_completed = queries that
      // produced at least one timing across the completed passes (only a
      // query failing in EVERY pass drops out; any failure at all is in
      // `errors`, so the record stays self-diagnosing either way).
      val nCompleted = results.values.count(!_.isNaN)
      // FULL UNCONTENDED (sequential) timed passes contributing to every
      // per-query min — the protocol-bias guard (round-14: single-sample
      // vs min-of-3 records manufactured 53 false bench_diff flags; the
      // diff widens its band when this field differs between records).
      // Concurrent passes are counted SEPARATELY (ADVICE r15): their
      // contended per-query times essentially never win the min, so
      // counting them as samples would let a 1-sequential+1-concurrent
      // record masquerade as min-of-2 — exactly the single-uncontended-
      // sample bias the guard exists to catch. A preempted sequential
      // pass adds second samples for its prefix but does not raise the
      // count either — its coverage is in passes_completed's
      // `_partial_Nq` tag.
      val samples = seqs.count(_._3)
      lastLine = s"""{"metric":"total","value":$wall,"unit":"sec","value_pass":"$valuePass","n_queries":${results.size},"n_completed":$nCompleted,"concurrency":$par,"samples_per_query":$samples,"samples_concurrent":${conc.size},"sum_sequential":$sumSeq,"pass_walls":$passWalls,"passes_completed":$completed,"skipped_passes":$skippedJson,"budget_s":$budgetS,"elapsed_s":${elapsed()},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadavg())},"warmup_dir":${jstr(warmupDir)},"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
      // Compact summary SECOND (and re-printed last at shutdown): the
      // driver keeps only a ~2000-byte stdout TAIL, which the ~10 kB full
      // line has never fit (BENCH_r11–r14 all parsed null). This line is
      // < 300 bytes, so a tail that ends with it always holds one complete
      // parsable record; the per-query map lives in the full line above
      // and in the committed BENCH_LOCAL_rN.json.
      lastSummary = s"""{"metric":"total","value":$wall,"unit":"sec","value_pass":"$valuePass","n_queries":${results.size},"n_completed":$nCompleted,"n_errors":${errors.size},"samples_per_query":$samples,"passes_completed":${seqs.size + conc.size + 1},"skipped_passes":${skipped.size},"elapsed_s":${elapsed()},"sf":"$sfDir"}"""
      println(lastLine)
      println(lastSummary)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (lastLine + "\n").getBytes("UTF-8"))
      catch { case _: java.io.IOException => () }
    }
    // Sequential pass 1 runs UNCONDITIONALLY (it is the per-query record
    // the round gate diffs); every later pass is budget-gated. Pass 2 is
    // a SECOND sequential pass (round-14 lesson: a single-sample record
    // diffs ~10-20% hot against a min-of-N one — 53 false flags and two
    // wasted adjudication windows), so per-query values are min-of-2
    // wherever the host leaves room. It is PREEMPTIBLE (budget checked
    // between queries, overshoot bounded by ONE query, never a pass), so
    // it starts whenever any room remains and keeps whatever prefix it
    // finished — on a host where warmup+pass1 eat most of the budget, the
    // heaviest flag-prone queries still get a second sample. The
    // concurrent passes then supply the batch-wall number; their pools
    // are all-or-nothing, so they stay estimate-gated (first concurrent:
    // 0.6× sequential — conservative both ways, observed ~0.17× on
    // local[32]).
    var seqs = List(sequentialPass())
    emit(seqs, Nil, Nil)
    var conc = List.empty[(Map[String, Double], Double)]
    var skipped = List.empty[String]
    if (elapsed() + 30 > budgetS) {
      skipped = skipped :+ "sequential2"
      println(f"[bench] skipping sequential2: elapsed ${elapsed()}%.0f s " +
        f"leaves no room under budget $budgetS%.0f s")
      emit(seqs, conc, skipped)
    } else {
      seqs = seqs :+ sequentialPass(stopAt = budgetS)
      if (!seqs.last._3)
        println(f"[bench] sequential2 preempted at budget after " +
          f"${seqs.last._1.size}/${ordered.size} queries")
      emit(seqs, conc, skipped)
    }
    (1 to 2).foreach { i =>
      val est = conc.lastOption.map(_._2).getOrElse(seqs.head._2 * 0.6)
      if (elapsed() + est > budgetS) {
        skipped = skipped :+ s"concurrent$i"
        println(f"[bench] skipping concurrent$i: elapsed ${elapsed()}%.0f s + " +
          f"estimate $est%.0f s exceeds budget $budgetS%.0f s")
        emit(seqs, conc, skipped)
      } else {
        conc = conc :+ timedPass()
        emit(seqs, conc, skipped)
      }
    }
    spark.stop()
    // The harness keeps only a stdout TAIL, which Spark's shutdown logging
    // can push the line out of — re-print LAST so the metric is always
    // recoverable from the tail (full line, then the compact summary as
    // the FINAL line: the 2000-byte tail is guaranteed to end with one
    // complete parsable record) or from BENCH_LOCAL.json.
    println(lastLine)
    println(lastSummary)
    if (!errors.isEmpty) sys.exit(1)
  }
}
