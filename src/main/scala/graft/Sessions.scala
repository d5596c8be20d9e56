package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Session factory shared by Verify/Bench/tests: one place for the configs
  * the engine depends on.
  *
  *  - shuffle partitions sized to the local core count (not the 200
  *    default) — on a real cluster this is executor-count driven and AQE
  *    coalesces the rest;
  *  - AQE on: runtime coalescing, broadcast demotion, skew-join splitting;
  *  - UTC session time so timestamp semantics match the DuckDB oracle;
  *  - `nanosAsLong` so the ns-precision `events.ts` parquet column is
  *    readable (converted to TimestampType in [[Tables.events]]);
  *  - `file:` bound to [[graft.sources.PosixLocalFileSystem]] (and its
  *    `FileContext` twin, for streaming checkpoints), which sets a new
  *    file's or directory's permission in-process instead of forking a
  *    `chmod` per call when the native Hadoop library is absent. Hadoop
  *    caches a `FileSystem` per scheme and user JVM-wide, so a `file:`
  *    lookup with a conf lacking this binding before the first session
  *    pins the stock class for the JVM;
  *  - 256 KiB broadcast blocks: `TorrentBroadcast` allocates one whole
  *    block per broadcast, and G1 treats an object of half a region or
  *    more as humongous garbage, freed only at a young GC. 4 MiB blocks
  *    piled up and raised peak RSS; 256 KiB is under half of any region;
  *  - a 10 000-entry generated-code cache: Spark keeps compiled classes in
  *    one JVM-wide `CodeGenerator` cache, 100 entries by default, and the
  *    board's warm working set is about 4 200 classes (the nine perfbench
  *    `query_seq` queries alone are 137), so at the default every warm
  *    query recompiled most of its classes at ~10 ms each. The conf is
  *    static: the cache is sized once, from the session active when code
  *    is first generated in the JVM, so code generated before the first
  *    session pins the 100-entry default for the JVM;
  *  - the `WindowExec` logger at ERROR: its "No Partition Defined for
  *    Window operation!" warning fires on every global window and buried
  *    every other warning in the logs. PlanSpec's bounded-frame pins are
  *    the guard against an unbounded single-partition window.
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Start every shuffle 8x wider than the core count and let AQE
      // coalesce down to its advisory byte size: small inputs still end up
      // at a handful of partitions (no task-overhead cost), while a 100x
      // input keeps the extra width so per-task join/sort state stays
      // bounded — the 100x heavy-tail study OOM'd a sort-merge build at
      // width=cores (per-task state = partition bytes x in-memory
      // expansion; 32 concurrent tasks exceeded the heap's execution
      // pool). On a cluster this is the same dial: initial width sized to
      // data volume, AQE owning the runtime coalesce.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.broadcast.blockSize", "256k")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.PosixLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.PosixLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
