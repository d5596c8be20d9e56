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
  *  - the `WindowExec` logger at ERROR: its "No Partition Defined for
  *    Window operation!" warning fires on every global window and buried
  *    every other warning in the logs. PlanSpec's bounded-frame pins are
  *    the guard against an unbounded single-partition window.
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
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
    // experiment hook: SPARK_GRAFT_CONF="key=value;key=value" overrides
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
