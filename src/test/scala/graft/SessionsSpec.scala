package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.domain.SpotifyPipeline
import graft.operators.Checkpoints

/** Session-level confs of [[Sessions.local]] that no query result shows. */
class SessionsSpec extends SparkSuite {

  /** Half of G1's smallest region: an allocation this large or larger is
    * humongous at some heap size. */
  private val humongousFloor = 512L << 10

  @volatile private var sink: Array[Byte] = _

  test("no broadcast buffer of a runDaily is large enough to be humongous") {
    val raw = landTinyDay()
    val out = Files.createTempDirectory("graft_out").toString
    val session = spark // created outside the recording
    val large = jfrEvents("jdk.ObjectAllocationOutsideTLAB") {
      SpotifyPipeline.runDaily(session, raw, out, "2024-06-01")
      sink = new Array[Byte](4 << 20) // the recorder's positive control
    }.filter(_.getLong("allocationSize") >= humongousFloor)
    assert(large.exists(e => e.getLong("allocationSize") >= (4L << 20) && onStack(e, "graft.SessionsSpec")),
      "the recording did not see a 4 MiB array")
    val broadcast = large.filter(onStack(_, "org.apache.spark.broadcast.TorrentBroadcast"))
      .map(_.getLong("allocationSize"))
    assert(broadcast.isEmpty, "TorrentBroadcast allocations of >= 512 KiB (bytes)")
    assert(spark.read.parquet(s"$out/track_artists").count() == 1)
  }

  test("a warm pass of perfbench's query_seq list compiles no class") {
    // The list of perfbench/workloads.json. Its generated classes (129
    // without stage ids) outnumber Spark's 100-entry default cache, so at
    // that size every pass recompiles; the size is fixed when code is first
    // generated in the JVM, so this also fails if that happens before
    // Sessions.local. Stage ids stay out of the class names here: a query's
    // stages are not numbered in the same order from run to run, and a
    // renumbered stage is a new class to the cache.
    val names = Seq("q_join_agg", "q_kmeans_step", "q_dedup_survivorship", "q_window_topk",
      "q_global_rank", "q_agg_pricing", "q_cdc_apply", "q_histogram", "q_seeded_sample")
    def pass(): Map[String, Long] = names.map { name =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Queries.all(name)(spark, SF).write.mode("overwrite").format("noop").save()
      Checkpoints.release(spark)
      name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }.toMap
    val useId = "spark.sql.codegen.useIdInClassName"
    spark.conf.set(useId, "false")
    val warm = try { pass(); pass().filter(_._2 > 0) } finally spark.conf.unset(useId)
    assert(warm.isEmpty, "classes compiled per query in the warm pass")
  }
}
