package graft

import java.nio.file.Files

import graft.domain.SpotifyPipeline

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
}
