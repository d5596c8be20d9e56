package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")
  val SF: String = "/root/testdata/sf0.001"

  /** Runs `f` under job group `group` and returns its value with the job
    * group of every Spark job started meanwhile, on any thread, as a
    * listener's `onJobStart` saw it ("null" for a job outside any group).
    * A marker job run after `f` flushes the listener bus up to `f`'s last
    * job. */
  def jobGroupsOf[A](group: String)(f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      (out, groups.asScala.toSeq.takeWhile(_ != marker))
    } finally sc.removeSparkListener(listener)
  }

  /** The `event` events JFR records, with stack traces, while `f` runs. */
  def jfrEvents(event: String)(f: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.enable(event).withStackTrace()
      rec.start()
      f
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.filter(_.getEventType.getName == event)
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** True when a frame of `e`'s stack is in a class whose name starts with `prefix`. */
  def onStack(e: RecordedEvent, prefix: String): Boolean =
    e.getStackTrace != null &&
      e.getStackTrace.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith(prefix))

  /** A landed raw day of one artist, album and track, as
    * `SpotifyPipeline.runDaily` reads it; returns its directory. */
  def landTinyDay(): String = {
    val raw = Files.createTempDirectory("graft_raw").toString
    Files.writeString(Paths.get(s"$raw/artist.json"),
      """{"id":"a1","name":"A","followers":{"total":10},"popularity":1}""")
    Files.writeString(Paths.get(s"$raw/album.json"),
      """{"id":"al1","name":"X","release_date":"2020-02","album_type":"album","total_tracks":2,"artists":[{"id":"a1","name":"A"}]}""")
    Files.writeString(Paths.get(s"$raw/track.json"),
      """{"id":"t1","name":"T","track_number":1,"duration_ms":1000,"artists":[{"id":"a1","name":"A"}]}""")
    raw
  }
}
