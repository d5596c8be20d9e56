package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

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
}
