package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Dev timing instrument: pass-major sequential passes of named queries
  * into the `noop` sink, in ONE JVM, against any fixture dir.
  *
  * Each pass runs every query once, in order; checkpoint blocks are
  * released between queries, outside the timer. Per pass it prints
  * `[pass p] wall <s> s compiles=C exec_cpu=<s>` (the sums over that
  * pass's queries of wall — what `dev/ab_prev.sh` compares across
  * commits — of classes compiled and of executor CPU); after the last
  * pass, one
  * `[time] <name> <dir> <min> s jobs=J stages=S tasks=T build_jobs=B compiles=C exec_cpu=<s>`
  * line per query (what `dev/adjudicate.py` band-tests), min over passes,
  * with the counts of that fastest run: J, S and T over the whole query,
  * B the jobs fired while its DataFrame was being built (eager
  * checkpoints, collects, counts), C the classes Spark compiled during its
  * build and run, i.e. misses of the JVM-wide generated-code cache (the
  * delta of `CodegenMetrics.METRIC_COMPILATION_TIME`'s count; exact, as
  * queries run one at a time), and exec_cpu the `executorCpuTime` summed
  * over its finished tasks. The counts come from one listener keyed by
  * per-(query, pass) job groups, one for the build and one for the sink,
  * so jobs that run on other threads (broadcasts, subqueries) are
  * attributed to their query; stages and tasks count what was submitted
  * (skipped stages excluded), and a task end is attributed through its
  * stage.
  *
  * The default 3 passes match min-of-2 after a warm-up: the cold first
  * pass is slower and so never the min unless the host is.
  * Unknown query names fail before a Spark session starts (a typo must
  * not silently shrink the sample).
  *
  * `runMain graft.DevTime <dir> <q1,q2,...|all> [passes]` */
object DevTime {
  final case class Args(dir: String, names: Seq[String], passes: Int)

  def parse(args: Array[String]): Args = {
    require(args.length == 2 || args.length == 3,
      "usage: DevTime <dir> <q1,q2,...|all> [passes]")
    val names =
      if (args(1) == "all") Queries.all.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val unknown = names.filterNot(Queries.all.contains)
    require(unknown.isEmpty, s"unknown queries (not in Queries.all): ${unknown.mkString(", ")}")
    val passes = if (args.length > 2) args(2).toIntOption.getOrElse(0) else 3
    require(passes >= 1, s"passes must be a positive integer, got '${args(2)}'")
    Args(args(0), names, passes)
  }

  /** Jobs, stages, tasks and executor CPU nanoseconds of one job group,
    * as the listener saw them. */
  private final class Counts {
    val jobs, stages, tasks, cpuNs = new AtomicLong
  }

  def main(args: Array[String]): Unit = {
    val Args(dir, names, passes) = parse(args)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sc = spark.sparkContext
    val counts = new ConcurrentHashMap[String, Counts]()
    val ofStage = new ConcurrentHashMap[Int, Counts]()
    def of(props: java.util.Properties): Option[Counts] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .map(counts.computeIfAbsent(_, _ => new Counts))
    val drains = new ConcurrentHashMap[String, CountDownLatch]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .flatMap(g => Option(drains.get(g))).foreach(_.countDown())
        of(e.properties).foreach(_.jobs.incrementAndGet())
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        of(e.properties).foreach { c =>
          ofStage.put(e.stageInfo.stageId, c)
          c.stages.incrementAndGet(); c.tasks.addAndGet(e.stageInfo.numTasks)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (c <- Option(ofStage.get(e.stageId)); m <- Option(e.taskMetrics))
          c.cpuNs.addAndGet(m.executorCpuTime)
    })
    // Listener events arrive in post order: once a marker job's start is
    // seen, every earlier query's jobs, stages and task ends have been counted.
    def drain(tag: String): Unit = {
      val g = s"devtime drain $tag"
      val latch = drains.computeIfAbsent(g, _ => new CountDownLatch(1))
      sc.setJobGroup(g, g)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain within 60 s")
    }
    def group(phase: String, name: String, p: Int) = s"devtime $phase $name $p"
    def cpuSecs(name: String, p: Int): Double =
      Seq("build", "run").map(ph => counts.getOrDefault(group(ph, name, p), new Counts))
        .map(_.cpuNs.get).sum / 1e9

    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // Per pass, per query: (wall seconds, classes compiled).
    val runs = (1 to passes).map { p =>
      val per = names.map { name =>
        sc.setJobGroup(group("build", name, p), group("build", name, p))
        val c0 = compiled
        val t0 = System.nanoTime()
        val df = Queries.all(name)(spark, dir)
        sc.setJobGroup(group("run", name, p), group("run", name, p))
        df.write.mode("overwrite").format("noop").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val compiles = compiled - c0
        sc.clearJobGroup()
        graft.operators.Checkpoints.release(spark)
        (secs, compiles)
      }
      drain(s"pass $p")
      val cpu = names.map(cpuSecs(_, p)).sum
      println(f"[pass $p] wall ${per.map(_._1).sum}%8.2f s compiles=${per.map(_._2).sum} " +
        f"exec_cpu=$cpu%.2f")
      per
    }
    names.zipWithIndex.foreach { case (name, i) =>
      val best = runs.indices.minBy(runs(_)(i)._1)
      val (wall, compiles) = runs(best)(i)
      val Seq(b, r) = Seq("build", "run").map(ph =>
        counts.getOrDefault(group(ph, name, best + 1), new Counts))
      def total(f: Counts => AtomicLong) = f(b).get + f(r).get
      println(f"[time] $name%-24s $dir $wall%8.2f s " +
        s"jobs=${total(_.jobs)} stages=${total(_.stages)} tasks=${total(_.tasks)} " +
        s"build_jobs=${b.jobs} compiles=$compiles " + f"exec_cpu=${cpuSecs(name, best + 1)}%.2f")
    }
    spark.stop()
  }
}
