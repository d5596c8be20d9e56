package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed op as its submitting thread saw it. Times are epoch
  * milliseconds (the clock Spark stamps job events with) plus the op's own
  * nanosecond durations. `phases` are the op's job-group suffixes in order,
  * each with its start; the op's jobs carry the group `"<id>/<phase>"`. */
final case class OpSpan(id: String, name: String, pass: Int, startMs: Long, endMs: Long,
                        phases: Seq[(String, Long)], latencyS: Double)

/** Counts the work of traced ops from outside the engine: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for Catalyst's
  * planning phases. Every job is attributed to an op by the job group its
  * submitting thread set (`"<op id>/<phase>"`), and every query execution by
  * the job group its SQL execution started under, so attribution holds when
  * several ops run at once. Events are only stored on the listener threads;
  * [[records]] aggregates them after the bus has drained. */
final class Trace(spark: SparkSession) {
  private final class Job(val id: Int, val group: String, val startMs: Long, val name: String) {
    var endMs = 0L
    var stages = 0
    val t = new Array[Long](Trace.TaskFields.size)
    var peakMem = 0L
  }
  private final case class Qe(id: Long, analysisMs: Long, optimizationMs: Long,
                              planningMs: Long, tables: Set[String])

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val queryExec = mutable.Map.empty[Long, Long]
  private val qes = mutable.ArrayBuffer.empty[Qe]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = new Job(e.jobId, group.getOrElse(""), e.time, name)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val m = e.taskMetrics
        val i = e.taskInfo
        j.t(0) += 1
        if (e.reason != Success) j.t(1) += 1
        if (m != null) {
          val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
          val vals = Seq(m.executorRunTime, m.executorCpuTime, m.jvmGCTime, math.max(0L, delay),
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
          vals.zipWithIndex.foreach { case (v, k) => j.t(k + 2) += v }
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { s.jobGroupId.foreach(g => execGroup(s.executionId) = g) }
      case s: SparkListenerSQLExecutionEnd =>
        Trace.this.synchronized { Internals.queryId(s).foreach(q => queryExec(q) = s.executionId) }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      val tables = qe.analyzed.collectLeaves().collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }.flatten.toSet
      Trace.this.synchronized {
        qes += Qe(qe.id, ph.getOrElse("analysis", 0L), ph.getOrElse("optimization", 0L),
          ph.getOrElse("planning", 0L), tables)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for every posted event, then detach both listeners. */
  def stop(): Unit = {
    Internals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def opOf(group: String): String = group.takeWhile(_ != '/')

  /** Wall time inside [from, to] covered by none of `intervals`. */
  private def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val a = math.max(s, reach)
      val b = math.min(e, to)
      if (b > a) { covered += b - a; reach = b }
    }
    (to - from) - covered
  }

  /** Per-op layer record (see perfbench/README.md for the layer names). */
  def records(ops: Seq[OpSpan]): Seq[Map[String, Any]] = synchronized {
    val byOp = jobs.values.toSeq.groupBy(j => opOf(j.group))
    val qeByOp = qes.toSeq.groupBy(q =>
      opOf(queryExec.get(q.id).flatMap(execGroup.get).getOrElse("")))
    ops.map { op =>
      val js = byOp.getOrElse(op.id, Nil)
      val qs = qeByOp.getOrElse(op.id, Nil)
      val wallS = (op.endMs - op.startMs) / 1e3
      def sum(k: Int) = js.map(_.t(k)).sum
      val constructMs = op.phases.find(_._1 == "construct")
        .map { case (_, s) => op.phases.find(_._1 == "sink").map(_._2).getOrElse(op.endMs) - s }
        .getOrElse(0L)
      val schemaJobs = js.filter(_.name.contains("Tables.scala"))
      val tables = qs.flatMap(_.tables).toSet
      val wrote = js.filter(_.t(12) > 0)
      Map[String, Any](
        "op" -> op.id, "name" -> op.name, "pass" -> op.pass, "wall_s" -> wallS,
        "start_ms" -> op.startMs, "end_ms" -> op.endMs,
        "latency_s" -> op.latencyS,
        "phases" -> op.phases.map { case (ph, s) => Map("phase" -> ph, "start_ms" -> s) },
        "tables.schema_jobs" -> schemaJobs.size,
        "tables.schema_job_s" -> schemaJobs.map(j => j.endMs - j.startMs).sum / 1e3,
        "tables.tables_read" -> tables.size,
        "queries.construct_s" -> constructMs / 1e3,
        "queries.construct_jobs" -> js.count(_.group.endsWith("/construct")),
        "planning.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
        "planning.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
        "planning.planning_s" -> qs.map(_.planningMs).sum / 1e3,
        "scheduling.jobs" -> js.size,
        "scheduling.stages" -> js.map(_.stages).sum,
        "scheduling.tasks" -> sum(0),
        "scheduling.failed_tasks" -> sum(1),
        "scheduling.job_gap_s" ->
          uncovered(op.startMs, op.endMs, js.map(j => (j.startMs, j.endMs))) / 1e3,
        "scheduling.scheduler_delay_s" -> sum(5) / 1e3,
        "operators.executor_run_s" -> sum(2) / 1e3,
        "operators.executor_cpu_s" -> sum(3) / 1e9,
        "operators.gc_s" -> sum(4) / 1e3,
        "operators.peak_exec_mem_mb" -> (if (js.isEmpty) 0L else js.map(_.peakMem).max) / 1048576.0,
        "shuffle.write_bytes" -> sum(6),
        "shuffle.read_bytes" -> sum(7),
        "shuffle.fetch_wait_s" -> sum(8) / 1e3,
        "shuffle.spill_bytes" -> sum(9),
        "input.bytes" -> sum(10),
        "input.records" -> sum(11),
        "pipeline.write_s" -> wrote.map(j => j.endMs - j.startMs).sum / 1e3,
        "pipeline.write_bytes" -> sum(12),
        "pipeline.write_records" -> sum(13),
        "jobs" -> js.map(j => Map("id" -> j.id, "group" -> j.group, "name" -> j.name,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
    }
  }

  /** Jobs whose group names none of `opIds`: attribution leaks. */
  def unattributed(opIds: Set[String]): Seq[String] = synchronized {
    jobs.values.toSeq.filterNot(j => opIds.contains(opOf(j.group))).map(j => s"${j.group}:${j.name}")
  }
}

object Trace {
  /** Per-job sums over its tasks, in `Job.t` order. */
  val TaskFields: Seq[String] = Seq("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "sched_delay_ms", "shuffle_write", "shuffle_read", "fetch_wait_ms", "spill",
    "input_bytes", "input_records", "output_bytes", "output_records")
}
