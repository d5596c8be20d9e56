package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{Queries, Sessions}
import graft.domain.SpotifyPipeline
import graft.operators.Checkpoints

/** The benchmark's JVM side: sets up, warms, checks, times and (with
  * `trace=1`) traces one workload, then writes everything it measured to
  * `<work>/result.json`. `perfbench/run.py` builds this, generates the
  * inputs, compares the outputs and turns the result into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), cpus,
  * work (scratch dir), and fixture + queries (comma list) for the query
  * workloads or raw (comma list of landed day dirs) for etl_daily. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val benches = a("workload") match {
      case "query_seq"  => Seq(new QueryBench(a, clients = 1))
      case "query_conc" => Seq(new QueryBench(a, clients = a("cpus").toInt))
      case "etl_daily"  => Seq(new EtlBench(a))
      // One JVM through every code path, to load the classes for run.py's
      // class-data archive.
      case "train"      => Seq(new QueryBench(a, clients = 2), new EtlBench(a))
      case other        => sys.error(s"unknown workload $other")
    }
    val results = benches.map(_.run())
    Files.writeString(Paths.get(a("work"), "result.json"), Json(results.last))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def nowMs: Long = System.currentTimeMillis()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    secondsSince(t0)
  }

  /** Runs `next` on `threads` threads until it returns None; each thread
    * asks for its next item as soon as its previous one returns (a closed
    * loop). */
  def closedLoop(threads: Int, next: () => Option[String])(f: String => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = Iterator.continually(next()).takeWhile(_.isDefined).foreach(n => f(n.get))
      }))
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}

/** What one timed pass reports: the seconds it spent in
  * `Checkpoints.release`, and the window its throughput is counted over
  * (ops that end after the window still count for latency). */
final case class Pass(releaseS: Double, windowS: Double)

/** Follows the host's speed during a run. On a shared host the speed of
  * the same code drifts by a fifth or more over minutes (neighbours' load,
  * CPU steal), more than a run can average away. Between ops, with the
  * engine idle, this times a fixed kernel that touches neither graft nor
  * Spark and allocates nothing: `threads` threads at once, each mixing a
  * private, preallocated 256 KiB array. run.py scales the run's timings by
  * the lower quartile of the kernel's times, so a run on a slow stretch of
  * the host and one on a fast stretch report nearly the same figures for
  * the same code. */
final class HostProbe(threads: Int) {
  private val Words = 1 << 15
  private val Steps = 1 << 22
  private val arrays = Array.fill(threads)(new Array[Long](Words))
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "host-probe"); t.setDaemon(true); t
  })
  private val times = new ConcurrentLinkedQueue[Double]()
  @volatile private var sink = 0L

  private def kernel(a: Array[Long], seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < Steps) {
      val j = (x >>> 40).toInt & (Words - 1)
      x = (x ^ a(j)) * 0x9E3779B97F4A7C15L + i
      a(j) = x
      i += 1
    }
    x
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Waits, at most a second, until this JVM uses under 5 % of a core over
    * 20 ms. Spark's listener bus, cleaner and GC keep working for a while
    * after an op returns; a sample taken then would time that work along
    * with the host, and that work changes with graft's code. */
  private def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 1000000000L
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      Thread.sleep(20)
      quiet = os.getProcessCpuTime - cpu0 < 0.05 * (System.nanoTime() - t0)
    }
  }

  /** Times one kernel on every thread at once, kept when `record`. */
  def sample(record: Boolean): Unit = {
    awaitQuiet()
    val t0 = System.nanoTime()
    val fs = arrays.indices.map(k => pool.submit(new Callable[Long] {
      def call(): Long = kernel(arrays(k), k + 1L)
    }))
    sink ^= fs.map(_.get()).sum
    val s = Main.secondsSince(t0)
    if (record) times.add(s)
  }

  def samples: Seq[Double] = times.asScala.toSeq
  def close(): Unit = pool.shutdownNow()
}

/** Common skeleton: `SetupReps` set-ups, each `Sessions.local` plus one
  * warm-up op (all but the last session are stopped, so the first set-up
  * is cold and the others warm), an untimed correctness pass and warm-up
  * passes, then timed passes until `seconds` have passed. With tracing on,
  * untraced and traced passes are mixed (at least two of each), so one run
  * gives both the per-layer records and the tracing overhead. */
abstract class Bench(a: Map[String, String]) {
  val SetupReps = 3
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val traced: Boolean = a("trace") == "1"
  val cpus: Int = a("cpus").toInt
  val work: String = a("work")
  def clients: Int

  protected var spark: SparkSession = _
  private var opSeq = 0
  @volatile private var passStart = 0L
  /** Probe time inside the current pass, left out of its clock. */
  @volatile private var probeNs = 0L
  private val probe = new HostProbe(cpus)
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val spans = new ConcurrentLinkedQueue[OpSpan]()

  protected def warmUp(rep: Int): Unit
  /** The untimed correctness pass; returns what run.py needs to check. */
  protected def checkPass(): Map[String, Any]
  protected def timedPass(pass: Int, tracing: Boolean): Pass
  /** An optional last timed pass, run once the time is up. */
  protected def closingPass: Option[(Int, Boolean) => Pass] = None
  /** Untimed passes after the correctness pass, numbered below 0: the JIT
    * is still warming for a pass or two after the set-ups. */
  protected def warmPasses: Int = 1
  protected def extra(): Map[String, Any] = Map.empty

  /** Seconds since the current pass started, host probes left out. */
  protected def inPass: Double = Main.secondsSince(passStart) - probeNs / 1e9

  private def startPass(): Unit = { probeNs = 0L; passStart = System.nanoTime() }

  /** One host-speed sample, taken with no op running; kept for timed passes. */
  protected def probeHost(pass: Int): Unit = {
    val t0 = System.nanoTime()
    probe.sample(record = pass >= 0)
    probeNs += System.nanoTime() - t0
  }

  /** Run `body` as one op: its jobs are tagged `"<id>/<phase>"` by the job
    * group each `phase(...)` call switches to; its latency, end (seconds
    * into its pass), any error and, when tracing, its span are recorded. */
  protected def op(name: String, pass: Int, tracing: Boolean)(
      body: (String => Unit) => Unit): Unit = {
    val id = synchronized { opSeq += 1; s"op$opSeq" }
    val sc = spark.sparkContext
    val phases = Seq.newBuilder[(String, Long)]
    val startMs = Main.nowMs
    val t0 = System.nanoTime()
    val err = try {
      body { ph => phases += ph -> Main.nowMs; sc.setJobGroup(s"$id/$ph", name) }
      None
    } catch { case e: Throwable => Some(e.toString) }
    val lat = Main.secondsSince(t0)
    val endMs = Main.nowMs
    sc.clearJobGroup()
    if (pass >= 0) ops.add(Map("name" -> name, "pass" -> pass, "latency_s" -> lat,
      "end_s" -> inPass, "traced" -> tracing, "error" -> err.orNull))
    if (tracing) spans.add(OpSpan(id, name, pass, startMs, endMs, phases.result(), lat))
  }

  def run(): Map[String, Any] = {
    (1 to 20).foreach(_ => probe.sample(record = false)) // JIT-compile the kernel
    val setups = (0 until SetupReps).map { rep =>
      val start = Main.timed { spark = Sessions.local(cpus.toString) }
      val warm = Main.timed(warmUp(rep))
      if (rep < SetupReps - 1) spark.stop()
      Map("start_s" -> start, "warmup_s" -> warm)
    }
    var check: Map[String, Any] = null
    val checkS = Main.timed { check = checkPass() }
    val warmS = Main.timed((-warmPasses until 0).foreach { p =>
      startPass()
      timedPass(p, tracing = false)
    })

    val trace = new Trace(spark)
    val passes = Seq.newBuilder[Map[String, Any]]
    var pass = 0
    // Traced passes in an ABBA order (untraced, traced, traced, untraced, ...)
    // so the JIT still warming does not favour either side of the overhead.
    def onePass(body: Boolean => Pass): Unit = {
      val tracing = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (tracing) trace.start()
      startPass()
      val p = body(tracing)
      passes += Map("pass" -> pass, "wall_s" -> inPass, "window_s" -> p.windowS,
        "release_s" -> p.releaseS, "traced" -> tracing)
      if (tracing) trace.stop()
      pass += 1
    }
    val start = System.nanoTime()
    while (pass < (if (traced) 4 else 1) || Main.secondsSince(start) < seconds)
      onePass(timedPass(pass, _))
    closingPass.foreach(f => onePass(f(pass, _)))

    val opSpans = spans.asScala.toSeq.sortBy(_.startMs)
    val records = if (traced) trace.records(opSpans) else Nil
    val leaks = if (traced) trace.unattributed(opSpans.map(_.id).toSet) else Nil
    val rss = Main.peakRssMb
    spark.stop()
    probe.close()
    Map("setups" -> setups, "check" -> check, "check_pass_s" -> checkS, "warm_pass_s" -> warmS,
      "ops" -> ops.asScala.toSeq, "passes" -> passes.result(), "peak_rss_mb" -> rss,
      "clients" -> clients, "records" -> records, "unattributed_jobs" -> leaks,
      "host_probe_s" -> probe.samples) ++ extra()
  }
}

/** query_seq (one client) and query_conc (`cpus` clients): the frozen list
  * into the noop sink, as seed-permuted copies of the list. With one client
  * a pass is one copy, and `Checkpoints.release` follows every op. With
  * several, a pass is a closed loop over copies, a new copy started only
  * while `seconds` have not passed, and release runs once the engine is
  * quiescent at its end: releasing while another query still reads its
  * checkpoints would fail that query. */
final class QueryBench(a: Map[String, String], val clients: Int) extends Bench(a) {
  private val WarmQuery = "q_join_agg"
  private val fixture = a("fixture")
  private val names = a("queries").split(",").toSeq
  private val unknown = (names :+ WarmQuery).filterNot(Queries.all.contains) ++
    names.filterNot(Queries.oracles.contains).map(_ + " (no oracle)")
  require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
  private val rng = new Random(seed)
  /** query_conc's correctness pass already runs in its own mode. */
  override protected def warmPasses: Int = if (clients == 1) 1 else 0

  private def noop(name: String, pass: Int, tracing: Boolean): Unit =
    op(name, pass, tracing) { phase =>
      phase("construct")
      val df = Queries.all(name)(spark, fixture)
      phase("sink")
      df.write.mode("overwrite").format("noop").save()
    }

  protected def warmUp(rep: Int): Unit = {
    Queries.all(WarmQuery)(spark, fixture).write.mode("overwrite").format("noop").save()
    Checkpoints.release(spark)
  }

  /** Each listed query once into Parquet for the oracle compare, on `cpus`
    * threads whatever the workload; it also warms every listed query. */
  protected def checkPass(): Map[String, Any] = {
    val out = s"$work/check"
    val errors = new ConcurrentHashMap[String, String]()
    val todo = new ConcurrentLinkedQueue[String](names.asJava)
    Main.closedLoop(cpus, () => Option(todo.poll())) { n =>
      try Queries.all(n)(spark, fixture).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Throwable => errors.put(n, e.toString) }
    }
    Checkpoints.release(spark)
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(names.map(n => n -> Queries.oracles(n)).toMap))
    Map("dir" -> out, "errors" -> errors.asScala.toMap)
  }

  protected def timedPass(pass: Int, tracing: Boolean): Pass =
    if (clients == 1) {
      val release = rng.shuffle(names).map { n =>
        noop(n, pass, tracing)
        val r = Main.timed(Checkpoints.release(spark))
        probeHost(pass)
        r
      }.sum
      Pass(release, inPass)
    } else {
      // Whole copies only, so every pass runs the same mix; the window ends
      // when the clients find the last copy drained.
      var copy: Iterator[String] = Iterator.empty
      var windowS = 0.0
      val next = () => synchronized {
        if (!copy.hasNext && inPass < seconds) copy = rng.shuffle(names).iterator
        if (copy.hasNext) Some(copy.next())
        else { if (windowS == 0.0) windowS = inPass; None }
      }
      Main.closedLoop(clients, next)(noop(_, pass, tracing))
      val release = Main.timed(Checkpoints.release(spark))
      (1 to 5).foreach(_ => probeHost(pass))
      Pass(release, windowS)
    }
}

/** etl_daily: each op is one `SpotifyPipeline.runDaily` for the next run
  * date, over the landed raw days in turn (one pass = one op per raw day);
  * once the time is up, a closing op re-runs the first date over the same
  * raw day, which must leave every partition as it was. */
final class EtlBench(a: Map[String, String]) extends Bench(a) {
  val clients = 1
  /** The entities `SpotifyPipeline.transform` writes. */
  private val Entities = Seq("artist", "album", "album_artists", "track", "track_artists")
  private val raws = a("raw").split(",").toSeq
  private val out = s"$work/warehouse"
  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private var dates = 0
  private val written = Seq.newBuilder[Map[String, Any]]

  private def files(dir: String, keep: String => Boolean): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(f => f.isFile && keep(f.getName))

  private def daily(i: Int, pass: Int, tracing: Boolean): Unit = {
    val raw = raws(i % raws.size)
    val date = day0.plusDays(i).toString
    op(s"runDaily $date", pass, tracing) { phase =>
      phase("run")
      SpotifyPipeline.runDaily(spark, raw, out, date)
    }
    val parts = Entities.flatMap(e => files(s"$out/$e/ingest_date=$date", _.startsWith("part-")))
    written += Map("date" -> date, "raw" -> i % raws.size,
      "input_bytes" -> files(raw, _.endsWith(".json")).map(_.length).sum,
      "written_bytes" -> parts.map(_.length).sum, "written_files" -> parts.size)
  }

  /** One run date into a directory of its own. */
  protected def warmUp(rep: Int): Unit =
    SpotifyPipeline.runDaily(spark, raws.head, s"$work/warm", s"2000-01-0${rep + 1}")

  /** Three passes, nine runDaily calls: the first dozen calls of a JVM run
    * 10-30 % slower than the later ones while the JIT is still compiling. */
  override protected def warmPasses: Int = 3

  /** The timed ops' own outputs are checked, after the closing re-run. */
  protected def checkPass(): Map[String, Any] = Map("dir" -> out)

  protected def timedPass(pass: Int, tracing: Boolean): Pass = {
    raws.indices.foreach { _ => daily(dates, pass, tracing); probeHost(pass); dates += 1 }
    Pass(0.0, inPass)
  }

  override protected def closingPass: Option[(Int, Boolean) => Pass] =
    Some { (pass, tracing) => daily(0, pass, tracing); Pass(0.0, inPass) }

  override protected def extra(): Map[String, Any] =
    Map("written" -> written.result(), "entities" -> Entities)
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                          => "null"
    case s: String                     => quote(s)
    case b: Boolean                    => b.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number                     => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                => s.map(apply).mkString("[", ",", "]")
    case other                         => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
}
