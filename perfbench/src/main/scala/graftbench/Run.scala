package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (one workload, one JVM). */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataRoot: String,
    out: Path,
    work: Path,
    fingerprints: Path,
    recordFingerprints: Option[Path],
    cpus: Int,
    stamp: Map[String, String])

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      dataRoot = req("data"),
      out = Paths.get(req("out")),
      work = Paths.get(req("work")),
      fingerprints = Paths.get(req("fingerprints")),
      recordFingerprints = kv.get("record-fingerprints").map(Paths.get(_)),
      cpus = kv.get("cpus").map(_.toInt).getOrElse(4),
      stamp = kv.get("stamp").toSeq.flatMap(_.split(';')).filter(_.contains('='))
        .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap)
  }
}

/** A metric as it appears in the record: value plus unit. */
final case class Metric(value: Double, unit: String)

/** What one workload reports: end-to-end metrics, per-layer metrics
  * (traced runs only), the operations it attempted and failed, and
  * any details worth keeping in the record file. */
final case class Outcome(
    attempted: Int,
    failures: Seq[String],
    metrics: Seq[(String, Metric)],
    layers: Seq[(String, Metric)],
    detail: Seq[(String, Any)])

/** The clocks at one instant: wall, the JVM's CPU, its JIT compiler
  * threads' CPU, its collectors' accumulated time, and the machine's
  * busy and stolen CPU ticks. */
final case class Clocks(
    wallNs: Long, cpuNs: Long, compilerNs: Long, collectorNs: Long, gcMs: Long,
    busyTicks: Long, stolenTicks: Long) {
  def -(o: Clocks): Cost = {
    val busy = busyTicks - o.busyTicks
    val stolen = stolenTicks - o.stolenTicks
    Cost((wallNs - o.wallNs) / 1e9, (cpuNs - o.cpuNs) / 1e9, (compilerNs - o.compilerNs) / 1e9,
      (collectorNs - o.collectorNs) / 1e9, (gcMs - o.gcMs) / 1e3,
      if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0)
  }
}

object Clocks {
  def now(): Clocks = {
    val wall = System.nanoTime()
    val (busy, stolen) = Run.machineTicks()
    val (compiler, collector) = Run.jvmThreadsCpuNs()
    Clocks(wall, Run.cpuNs(), compiler, collector, Run.gcMs(), busy, stolen)
  }
}

/** What a span of the run cost, in seconds: wall time, the JVM's CPU
  * time, the parts of it its JIT compiler and GC threads used, GC pause
  * time, and the share of the machine's busy CPU time the hypervisor
  * stole.
  *
  * `workCpuS` is the CPU time the JVM's other threads ran: the queries'
  * own work (task threads, driver, server, clients). The kernel charges
  * a thread for the time the hypervisor stole while the thread held the
  * CPU, and on a shared host that is 0-20% of it; the kernel's own count
  * of stolen ticks over the same span says how much, and it is taken
  * out, assuming the theft fell evenly on busy time. */
final case class Cost(
    wallS: Double, cpuS: Double, compilerS: Double, collectorS: Double, gcS: Double, stolenShare: Double) {
  def workCpuS: Double = (cpuS - compilerS - collectorS) * (1 - stolenShare)
  def json: Json.Obj = Json.obj(
    "wall_s" -> wallS, "cpu_s" -> cpuS, "compiler_cpu_s" -> compilerS, "collector_cpu_s" -> collectorS,
    "work_cpu_s" -> workCpuS, "gc_s" -> gcS, "stolen_share" -> stolenShare)
}

/** Times of the run's one set-up: `totalS` from JVM start to the first
  * timed operation, the session build, the warmup action, and the
  * workload's own set-up on top of the session. */
final case class SetupTimes(totalS: Double, sessionS: Double, warmupS: Double, extraS: Double)

object Run {

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU nanoseconds this JVM has used so far, over all its threads:
    * Spark's task threads, the driver, the server, JIT and GC. Time a
    * thread spends waiting for a CPU is not counted; time the hypervisor
    * stole while the thread held one is (see [[Cost]]). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean if os.getProcessCpuTime >= 0 => os.getProcessCpuTime
    case _ => throw new IllegalStateException("this JVM does not report process CPU time")
  }

  /** The machine's CPU ticks since boot, over all CPUs, from
    * /proc/stat: busy (user, nice, system, irq, softirq) and stolen by
    * the hypervisor. The kernel counts a stolen tick as stolen, not as
    * busy, although the thread that held the CPU is charged for it. */
  def machineTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .getOrElse(throw new IllegalStateException("/proc/stat has no cpu line"))
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** CPU nanoseconds the JVM's JIT compiler threads and its garbage
    * collector threads (G1's workers, markers and refiners) have used
    * so far, those now alive, read from /proc at the clock tick's
    * resolution. Both run in the background on their own schedule: the
    * compilers drain their queue, which Spark's generated code keeps
    * full, for as long as a pass lasts, and a concurrent marking cycle
    * starts when the heap crosses a threshold, in one run and not the
    * next; so their CPU time follows the pass's wall time and the heap's
    * history more than the queries' work. */
  def jvmThreadsCpuNs(): (Long, Long) = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(throw new IllegalStateException("/proc/self/task is unavailable"))
    def cpuNs(t: java.io.File): Long = {
      val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), StandardCharsets.US_ASCII)
      // after "pid (comm) ": state is field 3, utime and stime fields 14 and 15, in 1/100 s
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) * 10000000L
    }
    var compiler, collector = 0L
    tasks.foreach { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), StandardCharsets.US_ASCII)
        if (comm.contains("CompilerThre")) compiler += cpuNs(t)
        else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) collector += cpuNs(t)
      } catch { case _: java.io.IOException => () } // the thread has exited
    }
    (compiler, collector)
  }

  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Build the session exactly as the program's mains do, prepare it
    * and run the warmup action Bench runs before its first query. */
  def newSession(cpus: Int, warmupDir: String): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
    val t1 = System.nanoTime()
    graft.sources.Tables.lineitem(spark, warmupDir).groupBy("l_returnflag").count().collect()
    val t2 = System.nanoTime()
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Set up once, as a new process pays it: the clock starts at JVM
    * start, so `setup_s` carries JVM and class loading, the session
    * build, `prepare`, the warmup action and `extra`, the workload's own
    * set-up on top of the session (the serve workload seeds its catalog
    * there). A second set-up in the same JVM would find it warm and
    * measure something else. */
  def setUp[A](cfg: Config, warmupDir: String)(extra: SparkSession => A): (SparkSession, A, SetupTimes) = {
    val (spark, sessionS, warmupS) = newSession(cfg.cpus, warmupDir)
    val te = System.nanoTime()
    val a = extra(spark)
    val extraS = (System.nanoTime() - te) / 1e9
    val totalS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    (spark, a, SetupTimes(totalS, sessionS, warmupS, extraS))
  }

  /** The end-to-end CPU metrics from each pass's work CPU seconds (the
    * cold pass first) and the number of operations that completed in them. */
  def cpuMetrics(passCpu: Seq[Double], ops: Int): Seq[(String, Metric)] = Seq(
    "cold_pass_cpu_s" -> Metric(passCpu.head, "s"),
    "warm_pass_cpu_s" -> Metric(Stats.median(passCpu.tail), "s"),
    "ops_per_cpu_s" -> Metric(ops / passCpu.sum, "1/s"))

  /** The JIT compiler and GC threads' CPU seconds of the cold pass and
    * the median over the warm passes: what the CPU metrics leave out. */
  def jvmThreadMetrics(compiler: Seq[Double], collector: Seq[Double]): Seq[(String, Metric)] = Seq(
    "jvm.compiler_cpu_s.cold" -> Metric(compiler.head, "s"),
    "jvm.compiler_cpu_s.warm" -> Metric(Stats.median(compiler.tail), "s"),
    "jvm.collector_cpu_s.cold" -> Metric(collector.head, "s"),
    "jvm.collector_cpu_s.warm" -> Metric(Stats.median(collector.tail), "s"))

  def setupMetrics(t: SetupTimes): (Seq[(String, Metric)], Seq[(String, Metric)], Seq[(String, Any)]) = {
    val e2e = Seq("setup_s" -> Metric(t.totalS, "s"))
    val layers = Seq(
      "GraftSession.session_s" -> Metric(t.sessionS, "s"),
      "GraftSession.warmup_s" -> Metric(t.warmupS, "s"))
    val detail = Seq("setup" -> Json.obj(
      "total_s" -> t.totalS, "session_s" -> t.sessionS, "warmup_s" -> t.warmupS, "extra_s" -> t.extraS))
    (e2e, layers, detail)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val loadBefore = loadavg()
    Files.createDirectories(cfg.work)
    val outcome: Either[Throwable, (Outcome, String)] =
      try {
        val (o, sparkVersion) = cfg.workload match {
          case "curate" => Batch.run(cfg, Workloads.curate.map(n => n -> SparkEntry.queries(n)))
          case "serve" => Serve.run(cfg)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        Right(o -> sparkVersion)
      } catch { case e: Throwable => Left(e) }
    outcome match {
      case Left(e) =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        System.exit(3)
      case Right((o, sparkVersion)) =>
        val stamp = cfg.stamp ++ Map(
          "nproc" -> Runtime.getRuntime.availableProcessors.toString,
          "loadavg_before" -> loadBefore,
          "loadavg_after" -> loadavg(),
          "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
          "spark" -> sparkVersion,
          "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
          "seed" -> cfg.seed.toString,
          "data" -> cfg.dataRoot,
          "workload" -> cfg.workload,
          "trace" -> (if (cfg.trace) "1" else "0"))
        val layers = if (!cfg.trace) Nil else {
          val have = o.layers.map(_._1).toSet
          o.layers ++ Layers.zeroCounts.filterNot(l => have(l._1))
        }
        writeRecord(cfg.out, Record(o.copy(layers = layers), stamp))
        System.err.println(s"[perfbench] ${cfg.workload} seed=${cfg.seed} trace=${stamp("trace")} " +
          s"attempted=${o.attempted} failed=${o.failures.size} " +
          o.metrics.map { case (k, m) => s"$k=${Json.fixed(m.value, 4)}" }.mkString(" "))
        o.failures.take(20).foreach(f => System.err.println(s"[perfbench] failed: $f"))
    }
  }

  /** The record file: everything the run measured, plus the stamp. */
  object Record {
    def apply(o: Outcome, stamp: Map[String, String]): Json.Obj = {
      def ms(xs: Seq[(String, Metric)]) = Json.Obj(xs.map { case (k, m) => k -> Json.obj("value" -> m.value, "unit" -> m.unit) })
      Json.obj(
        "correct" -> o.failures.isEmpty,
        "attempted" -> o.attempted,
        "failed" -> o.failures.size,
        "metrics" -> ms(o.metrics),
        "layers" -> ms(o.layers),
        "failures" -> o.failures,
        "stamp" -> stamp) ++ o.detail
    }
  }

  def writeRecord(path: Path, rec: Json.Obj): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, Json.render(rec).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
