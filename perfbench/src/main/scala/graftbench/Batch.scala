package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Committed result fingerprints. A query listed in `countOnly` gave
  * different hashes on two runs of the same code, so only its row
  * count is checked. */
final case class Expected(fps: Map[String, Fingerprint], countOnly: Set[String]) {

  /** None when `got` is right; otherwise why it is wrong. */
  def check(name: String, got: Fingerprint): Option[String] = fps.get(name) match {
    case None => Some(s"$name: no committed fingerprint")
    case Some(want) if want.rows != got.rows => Some(s"$name: ${got.rows} rows, expected ${want.rows}")
    case Some(want) if !countOnly(name) && want.hash != got.hash =>
      Some(s"$name: result hash ${got.hash}, expected ${want.hash}")
    case _ => None
  }
}

object Expected {
  def load(p: Path): Expected = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val fps = root.get("queries").properties().asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
    val countOnly = Option(root.get("count_only")).toSeq.flatMap(_.elements().asScala.map(_.asText)).toSet
    Expected(fps, countOnly)
  }
}

/** One timed execution of a query. Times in ms are wall clock (to
  * line up with listener events); `cost` is the whole query's. */
final case class Exec(
    name: String, pass: Int, label: String,
    cost: Cost, buildS: Double, actionS: Double,
    t0Ms: Long, buildEndMs: Long, t1Ms: Long,
    error: Option[String], fingerprint: Option[Fingerprint]) {
  def ok: Boolean = error.isEmpty
  def wallS: Double = cost.wallS
}

/** Listeners attached for a traced run. */
final class Tracers(val spark: SparkSession) {
  val jobs = new JobTrace
  val streams = new StreamTrace
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)

  /** Wait until both listeners have seen everything that happened. */
  def drain(): Unit = { streams.drain(); jobs.barrier(spark.sparkContext) }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }
}

/** The batch workloads: a cold pass over the workload's queries in a
  * fresh session, then warm passes in the same session with nothing
  * cleared. Queries run one at a time through the noop sink, timed as
  * `graft.Bench` times them: the query function plus the action. Each
  * result is then fingerprinted in an untimed action and checked. */
object Batch {

  type Fn = (SparkSession, String) => DataFrame

  /** The query order of a pass. The cold pass keeps name order: its
    * first query pays the JIT and class loading, and the first to touch
    * the dedup queries' shared frames builds them, so with the order
    * permuted those costs land on a different query in each run. The
    * seed permutes the warm passes, whose caches must serve any order. */
  private def shuffled[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    if (seed == 0 || pass == 0) xs else new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption).getOrElse(e.toString)

  /** Run `passes` passes (pass 0 is the cold one). With `trace` each
    * query runs under the job group `<workload>/<pass>/<name>`, and the
    * listeners are drained after each query, outside its timed region. */
  def passes(
      spark: SparkSession, workload: String, seed: Long, passes: Int, dir: String,
      queries: Seq[(String, Fn)], check: (String, Fingerprint) => Option[String],
      tracers: Option[Tracers], onPass: Int => Unit = _ => ()): Seq[Exec] = {
    val sc = spark.sparkContext
    (0 until passes).flatMap { pass =>
      val execs = shuffled(queries, seed, pass).map { case (name, fn) =>
        val label = s"$workload/${if (pass == 0) "cold" else s"warm$pass"}/$name"
        if (tracers.isDefined) sc.setJobGroup(label, label)
        val t0Ms = System.currentTimeMillis()
        val c0 = Clocks.now()
        val t0 = c0.wallNs
        var tb = t0
        var tbMs = t0Ms
        val run: Either[String, DataFrame] =
          try {
            val df = fn(spark, dir)
            tb = System.nanoTime(); tbMs = System.currentTimeMillis()
            df.write.format("noop").mode("overwrite").save()
            Right(df)
          } catch { case NonFatal(e) => Left(s"$name threw: ${firstLine(e)}") }
        val c1 = Clocks.now()
        val t1 = c1.wallNs
        val t1Ms = System.currentTimeMillis()
        if (tracers.isDefined) sc.setJobGroup(label + "#check", label + "#check")
        // the cold pass and the last warm pass are checked; the warm
        // passes between them run the same cached paths as the last
        val checked: Either[String, Option[Fingerprint]] = run.flatMap { df =>
          if (pass != 0 && pass != passes - 1) Right(None)
          else try {
            val fp = Fingerprint.of(df)
            check(name, fp).toLeft(Some(fp))
          } catch { case NonFatal(e) => Left(s"$name: fingerprint failed: ${firstLine(e)}") }
        }
        tracers.foreach { t => t.drain(); sc.clearJobGroup() }
        Exec(name, pass, label, c1 - c0, (tb - t0) / 1e9, (t1 - tb) / 1e9,
          t0Ms, tbMs, t1Ms, checked.left.toOption, checked.toOption.flatten)
      }
      onPass(pass)
      execs
    }
  }

  def run(cfg: Config, queries: Seq[(String, Fn)]): (Outcome, String) = {
    val dir = s"${cfg.dataRoot}/${Workloads.batchScale}"
    val check: (String, Fingerprint) => Option[String] =
      if (cfg.recordFingerprints.isDefined) (_, _) => None
      else Expected.load(cfg.fingerprints).check
    val (spark, _, setup) = Run.setUp(cfg, dir)(_ => ())
    val tracers = if (cfg.trace) Some(new Tracers(spark)) else None
    val nPasses = 1 + Workloads.warmPasses(cfg.workload, cfg.seconds)
    var cacheAfterCold: (Int, Double) = (0, 0.0)
    val gc0 = Run.gcMs()
    val jit0 = Run.jitMs()
    val execs = passes(spark, cfg.workload, cfg.seed, nPasses, dir, queries, check, tracers,
      onPass = p => if (p == 0) cacheAfterCold = (
        graft.operators.FrameCache.cachedCount(spark),
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6))
    val gcS = (Run.gcMs() - gc0) / 1e3
    val jitS = (Run.jitMs() - jit0) / 1e3

    val (setupE2e, setupLayers, setupDetail) = Run.setupMetrics(setup)
    def perPass(f: Exec => Double) = (0 until nPasses).map(p => execs.filter(e => e.pass == p && e.ok).map(f).sum)
    val passWall = perPass(_.wallS)
    val passCpu = perPass(_.cost.workCpuS)
    val okWalls = execs.filter(_.ok).map(_.wallS)
    val warmWalls = execs.filter(e => e.ok && e.pass > 0).map(_.wallS)
    val wall = Seq(
      "cold_pass_s" -> Metric(passWall.head, "s"),
      "warm_pass_s" -> Metric(Stats.median(passWall.tail), "s"),
      "stmts_per_s" -> Metric(okWalls.size / passWall.sum, "1/s"),
      "query_s.p50" -> Metric(Stats.median(warmWalls), "s"))
    val metrics = setupE2e ++ Run.cpuMetrics(passCpu, okWalls.size) ++ wall
    val failures = execs.flatMap(_.error)
    val layers = tracers.toSeq.flatMap { t =>
      t.detach()
      setupLayers ++ Layers.batch(t.jobs, t.streams, cfg.workload, execs, nPasses) ++ Seq(
        "peak_rss_mb" -> Metric(Run.peakRssMb(), "MB"),
        "FrameCache.frames" -> Metric(cacheAfterCold._1, "count"),
        "FrameCache.cached_mb" -> Metric(cacheAfterCold._2, "MB"),
        "jvm.gc_s" -> Metric(gcS, "s"),
        "jvm.jit_s" -> Metric(jitS, "s"),
        "query_s.p75" -> Metric(Stats.percentile(warmWalls, 0.75), "s"),
        "failed_ops" -> Metric(failures.size.toDouble / execs.size, "share")) ++
        Run.jvmThreadMetrics(perPass(_.cost.compilerS), perPass(_.cost.collectorS)) ++ wall
    }
    cfg.recordFingerprints.foreach(p => writeFingerprints(p, execs))
    val detail = setupDetail ++ Seq(
      "ops" -> execs.map(e => Json.obj(
        "name" -> e.name, "pass" -> e.pass, "build_s" -> e.buildS,
        "action_s" -> e.actionS, "ok" -> e.ok,
        "rows" -> e.fingerprint.map(_.rows), "hash" -> e.fingerprint.map(_.hash)) ++ e.cost.json.fields),
      "spans" -> tracers.toSeq.flatMap(_ => Layers.spans(execs)))
    val version = spark.version
    graft.operators.FrameCache.clear()
    spark.stop()
    (Outcome(execs.size, failures, metrics, layers, detail), version)
  }

  /** Observed fingerprints of one run, per query: the hash when every
    * pass agreed, else null (the query is then checked by count). */
  private def writeFingerprints(p: Path, execs: Seq[Exec]): Unit = {
    val byName = execs.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, es) =>
      val fps = es.flatMap(_.fingerprint).distinct
      n -> Json.obj(
        "rows" -> fps.headOption.map(_.rows),
        "hash" -> (if (fps.size == 1) Some(fps.head.hash) else None),
        "stable_rows" -> (fps.map(_.rows).distinct.size == 1))
    }
    Files.write(p, Json.render(Json.Obj(byName)).getBytes("UTF-8"))
  }
}
