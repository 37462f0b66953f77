package graftbench

import java.nio.file.{Files, Path}
import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own guarantees: a wrong or failing query is counted
  * as failed and never as a fast success, records stay valid JSON under
  * a comma-decimal locale, and the traced run's listeners see every job
  * each query started end before its figures are read. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root: Path = Files.createTempDirectory("perfbench-spec")

  /** A data root whose sf0.1 holds the one table the warmup reads. */
  private lazy val dataRoot: String = {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    spark.range(200).selectExpr("id", "cast(id % 3 as string) AS l_returnflag")
      .write.parquet(root.resolve("data/sf0.1/lineitem.parquet").toString)
    root.resolve("data").toString
  }

  override def afterAll(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  private def config(name: String, fingerprints: Path, trace: Boolean): Config = Config(
    workload = "curate", seed = 7, seconds = 1, trace = trace, dataRoot = dataRoot,
    out = root.resolve(s"$name.json"), work = root.resolve(s"work-$name"),
    fingerprints = fingerprints, recordFingerprints = None, cpus = 2, stamp = Map.empty)

  private def good(s: SparkSession, d: String): DataFrame =
    s.range(1000).selectExpr("id % 10 AS k", "id * 0.5 AS v").groupBy("k").sum("v")

  /** Throws inside a Spark job, after the job has started. */
  private def throwing(s: SparkSession, d: String): DataFrame =
    s.range(100).select(expr("if(id = 42, raise_error('planted failure'), id)").as("x"))

  /** Runs two jobs while building its result, then returns a frame. */
  private def eager(s: SparkSession, d: String): DataFrame = {
    val n = s.range(500).filter(col("id") > 100).count()
    s.range(n).selectExpr("id % 7 AS k").distinct()
  }

  private def fingerprintsFile(name: String, entries: (String, Fingerprint)*): Path = {
    val p = root.resolve(s"$name-fingerprints.json")
    Files.write(p, Json.render(Json.obj(
      "queries" -> Json.Obj(entries.map { case (n, f) => n -> Json.obj("rows" -> f.rows, "hash" -> f.hash) }),
      "count_only" -> Seq.empty[String])).getBytes("UTF-8"))
    p
  }

  private def truth(fn: Batch.Fn): Fingerprint = {
    val s = SparkSession.builder().master("local[2]").getOrCreate()
    Fingerprint.of(fn(s, dataRoot))
  }

  test("a wrong result and a throwing query both count as failed, never as fast successes") {
    val right = truth(good)
    val fps = fingerprintsFile("planted",
      "good" -> right,
      "wrong" -> right.copy(hash = (BigInt(right.hash) + 1).toString),
      "throws" -> right)
    val (o, _) = Batch.run(config("planted", fps, trace = true),
      Seq("good" -> good _, "wrong" -> good _, "throws" -> throwing _))
    val passes = 1 + Workloads.warmPasses("curate", 1)
    assert(o.attempted == 3 * passes)
    assert(o.failures.count(_.startsWith("wrong: result hash")) == passes, o.failures)
    assert(o.failures.count(_.startsWith("throws threw")) == passes, o.failures)
    assert(o.failures.size == 2 * passes)
    assert(o.layers.toMap.apply("failed_ops").value == 2.0 / 3.0)
    val rec = Run.Record(o, Map.empty)
    val parsed = new ObjectMapper().readTree(Json.render(rec))
    assert(!parsed.get("correct").asBoolean)
    assert(parsed.get("failed").asInt == 2 * passes)
    // only the successful query's time may enter the pass totals
    val ops = parsed.get("ops").elements()
    var goodSum = 0.0
    ops.forEachRemaining { op =>
      if (op.get("pass").asInt == 0 && op.get("ok").asBoolean) goodSum += op.get("wall_s").asDouble
      if (op.get("name").asText != "good") assert(!op.get("ok").asBoolean)
    }
    assert(parsed.get("metrics").get("cold_pass_s").get("value").asDouble == goodSum)
  }

  test("a missing committed fingerprint is a failure") {
    val fps = fingerprintsFile("missing", "good" -> truth(good))
    val (o, _) = Batch.run(config("missing", fps, trace = false), Seq("good" -> good _, "other" -> good _))
    assert(o.failures.nonEmpty && o.failures.forall(_.startsWith("other: no committed fingerprint")))
  }

  test("every query's started jobs have ended when the traced figures are read") {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    val tracers = new Tracers(spark)
    try {
      val execs = Batch.passes(spark, "curate", 3, 2, dataRoot,
        Seq("good" -> good _, "eager" -> eager _, "throws" -> throwing _),
        (_, _) => None, Some(tracers))
      execs.foreach { e =>
        val jobs = Layers.jobsOf(tracers.jobs, Seq(e), "curate/")(e.label)
        assert(jobs.nonEmpty, s"${e.label}: no jobs seen")
        assert(jobs.forall(_.end >= 0), s"${e.label}: started ${jobs.size}, ended ${jobs.count(_.end >= 0)}")
      }
      assert(Layers.unended(tracers.jobs, execs, "curate/").isEmpty)
      // the eager query's build ran jobs before its action did
      val eagerCold = execs.find(e => e.name == "eager" && e.pass == 0).get
      assert(Layers.jobsOf(tracers.jobs, Seq(eagerCold), "curate/")(eagerCold.label)
        .count(_.start <= eagerCold.buildEndMs) >= 1)
    } finally tracers.detach()
  }

  test("the record is valid JSON with every digit under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500", "the locale under test writes commas")
      val values = Seq(1.5, 1234.5678, 1.0e-7, 0.1 + 0.2, 2.0 / 3.0)
      val o = Outcome(attempted = 5, failures = Nil,
        metrics = values.zipWithIndex.map { case (v, i) => s"m$i" -> Metric(v, "s") },
        layers = Seq("l" -> Metric(123456.789, "ms")), detail = Seq("spans" -> Seq(Json.obj("x" -> 0.25))))
      val text = Json.render(Run.Record(o, Map("k" -> "v")))
      val parsed = new ObjectMapper().readTree(text)
      values.zipWithIndex.foreach { case (v, i) =>
        assert(parsed.get("metrics").get(s"m$i").get("value").asDouble == v)
      }
      assert(parsed.get("layers").get("l").get("value").asDouble == 123456.789)
      assert(Json.fixed(1.5) == "1.500")
      val p = root.resolve("locale-record.json")
      Run.writeRecord(p, Run.Record(o, Map.empty))
      assert(new ObjectMapper().readTree(p.toFile).get("attempted").asInt == 5)
    } finally Locale.setDefault(saved)
  }

  test("fingerprints ignore row order and float noise but see value changes") {
    val s = SparkSession.builder().master("local[2]").getOrCreate()
    import s.implicits._
    val a = Seq((1, 0.1 + 0.2, Seq(1.0, 2.0)), (2, 3.0, Seq(0.0))).toDF("k", "v", "xs")
    val b = Seq((2, 3.0, Seq(-0.0)), (1, 0.3, Seq(1.0, 2.0))).toDF("k", "v", "xs")
    val c = Seq((2, 3.0, Seq(0.0)), (1, 0.31, Seq(1.0, 2.0))).toDF("k", "v", "xs")
    assert(Fingerprint.of(a) == Fingerprint.of(b))
    assert(Fingerprint.of(a) != Fingerprint.of(c))
    assert(Fingerprint.of(a.limit(0)).rows == 0)
  }
}
