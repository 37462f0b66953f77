package graftbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

import graft.{GraftSQL, GraftSession, Server}
import graft.sources.{TableCatalog, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One client operation: one statement, or BEGIN…COMMIT as a unit.
  * `keys` is the `o_orderkey` range a read's WHERE selects. */
final case class Op(kind: String, sqls: Seq[String], keys: Option[(Long, Long)]) {
  def isRead: Boolean = Serve.ReadKinds(kind)
}

/** A finished operation with its answer lines and timings. The
  * in-process timings (`executeMs`, `collectMs`) are only measured in
  * the traced run; over TCP only the round trip is seen. */
final case class Done(
    pass: Int, op: Op, label: String, ms: Double, lines: Seq[String],
    executeMs: Double, collectMs: Double, t0Ms: Long, t1Ms: Long,
    versionsWritten: Int, filesKept: Int, filesTotal: Int) {
  def error: Option[String] = lines.find(_.startsWith("Error:"))
}

/** The client side of one connection. */
trait Conn {
  /** Execute the statements in order; the answer lines of all of them. */
  def exec(sqls: Seq[String], label: String): (Seq[String], Double, Double)
  def close(): Unit
}

/** A line-protocol client of [[Server]]. The protocol has no end-of-
  * answer marker, so each request is followed by the `!headers off`
  * meta command, which the server answers with one fixed line and no
  * Spark work. */
final class TcpConn(port: Int) extends Conn {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(120000)
  private val out = new PrintWriter(new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8), true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))

  def exec(sqls: Seq[String], label: String): (Seq[String], Double, Double) = {
    sqls.foreach(s => out.println(s + ";"))
    out.println(TcpConn.Sentinel)
    val lines = Iterator.continually(in.readLine())
      .takeWhile(l => l != null && l != TcpConn.SentinelReply).toVector
    (lines, 0.0, 0.0)
  }

  def close(): Unit = try sock.close() catch { case NonFatal(_) => () }
}

object TcpConn {
  val Sentinel = "!headers off"
  val SentinelReply = "Headers disabled"
}

/** The same connection in process: a session and [[GraftSQL]] built
  * exactly as [[Server]] builds them per connection, so the traced run
  * can time the `execute` call and the result collect apart. Answers
  * render as the server renders them. */
final class LocalConn(spark: SparkSession, root: String) extends Conn {
  private val session = GraftSession.prepare(spark.newSession())
  private val g = new GraftSQL(session, new TableCatalog(session, root))

  def exec(sqls: Seq[String], label: String): (Seq[String], Double, Double) = {
    val sc = session.sparkContext
    sc.setJobGroup(label, label)
    var executeNs = 0L
    var collectNs = 0L
    val lines = sqls.flatMap { s =>
      try {
        val t0 = System.nanoTime()
        val df = g.execute(s)
        val t1 = System.nanoTime()
        val rows = df.collect()
        collectNs += System.nanoTime() - t1
        executeNs += t1 - t0
        rows.map(Serve.render)
      } catch { case NonFatal(e) =>
        Seq("Error: " + Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption).getOrElse(e.toString))
      }
    }
    sc.clearJobGroup()
    (lines, executeNs / 1e6, collectNs / 1e6)
  }

  def close(): Unit =
    if (g.inTransaction || g.inReadOnly) try g.execute("ROLLBACK") catch { case NonFatal(_) => () }
}

/** The client's own model of the rows it wrote to its table. */
final class Model(val table: String) {
  val rows = mutable.LinkedHashMap[Long, (Long, Double)]()
  var nextKey = 1L

  def newRows(rng: scala.util.Random, n: Int): Seq[(Long, Long, Double)] =
    (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      (k, (1 + rng.nextInt(50)).toLong, rng.nextInt(1000000) / 100.0)
    }

  def values(rs: Seq[(Long, Long, Double)]): String =
    rs.map { case (k, q, p) => s"($k, $q, ${Json.fixed(p, 2)})" }.mkString(", ")

  def apply(rs: Seq[(Long, Long, Double)]): Unit = rs.foreach { case (k, q, p) => rows(k) = (q, p) }

  def bump(k: Long): Unit = rows(k) = rows(k).copy(_1 = rows(k)._1 + 1)
}

/** The serving workload: SQL text over the TCP [[Server]] from two
  * client connections, closed loop, against a catalog seeded in set-up.
  * Reads go to the shared `orders` and `lineitem` tables; each
  * connection writes only to its own table, so a first-committer-wins
  * abort cannot happen and any error is a real failure. */
object Serve {

  val ReadKinds = Set("point", "range", "join")

  /** Operations of one pass of one connection, 10 reads to 4 writes:
    * 5 point reads, 3 range GROUP BYs, 2 joins, 2 inserts, 1 update and
    * 1 transaction (36/21/14/14/7/7%). */
  val PassMix: Seq[(String, Int)] =
    Seq("point" -> 5, "range" -> 3, "join" -> 2, "insert" -> 2, "update" -> 1, "txn" -> 1)

  val Connections = 2
  val Chunks = 8

  def render(r: Row): String = r.toSeq.map {
    case null  => "NULL"
    case true  => "TRUE"
    case false => "FALSE"
    case v     => v.toString
  }.mkString("|")

  final case class Seeded(root: String, orderKeys: Array[Long], models: Seq[Model])

  private val liCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** Seed a fresh catalog: `orders` indexed on its key and a 4-column
    * `lineitem` slice, each written as key-range chunks so zone maps
    * can prune; plus one 10-row table per connection. */
  def seed(spark: SparkSession, dir: String, root: Path, seed: Long): Seeded = {
    val cat = new TableCatalog(spark, root.toString)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir).select(liCols.map(col): _*)
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // one commit per table, written as key-range partitions: each data
    // file then covers one key range, and its zone map prunes
    def chunked(name: String, df: DataFrame, key: String): Unit = {
      cat.createTable(name, df.schema, indexes = Seq(key))
      cat.insert(name, df.repartitionByRange(Chunks, col(key)))
    }
    chunked("orders", orders, "o_orderkey")
    chunked("lineitem", lineitem, "l_orderkey")
    val g = new GraftSQL(spark, cat)
    val models = (0 until Connections).map { c =>
      val m = new Model(s"w$c")
      g.execute(s"CREATE TABLE ${m.table} (k INTEGER PRIMARY KEY, qty INTEGER, price DOUBLE)")
      val rs = m.newRows(new scala.util.Random(seed * 31 + c), 10)
      g.execute(s"INSERT INTO ${m.table} VALUES ${m.values(rs)}")
      m(rs)
      m
    }
    Seeded(root.toString, keys, models)
  }

  /** The next operation of a connection, drawn from its own stream. */
  def op(kind: String, rng: scala.util.Random, keys: Array[Long], m: Model): Op = {
    val span = keys.last - keys.head
    def range(width: Long): (Long, Long) = {
      val a = keys.head + (rng.nextDouble() * (span - width)).toLong
      (a, a + width)
    }
    def existing(): Long = m.rows.keys.toSeq(rng.nextInt(m.rows.size))
    kind match {
      case "point" =>
        val k = keys(rng.nextInt(keys.length))
        Op(kind, Seq("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
          s"WHERE o_orderkey = $k"), Some(k -> k))
      case "range" =>
        val (a, b) = range(span / 32)
        Op(kind, Seq("SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS s " +
          s"FROM orders WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_orderstatus ORDER BY o_orderstatus"),
          Some(a -> b))
      case "join" =>
        val (a, b) = range(span / 64)
        Op(kind, Seq("SELECT o_orderpriority, count(*) AS n, round(sum(l_extendedprice), 2) AS s " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          s"WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_orderpriority ORDER BY o_orderpriority"),
          Some(a -> b))
      case "insert" =>
        val rs = m.newRows(rng, 10)
        m(rs)
        Op(kind, Seq(s"INSERT INTO ${m.table} VALUES ${m.values(rs)}"), None)
      case "update" =>
        val k = existing()
        m.bump(k)
        Op(kind, Seq(s"UPDATE ${m.table} SET qty = qty + 1 WHERE k = $k"), None)
      case "txn" =>
        val rs = m.newRows(rng, 2)
        m(rs)
        val k = existing()
        m.bump(k)
        Op(kind, Seq("BEGIN", s"INSERT INTO ${m.table} VALUES ${m.values(rs)}",
          s"UPDATE ${m.table} SET qty = qty + 1 WHERE k = $k", "COMMIT"), None)
    }
  }

  /** Run `passes` passes on every connection, passes aligned by a
    * barrier. Returns every finished operation and each pass's cost,
    * from the barrier to the last connection's finish. */
  def drive(conns: Seq[Conn], seeded: Seeded, seed: Long, passes: Int,
      probe: Option[TableCatalog]): (Seq[Done], Seq[Cost]) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val passStart = new Array[Clocks](passes)
    val passEnd = new Array[Clocks](passes)
    val running = Array.fill(passes)(new java.util.concurrent.atomic.AtomicInteger(conns.size))
    val barrier = new CyclicBarrier(conns.size)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = conns.zipWithIndex.map { case (conn, c) =>
      val m = seeded.models(c)
      val t = new Thread(() => try {
        (0 until passes).foreach { p =>
          barrier.await(300, TimeUnit.SECONDS)
          if (c == 0) passStart(p) = Clocks.now()
          val rng = new scala.util.Random(seed * 7919 + c * 104729 + p)
          val kinds = rng.shuffle(PassMix.flatMap { case (k, n) => Seq.fill(n)(k) })
          kinds.zipWithIndex.foreach { case (kind, i) =>
            val o = op(kind, rng, seeded.orderKeys, m)
            val label = s"serve/${if (p == 0) "cold" else s"warm$p"}/c$c-$i-$kind"
            val v0 = probe.map(_.currentVersion(m.table)).getOrElse(0)
            val t0Ms = System.currentTimeMillis()
            val t0 = System.nanoTime()
            val (lines, exMs, colMs) = conn.exec(o.sqls, label)
            val ms = (System.nanoTime() - t0) / 1e6
            val t1Ms = System.currentTimeMillis()
            val (kept, total) = (probe, o.keys) match {
              case (Some(cat), Some((a, b))) =>
                val (k, all) = cat.planFiles("orders", col("o_orderkey").between(a, b))
                (k.size, all.size)
              case _ => (0, 0)
            }
            val versions = probe.map(_.currentVersion(m.table) - v0).getOrElse(0)
            done.add(Done(p, o, label, ms, lines, exMs, colMs, t0Ms, t1Ms, versions, kept, total))
          }
          if (running(p).decrementAndGet() == 0) passEnd(p) = Clocks.now()
        }
      } catch { case e: Throwable => errors.add(e); barrier.reset() }, s"perfbench-conn-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (done.asScala.toSeq, (0 until passes).map(p => passEnd(p) - passStart(p)))
  }

  private def close(a: String, b: String): Boolean =
    a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => false
    })

  private def sameLines(got: Seq[String], want: Seq[String]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      val gs = g.split("\\|", -1)
      val ws = w.split("\\|", -1)
      gs.length == ws.length && gs.zip(ws).forall { case (x, y) => close(x, y) }
    }

  /** Check every read's answer against the same statement evaluated
    * on the raw parquet, and every connection's table against its
    * model by row count, quantity sum and price sum. */
  def verify(spark: SparkSession, dir: String, done: Seq[Done], finals: Seq[(Model, Seq[String])]): Seq[String] = {
    val raw = spark.newSession()
    Tables.orders(raw, dir).createOrReplaceTempView("orders")
    Tables.lineitem(raw, dir).select(liCols.map(col): _*).createOrReplaceTempView("lineitem")
    val reads = done.filter(d => d.op.isRead && d.error.isEmpty)
    // the reference answers are small independent queries: run 4 at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val answers = try reads.map(_.op.sqls.head).distinct.map { sql =>
      sql -> pool.submit(() => raw.sql(sql).collect().toSeq.map(render))
    }.map { case (sql, f) => sql -> f.get() }.toMap
    finally pool.shutdown()
    val readErrors = reads.flatMap { d =>
      val want = answers(d.op.sqls.head)
      if (sameLines(d.lines, want)) None
      else Some(s"${d.label}: answer ${d.lines.mkString(";")} differs from ${want.mkString(";")}")
    }
    val writeErrors = finals.flatMap { case (m, lines) =>
      val (n, q, p) = (m.rows.size.toLong, m.rows.values.map(_._1).sum, m.rows.values.map(_._2).sum)
      val ok = lines match {
        case Seq(line) => line.split("\\|") match {
          case Array(gn, gq, gp) =>
            gn.toLongOption.contains(n) && gq.toLongOption.contains(q) &&
              gp.toDoubleOption.exists(v => math.abs(v - p) < 0.005)
          case _ => false
        }
        case _ => false
      }
      if (ok) None
      else Some(s"${m.table}: final state ${lines.mkString(";")} differs from the client model $n|$q|${Json.fixed(p, 2)}")
    }
    readErrors ++ writeErrors
  }

  def run(cfg: Config): (Outcome, String) = {
    val dir = s"${cfg.dataRoot}/${Workloads.serveScale}"
    val (spark, seeded, setup) = Run.setUp(cfg, dir)(s => seed(s, dir, cfg.work.resolve("catalog"), cfg.seed))
    val nPasses = 1 + Workloads.warmPasses("serve", cfg.seconds)
    val tracers = if (cfg.trace) Some(new Tracers(spark)) else None
    val server = if (cfg.trace) None else Some(new Server(spark, seeded.root, 0).start())
    val conns: Seq[Conn] = (0 until Connections).map { _ =>
      server match {
        case Some(s) => new TcpConn(s.boundPort)
        case None    => new LocalConn(spark, seeded.root)
      }
    }
    val probe = tracers.map(_ => new TableCatalog(spark, seeded.root))
    val gc0 = Run.gcMs()
    val jit0 = Run.jitMs()
    val (done, passCosts) = drive(conns, seeded, cfg.seed, nPasses, probe)
    val passWalls = passCosts.map(_.wallS)
    val gcS = (Run.gcMs() - gc0) / 1e3
    val jitS = (Run.jitMs() - jit0) / 1e3
    // untimed: each connection reads back its own table
    val finals = conns.zip(seeded.models).map { case (c, m) =>
      m -> c.exec(Seq(s"SELECT count(*) AS n, sum(qty) AS q, round(sum(price), 2) AS p FROM ${m.table}"),
        s"serve/check/${m.table}")._1
    }
    conns.foreach(_.close())
    server.foreach(_.close())
    val failures = done.flatMap(d => d.error.map(e => s"${d.label}: $e")) ++
      verify(spark, dir, done, finals)

    val (setupE2e, setupLayers, setupDetail) = Run.setupMetrics(setup)
    val ok = done.filter(_.error.isEmpty)
    val warmMs = ok.filter(_.pass > 0).map(_.ms / 1e3)
    // the per-operation median of a mixed stream sits on the boundary
    // between statement kinds and swings with it; the point SELECT, the
    // kind with the least Spark work, is where per-statement overhead
    // (parse, plan, snapshot, round trip) shows, and it is steady
    val warmPointS = ok.filter(d => d.pass > 0 && d.op.kind == "point").map(_.ms / 1e3)
    val reads = ok.filter(_.op.isRead)
    val writes = ok.filterNot(_.op.isRead)
    val wall = Seq(
      "cold_pass_s" -> Metric(passWalls.head, "s"),
      "warm_pass_s" -> Metric(Stats.median(passWalls.tail), "s"),
      "stmts_per_s" -> Metric(ok.size / passWalls.sum, "1/s"),
      "query_s.p50" -> Metric(Stats.median(warmPointS), "s"))
    val metrics = setupE2e ++ Run.cpuMetrics(passCosts.map(_.workCpuS), ok.size) ++ wall
    // a percentile is reported only with at least ten samples above it
    val latency = Seq(
      "read_ms.p50" -> Metric(Stats.median(reads.map(_.ms)), "ms"),
      "read_ms.p75" -> Metric(Stats.percentile(reads.map(_.ms), 0.75), "ms"),
      "write_ms.p50" -> Metric(Stats.median(writes.map(_.ms)), "ms"),
      "reads" -> Metric(reads.size, "count"),
      "writes" -> Metric(writes.size, "count"))
    val layers = tracers.toSeq.flatMap { t =>
      t.drain()
      t.detach()
      Layers.serve(t.jobs, done, probe.get, seeded, setup, passWalls.size) ++ setupLayers ++ Seq(
        "jvm.gc_s" -> Metric(gcS, "s"),
        "jvm.jit_s" -> Metric(jitS, "s"),
        "query_s.p75" -> Metric(Stats.percentile(warmMs, 0.75), "s"),
        "peak_rss_mb" -> Metric(Run.peakRssMb(), "MB"),
        "failed_ops" -> Metric(math.min(1.0, failures.size.toDouble / done.size), "share")) ++
        Run.jvmThreadMetrics(passCosts.map(_.compilerS), passCosts.map(_.collectorS)) ++ wall
    }
    val detail = setupDetail ++ Seq(
      "passes" -> passCosts.map(_.json),
      "latency" -> Json.Obj(latency.map { case (k, m) => k -> Json.obj("value" -> m.value, "unit" -> m.unit) }),
      "ops" -> done.sortBy(_.t0Ms).map(d => Json.obj(
        "label" -> d.label, "kind" -> d.op.kind, "ms" -> d.ms, "ok" -> d.error.isEmpty,
        "execute_ms" -> d.executeMs, "collect_ms" -> d.collectMs)),
      "spans" -> tracers.toSeq.flatMap(_ => done.sortBy(_.t0Ms).map(d => Json.obj(
        "name" -> d.label, "start" -> d.t0Ms, "end" -> d.t1Ms,
        "parent" -> d.label.split('/').take(2).mkString("/")))))
    val version = spark.version
    spark.stop()
    (Outcome(done.size, failures, metrics, layers, detail), version)
  }
}
