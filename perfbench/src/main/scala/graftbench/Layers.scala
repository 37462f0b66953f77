package graftbench

/** Per-layer metrics of a traced run, computed from the listeners'
  * records and the benchmark's own timings around each layer's call.
  *
  * A job belongs to a query when it ran under the query's job group.
  * Streaming micro-batch jobs run under the stream's own group, so a
  * job under a group the benchmark did not set is attributed to the
  * query whose timed window it started in (one query runs at a time
  * in the batch workloads). */
object Layers {

  private val MB = 1e6

  /** `<name>.cold` and `<name>.warm` from per-pass sums of `f`: the cold
    * pass's sum and the median over the warm passes. */
  private def perPass[A](name: String, unit: String, nPasses: Int, items: Seq[A])(pass: A => Int)(
      f: A => Double): Seq[(String, Metric)] = {
    val sums = (0 until nPasses).map(p => items.filter(pass(_) == p).map(f).sum)
    Seq(s"$name.cold" -> Metric(sums.head, unit), s"$name.warm" -> Metric(Stats.median(sums.tail), unit))
  }

  /** Job, stage and task totals over `jobs`. */
  private def execution(t: JobTrace, jobs: Seq[JobRec]): Seq[(String, Metric)] = {
    val st = t.statsOf(jobs)
    Seq(
      "exec.jobs" -> Metric(jobs.size, "count"),
      "exec.stages" -> Metric(t.ranStages(jobs), "count"),
      "exec.tasks" -> Metric(st.tasks.toDouble, "count"),
      "exec.unended_jobs" -> Metric(jobs.count(_.end < 0), "count"),
      "tasks.run_s" -> Metric(st.runMs / 1e3, "s"),
      "tasks.cpu_s" -> Metric(st.cpuNs / 1e9, "s"),
      "tasks.gc_s" -> Metric(st.gcMs / 1e3, "s"),
      "scan.input_mb" -> Metric(st.inputBytes / MB, "MB"),
      "scan.input_rows" -> Metric(st.inputRows.toDouble, "count"),
      "shuffle.write_mb" -> Metric(st.shuffleWriteBytes / MB, "MB"),
      "shuffle.read_mb" -> Metric(st.shuffleReadBytes / MB, "MB"),
      "shuffle.fetch_wait_s" -> Metric(st.fetchWaitMs / 1e3, "s"),
      "spill.mb" -> Metric(st.spillBytes / MB, "MB"))
  }

  def jobsOf(t: JobTrace, execs: Seq[Exec], prefix: String): Map[String, Seq[JobRec]] = {
    val all = t.allJobs
    val byLabel = all.groupBy(_.group)
    val foreign = all.filterNot(j => j.group.startsWith(prefix))
    execs.map { e =>
      e.label -> (byLabel.getOrElse(e.label, Nil) ++
        foreign.filter(j => j.start >= e.t0Ms && j.start <= e.t1Ms))
    }.toMap
  }

  /** Started-but-not-ended jobs per query label (must be empty after
    * a drain). */
  def unended(t: JobTrace, execs: Seq[Exec], prefix: String): Map[String, Int] =
    jobsOf(t, execs, prefix).map { case (l, js) => l -> js.count(_.end < 0) }.filter(_._2 > 0)

  def batch(t: JobTrace, s: StreamTrace, workload: String, execs: Seq[Exec], nPasses: Int)
      : Seq[(String, Metric)] = {
    val jobs = jobsOf(t, execs, workload + "/")
    def m(name: String, unit: String)(f: Exec => Double) = perPass(name, unit, nPasses, execs)(_.pass)(f)
    val batches = s.take()
    def durMs(keys: String*) = batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble)
    m("operators.build_s", "s")(_.buildS) ++
      m("operators.build_jobs", "count")(e => jobs(e.label).count(_.start <= e.buildEndMs).toDouble) ++
      m("exec.action_s", "s")(_.actionS) ++
      m("driver.outside_jobs_s", "s")(e =>
        ((e.t1Ms - e.t0Ms) - JobTrace.coveredMs(jobs(e.label), e.t0Ms, e.t1Ms)) / 1e3) ++
      execution(t, execs.flatMap(e => jobs(e.label))) ++
      Seq(
        "streaming.batches" -> Metric(batches.size, "count"),
        "streaming.batch_ms.p50" -> Metric(Stats.median(durMs("triggerExecution")), "ms"),
        "streaming.planning_ms" -> Metric(durMs("queryPlanning").sum, "ms"),
        "streaming.add_batch_ms" -> Metric(durMs("addBatch").sum, "ms"),
        "streaming.commit_ms" -> Metric(durMs("walCommit", "commitOffsets").sum, "ms"),
        "streaming.state_rows" -> Metric(
          batches.groupBy(_.runId).values.map(_.last.stateRows).sum.toDouble, "count"),
        "streaming.unended_queries" -> Metric(s.startedCount - s.terminatedCount, "count"))
  }

  /** Layers of the serve workload's traced (in-process) run. Here the
    * engine call is `GraftSQL.execute` and the action is the result
    * collect; jobs belong to an operation by its job group. */
  def serve(t: JobTrace, done: Seq[Done], probe: graft.sources.TableCatalog,
      seeded: Serve.Seeded, setup: SetupTimes, nPasses: Int): Seq[(String, Metric)] = {
    val byLabel = t.allJobs.groupBy(_.group)
    def jobs(d: Done) = byLabel.getOrElse(d.label, Nil)
    def m(name: String, unit: String)(f: Done => Double) = perPass(name, unit, nPasses, done)(_.pass)(f)
    val (reads, writes) = done.filter(_.error.isEmpty).partition(_.op.isRead)
    val pruned = reads.filter(_.filesTotal > 0)
    val tables = "orders" +: "lineitem" +: seeded.models.map(_.table)
    m("operators.build_s", "s")(_.executeMs / 1e3) ++
      m("operators.build_jobs", "count")(d => jobs(d).count(_.start <= d.t0Ms + d.executeMs.toLong).toDouble) ++
      m("exec.action_s", "s")(_.collectMs / 1e3) ++
      m("driver.outside_jobs_s", "s")(d =>
        ((d.t1Ms - d.t0Ms) - JobTrace.coveredMs(jobs(d), d.t0Ms, d.t1Ms)) / 1e3) ++
      execution(t, done.flatMap(jobs)) ++
      Seq(
        "TableCatalog.seed_s" -> Metric(setup.extraS, "s"),
        "GraftSQL.execute_ms.read.p50" -> Metric(Stats.median(reads.map(_.executeMs)), "ms"),
        "GraftSQL.execute_ms.write.p50" -> Metric(Stats.median(writes.map(_.executeMs)), "ms"),
        "exec.collect_ms.read.p50" -> Metric(Stats.median(reads.map(_.collectMs)), "ms"),
        "serve.read_ms.p50" -> Metric(Stats.median(reads.map(_.ms)), "ms"),
        "serve.jobs_per_stmt.read" -> Metric(reads.map(jobs(_).size).sum.toDouble / reads.size.max(1), "count"),
        "serve.jobs_per_stmt.write" -> Metric(
          writes.map(jobs(_).size).sum.toDouble / writes.map(_.op.sqls.size).sum.max(1), "count"),
        "serve.input_rows_per_result_row" -> Metric(
          t.statsOf(reads.flatMap(jobs)).inputRows.toDouble / reads.map(_.lines.size).sum.max(1), "count"),
        "TableCatalog.files_kept_ratio" -> Metric(
          pruned.map(_.filesKept).sum.toDouble / pruned.map(_.filesTotal).sum.max(1), "ratio"),
        "TableCatalog.versions_per_write" -> Metric(
          writes.map(_.versionsWritten).sum.toDouble / writes.size.max(1), "count"),
        "TableCatalog.files_end" -> Metric(
          tables.map(n => probe.planFiles(n, org.apache.spark.sql.functions.lit(true))._2.size).sum, "count"))
  }

  /** Every layer metric a workload does not exercise reads 0 (a count
    * of nothing), so that each traced record names the same metrics. */
  val zeroCounts: Seq[(String, Metric)] = Seq(
    "FrameCache.frames" -> "count", "FrameCache.cached_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "serve.jobs_per_stmt.read" -> "count", "serve.jobs_per_stmt.write" -> "count",
    "serve.input_rows_per_result_row" -> "count", "TableCatalog.files_kept_ratio" -> "ratio",
    "TableCatalog.versions_per_write" -> "count", "TableCatalog.files_end" -> "count")
    .map { case (k, u) => k -> Metric(0.0, u) }

  /** Spans (name, start, end, parent) of a batch run, wall-clock ms. */
  def spans(execs: Seq[Exec]): Seq[Json.Obj] =
    execs.groupBy(_.pass).toSeq.sortBy(_._1).flatMap { case (p, es) =>
      val passName = if (p == 0) "cold" else s"warm$p"
      Json.obj("name" -> passName, "start" -> es.map(_.t0Ms).min, "end" -> es.map(_.t1Ms).max,
        "parent" -> None) +:
        es.flatMap { e =>
          Seq(
            Json.obj("name" -> e.label, "start" -> e.t0Ms, "end" -> e.t1Ms, "parent" -> passName),
            Json.obj("name" -> (e.label + "#build"), "start" -> e.t0Ms, "end" -> e.buildEndMs,
              "parent" -> e.label),
            Json.obj("name" -> (e.label + "#action"), "start" -> e.buildEndMs, "end" -> e.t1Ms,
              "parent" -> e.label))
        }
    }
}
