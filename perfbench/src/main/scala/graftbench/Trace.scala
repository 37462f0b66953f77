package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. `end` is -1 until the job
  * has ended. Times are the scheduler's wall clock in ms. */
final case class JobRec(id: Int, group: String, start: Long, end: Long, stages: Seq[Int])

/** Task metrics summed over one stage's completed attempts. */
final case class StageRec(
    tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, inputRows: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    fetchWaitMs: Long = 0, spillBytes: Long = 0) {
  def +(o: StageRec): StageRec = StageRec(
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, inputRows + o.inputRows,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes)
}

/** Job and stage statistics from Spark's public listener API.
  *
  * Every structure is a concurrent collection: the listener bus thread
  * writes while the benchmark thread reads. [[barrier]] makes the reads
  * complete without a fixed sleep: it runs one tiny marker job and
  * waits for that job's end event. Events reach a listener in the order
  * they were posted, and a job's start and end are posted before the
  * action that ran it returns, so once the marker's end has arrived,
  * every job that finished before the barrier has been seen in full. */
final class JobTrace extends SparkListener {

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageStats = new ConcurrentHashMap[Int, StageRec]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val markerSeq = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobTrace.GroupKey)))
      .getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = jobs.computeIfPresent(e.jobId, (_, r) => r.copy(end = e.time))
    if (rec != null) Option(markers.get(rec.group)).foreach(_.countDown())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val rec =
      if (m == null) StageRec(tasks = i.numTasks.toLong)
      else StageRec(
        tasks = i.numTasks.toLong,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        inputBytes = m.inputMetrics.bytesRead, inputRows = m.inputMetrics.recordsRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = m.diskBytesSpilled)
    stageStats.merge(i.stageId, rec, (a, b) => a + b)
  }

  /** Wait until every job that ended before this call has been seen.
    * Runs under its own job group and restores the caller's. */
  def barrier(sc: SparkContext, timeoutS: Long = 120): Unit = {
    val group = JobTrace.MarkerPrefix + markerSeq.incrementAndGet()
    val latch = new CountDownLatch(1)
    markers.put(group, latch)
    val saved = Option(sc.getLocalProperty(JobTrace.GroupKey))
    val savedDesc = Option(sc.getLocalProperty(JobTrace.DescriptionKey))
    sc.setJobGroup(group, "listener barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally saved match {
      case Some(g) => sc.setJobGroup(g, savedDesc.orNull)
      case None    => sc.clearJobGroup()
    }
    if (!latch.await(timeoutS, TimeUnit.SECONDS))
      throw new IllegalStateException(s"listener barrier $group timed out")
    markers.remove(group)
  }

  /** Jobs seen so far, marker jobs excluded, ordered by id. */
  def allJobs: Seq[JobRec] =
    jobs.values.asScala.toSeq.filterNot(_.group.startsWith(JobTrace.MarkerPrefix)).sortBy(_.id)

  private def stagesOf(js: Seq[JobRec]): Seq[Int] = js.flatMap(_.stages).distinct

  /** Task metrics summed over the stages of `js` that ran. */
  def statsOf(js: Seq[JobRec]): StageRec =
    stagesOf(js).flatMap(i => Option(stageStats.get(i))).foldLeft(StageRec())(_ + _)

  /** Stages that actually ran (a skipped stage never completes). */
  def ranStages(js: Seq[JobRec]): Int = stagesOf(js).count(stageStats.containsKey)
}

object JobTrace {
  val MarkerPrefix = "perfbench-barrier-"
  // the local-property keys behind SparkContext.setJobGroup
  val GroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"

  /** Milliseconds of `[from, to]` covered by at least one job. */
  def coveredMs(js: Seq[JobRec], from: Long, to: Long): Long = {
    val iv = js.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    covered + (curB - curA)
  }
}

/** One micro-batch's progress report. */
final case class BatchRec(runId: String, durations: Map[String, Long], stateRows: Long)

/** Streaming progress from the public [[StreamingQueryListener]].
  *
  * The start event reaches listeners synchronously in the thread that
  * starts the query; progress and termination arrive later on the
  * listener bus, in order. [[drain]] waits, without a fixed sleep,
  * until every query that started has terminated, so every progress
  * report that precedes a termination has arrived too. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  private val started = new AtomicInteger()
  private val terminated = new AtomicInteger()
  private val lock = new Object
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(BatchRec(p.runId.toString, d, p.stateOperators.map(_.numRowsTotal).sum))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    terminated.incrementAndGet()
    lock.synchronized(lock.notifyAll())
  }

  def drain(timeoutS: Long = 120): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    lock.synchronized {
      while (terminated.get() < started.get()) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left <= 0)
          throw new IllegalStateException(
            s"streaming listener drain timed out: ${started.get()} started, ${terminated.get()} ended")
        lock.wait(left)
      }
    }
  }

  def startedCount: Int = started.get()
  def terminatedCount: Int = terminated.get()

  /** Take every progress report seen since the last call. */
  def take(): Seq[BatchRec] = Iterator.continually(batches.poll()).takeWhile(_ != null).toSeq
}
