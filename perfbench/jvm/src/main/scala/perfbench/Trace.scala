package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor CPU of finished tasks: the one count every pass takes,
  * traced or not.
  */
final class CpuListener extends SparkListener {
  private val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  /** CPU seconds since the last call. Drain the listener bus first. */
  def take(): Double = cpuNs.getAndSet(0L) / 1e9
}

/** Task counts summed over a stage, a job, an item or a pass. */
final case class Counts(
    tasks: Long = 0, failedTasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, schedMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleRecords: Long = 0,
    shuffleReadBytes: Long = 0, fetchWaitMs: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0) {

  def +(o: Counts): Counts = Counts(
    tasks + o.tasks, failedTasks + o.failedTasks, runMs + o.runMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, schedMs + o.schedMs,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleRecords + o.shuffleRecords,
    shuffleReadBytes + o.shuffleReadBytes, fetchWaitMs + o.fetchWaitMs,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes)

  def toJson: Map[String, Any] = Map(
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1000000, "gc_ms" -> gcMs, "sched_delay_ms" -> schedMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_records" -> shuffleRecords,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

object Counts {
  def of(e: SparkListenerTaskEnd): Counts = {
    val m = e.taskMetrics
    val failed = if (e.reason == org.apache.spark.Success) 0L else 1L
    if (m == null) return Counts(tasks = 1, failedTasks = failed)
    val info = e.taskInfo
    val sched = info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
    Counts(
      tasks = 1, failedTasks = failed, runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime, schedMs = sched.max(0L),
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleRecords = m.shuffleWriteMetrics.recordsWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = m.diskBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead,
      outputBytes = m.outputMetrics.bytesWritten)
  }
}

/** One span of the trace; times are epoch milliseconds. Spans of one
  * item share `item`.
  */
final case class Span(
    id: String, kind: String, name: String, parent: String, item: String,
    start: Long, end: Long, counts: Counts = Counts()) {
  def interval: (Long, Long) = (start, end)
}

/** An item as the benchmark ran it: its kind, its span bounds, when
  * its result was built (the rest is the sink), and the analysis time
  * the built result's own planning tracker recorded.
  */
final case class ItemRun(id: String, name: String, kind: String,
    start: Long, built: Long, end: Long, analysisMs: Long)

/** Records jobs, stages, task counts, checkpoint block writes, AQE
  * re-plans and Catalyst phase times while attached; [[TraceListener.pass]]
  * turns one traced pass into spans and per-layer metrics.
  */
final class TraceListener extends SparkListener with QueryExecutionListener {

  private final class StageRec(val id: Int, val attempt: Int) {
    var name = ""
    var start = 0L
    var end = 0L
    var counts = Counts()
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }
  private final class JobRec(val id: Int, val start: Long, val item: String,
      val stageIds: Seq[Int]) {
    var end = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var blockCount = 0L
  private var blockBytes = 0L
  private var aqeUpdates = 0L
  private val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val item = Option(e.properties)
      .flatMap(p => Option(p.getProperty(TraceListener.ItemProperty)))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, item, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.name = i.name
      s.start = i.submissionTime.getOrElse(0L)
      s.end = i.completionTime.getOrElse(s.start)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.counts += Counts.of(e)
    if (e.taskMetrics != null) s.taskRunMs += e.taskMetrics.executorRunTime
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        blockCount += 1
        blockBytes += b.memSize + b.diskSize
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { aqeUpdates += 1 }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) => phaseMs(phase) += p.durationMs }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    TraceListener.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Spans and per-layer metrics of one traced pass. `run` bounds the
    * pass; `items` are its items in the order they ran. Call after
    * [[detach]].
    */
  def pass(runId: String, run: (Long, Long), items: Seq[ItemRun],
      cores: Int, corpusTokens: Long): (Seq[Span], Map[String, Double]) =
    synchronized {
      def itemOfJob(j: JobRec): String =
        if (j.item.nonEmpty) j.item
        else items.find(i => j.start >= i.start && j.start <= i.end)
          .map(_.id).getOrElse("")
      val stageSpans = stages.values.toSeq.map { s =>
        val job = stageJob.get(s.id).flatMap(jobs.get)
        Span(s"stage-${s.id}.${s.attempt}", "stage", s.name,
          job.fold(runId)(j => s"job-${j.id}"), job.fold("")(itemOfJob),
          s.start, s.end, s.counts)
      }
      val jobSpans0 = jobs.values.toSeq.map { j =>
        val children = stageSpans.filter(_.parent == s"job-${j.id}")
        val item = itemOfJob(j)
        Span(s"job-${j.id}", "job", s"job ${j.id}",
          if (item.isEmpty) runId else item, item, j.start, j.end.max(j.start),
          children.map(_.counts).foldLeft(Counts())(_ + _))
      }
      val itemSpans = items.map { i =>
        val mine = stageSpans.filter(_.item == i.id)
        Span(i.id, "item", i.name, runId, i.id, i.start, i.end,
          mine.map(_.counts).foldLeft(Counts())(_ + _))
      }
      // build and sink split each item; jobs hang under the phase they
      // started in
      val phaseSpans = items.flatMap { i => Seq(
        Span(s"${i.id}/build", "build", "build", i.id, i.id, i.start, i.built),
        Span(s"${i.id}/sink", "sink", "sink", i.id, i.id, i.built, i.end)) }
      val jobSpans = jobSpans0.map { j =>
        val phase = if (j.start < items.find(_.id == j.item).fold(0L)(_.built))
          "build" else "sink"
        if (j.item.isEmpty) j else j.copy(parent = s"${j.item}/$phase")
      }
      val runSpan = Span(runId, "run", runId, "", "", run._1, run._2,
        stageSpans.map(_.counts).foldLeft(Counts())(_ + _))

      val total = runSpan.counts
      val wallS = (run._2 - run._1) / 1e3
      val kindOf = items.map(i => i.id -> i.kind).toMap
      val mrStages = stageSpans.filter(s => kindOf.get(s.item).contains("mr"))
      val (mapStages, reduceStages) =
        mrStages.partition(_.counts.shuffleWriteBytes > 0)
      val mrCounts = mrStages.map(_.counts).foldLeft(Counts())(_ + _)
      val mrItems = items.count(_.kind == "mr")
      val skew = stages.values
        .filter(_.taskRunMs.size >= 2)
        .map { s =>
          val med = Stats.median(s.taskRunMs.map(_.toDouble).toSeq)
          (s.taskRunMs.max - med, if (med > 0) s.taskRunMs.max / med else 1.0)
        }
        .maxByOption(_._1).fold(1.0)(_._2)
      def sec(ms: Long) = ms / 1e3
      def mb(b: Long) = b / 1048576.0
      val metrics = Map[String, Double](
        "mr.map_s" -> sec(mapStages.map(s => s.end - s.start).sum),
        "mr.reduce_s" -> sec(reduceStages.map(s => s.end - s.start).sum),
        "mr.shuffle_records_per_token" ->
          (if (mrItems == 0 || corpusTokens == 0) 0.0
           else mrCounts.shuffleRecords.toDouble / (corpusTokens * mrItems)),
        "mr.output_mb" -> mb(mrCounts.outputBytes),
        "plans.analysis_s" ->
          sec(phaseMs("analysis") + items.map(_.analysisMs).sum),
        "plans.optimize_s" -> sec(phaseMs("optimization")),
        "plans.physical_s" -> sec(phaseMs("planning")),
        "plans.aqe_replans" -> aqeUpdates.toDouble,
        "driver.jobs" -> jobs.size.toDouble,
        "driver.stages" -> stages.size.toDouble,
        "driver.tasks" -> total.tasks.toDouble,
        "driver.idle_s" -> sec(itemSpans.map(i =>
          Stats.selfTime(i.interval, jobSpans.filter(_.item == i.item)
            .map(_.interval))).sum),
        "driver.build_s" -> sec(phaseSpans.filter(_.kind == "build").map(b =>
          Stats.selfTime(b.interval, jobSpans.filter(_.parent == b.id)
            .map(_.interval))).sum),
        "driver.job_gap_s" -> sec(jobSpans.map(j =>
          Stats.selfTime(j.interval, stageSpans.filter(_.parent == j.id)
            .map(_.interval))).sum),
        "driver.sched_delay_s" -> sec(total.schedMs),
        "core.barrier_mb" -> mb(blockBytes),
        "core.barrier_blocks" -> blockCount.toDouble,
        "tasks.run_s" -> sec(total.runMs),
        "tasks.cpu_s" -> total.cpuNs / 1e9,
        "tasks.gc_s" -> sec(total.gcMs),
        "tasks.util" -> (if (wallS > 0) sec(total.runMs) / (wallS * cores) else 0.0),
        "tasks.skew" -> skew,
        "tasks.failed" -> total.failedTasks.toDouble,
        "shuffle.write_mb" -> mb(total.shuffleWriteBytes),
        "shuffle.read_mb" -> mb(total.shuffleReadBytes),
        "shuffle.records" -> total.shuffleRecords.toDouble,
        "shuffle.fetch_wait_s" -> sec(total.fetchWaitMs),
        "shuffle.spill_mb" -> mb(total.spillBytes),
        "io.input_mb" -> mb(total.inputBytes),
        "io.output_mb" -> mb(total.outputBytes))
      (Seq(runSpan) ++ itemSpans ++ phaseSpans ++ jobSpans ++ stageSpans,
        metrics)
    }
}

object TraceListener {
  /** Local property naming the item a Spark job runs for. */
  val ItemProperty = "perfbench.item"

  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusDrain(sc)
}
