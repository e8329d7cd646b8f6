package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced run's recorder, attached from outside the program: a
  * SparkListener keyed on job groups (each streaming query runs its jobs
  * under its run id; the benchmark sets `cdcbench-sql-<shape>` around its own
  * SQL calls). Events are only kept here; they are reduced to per-layer
  * figures, together with the queries' StreamingQueryProgress, once the
  * run is over. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val batch = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .flatMap(d => BatchOf.findFirstMatchIn(d).map(_.group(1).toLong)).getOrElse(-1L)
      jobs.put(e.jobId, Job(group, batch, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(
        stageJob.getOrDefault(i.stageId, -1), i.parentIds.isEmpty, i.numTasks,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime, m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten))
    }
  }

  spark.sparkContext.addSparkListener(jobListener)

  /** Stop listening once every job started so far has ended (a job's end
    * is delivered after its stages' completions). */
  def close(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Per-layer figures over jobs and micro-batches that started in
    * [from, to] (epoch ms); `ingest0`/`merge0` are the two pipelines'
    * progress reports, `sqlSpans` the benchmark's SQL calls (epoch ms). */
  def layers(from: Long, to: Long, ingest0: Seq[StreamingQueryProgress],
      merge0: Seq[StreamingQueryProgress], sqlSpans: Seq[(Long, Long)], drops: Int): Map[String, Double] = {
    val ingestRuns = ingest0.map(_.runId.toString).toSet
    val mergeRuns = merge0.map(_.runId.toString).toSet
    val timedJobs = jobs.asScala.filter { case (_, j) => j.start >= from && j.start <= to }.toMap
    def roleOf(j: Job): String =
      if (ingestRuns(j.group)) "ingest" else if (mergeRuns(j.group)) "merge"
      else if (j.group.startsWith(SqlGroup)) "sql" else "other"
    val timedStages = stages.asScala.toSeq.flatMap(s => timedJobs.get(s.job).map(j => roleOf(j) -> s))
    def layer(pred: ((String, Stage)) => Boolean) = timedStages.filter(pred).map(_._2)
    // An ingest job is split at its shuffle: the stage without parents
    // reads and parses the sources, the one after it runs the buffer.
    val envelope = layer { case (r, s) => r == "ingest" && s.readsSource }
    val buffering = layer { case (r, s) => r == "ingest" && !s.readsSource }
    val scd = layer { case (r, _) => r == "merge" }

    def dataBatches(ps: Seq[StreamingQueryProgress]) = ps.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= from && t <= to && p.durationMs.containsKey("addBatch")
    }
    val ingest = dataBatches(ingest0)
    val merge = dataBatches(merge0)
    def d(p: StreamingQueryProgress, keys: String*): Double =
      keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val state = ingest.flatMap(_.stateOperators.headOption)

    // Merge-batch time outside Spark jobs: addBatch minus the union of the
    // batch's job intervals (listing, rename, publish on the driver).
    val driverMs = merge.map { p =>
      val covered = unionLength(timedJobs.values.toSeq
        .filter(j => j.group == p.runId.toString && j.batch == p.batchId && j.end >= 0)
        .map(j => (j.start, j.end)))
      math.max(0.0, d(p, "addBatch") - covered)
    }
    val streamingJobs = timedJobs.values.count(j => ingestRuns(j.group) || mergeRuns(j.group))
    // Share of the timed wall time inside some layer's span: a micro-batch
    // of either pipeline or one of the benchmark's SQL calls.
    val spans = (ingest ++ merge).map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      (s, s + d(p, "triggerExecution").toLong)
    } ++ sqlSpans.filter(_._1 >= from)

    Map(
      "streaming.ingest_batch_ms" -> median(ingest.map(d(_, "triggerExecution"))),
      "streaming.ingest_planning_ms" -> median(ingest.map(d(_, "queryPlanning"))),
      "streaming.ingest_offsets_ms" -> median(ingest.map(d(_, "latestOffset", "getBatch"))),
      "streaming.ingest_log_ms" -> median(ingest.map(d(_, "walCommit", "commitOffsets"))),
      "streaming.merge_batch_ms" -> median(merge.map(d(_, "triggerExecution"))),
      "streaming.merge_log_ms" -> median(merge.map(d(_, "walCommit", "commitOffsets"))),
      "streaming.ingest_batches_per_drop" -> ratio(ingest.size, drops),
      "trace.wall_covered" -> unionLength(spans).toDouble / (to - from),
      "envelope.cpu_s" -> envelope.map(_.cpuNs).sum / 1e9,
      "envelope.run_s" -> envelope.map(_.runMs).sum / 1e3,
      "envelope.shuffle_write_mb" -> envelope.map(_.shuffleWrite).sum / 1e6,
      "envelope.records_in" -> envelope.map(_.recordsIn).sum.toDouble,
      "buffering.cpu_s" -> buffering.map(_.cpuNs).sum / 1e9,
      "buffering.run_s" -> buffering.map(_.runMs).sum / 1e3,
      "buffering.state_update_ms" ->
        median(state.map(s => (s.allUpdatesTimeMs + s.allRemovalsTimeMs).toDouble)),
      "buffering.state_commit_ms" -> median(state.map(_.commitTimeMs.toDouble)),
      "buffering.tasks_per_batch" -> ratio(buffering.map(_.tasks).sum, ingest.size),
      "buffering.state_mb" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1e6),
      "buffering.state_rows_updated" -> state.map(_.numRowsUpdated).sum.toDouble,
      "buffering.rows_emitted" -> buffering.map(_.recordsOut).sum.toDouble,
      "scd.cpu_s" -> scd.map(_.cpuNs).sum / 1e9,
      "scd.run_s" -> scd.map(_.runMs).sum / 1e3,
      "scd.shuffle_mb" -> scd.map(_.shuffleWrite).sum / 1e6,
      "scd.spill_mb" -> scd.map(_.spill).sum / 1e6,
      "scd.rows_written" -> scd.map(_.recordsOut).sum.toDouble,
      "scd.driver_ms" -> median(driverMs),
      "spark.jobs_per_batch" -> ratio(streamingJobs, ingest.size + merge.size),
      "spark.task_gc_s" -> timedStages.map(_._2.gcMs).sum / 1e3)
  }
}

object Trace {
  val SqlGroup = "cdcbench-sql-"
  private val BatchOf = """batch = (\d+)""".r

  final case class Job(group: String, batch: Long, start: Long) { @volatile var end: Long = -1L }
  final case class Stage(job: Int, readsSource: Boolean, tasks: Int, cpuNs: Long, runMs: Long,
      gcMs: Long, spill: Long, shuffleWrite: Long, recordsIn: Long, recordsOut: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Length of the union of [start, end] intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) { covered += e - s; curEnd = e }
      else if (e > curEnd) { covered += e - curEnd; curEnd = e }
    }
    covered
  }

  /** Files read by every file scan of an executed query, subqueries and
    * adaptive stages included. */
  object ScannedFiles extends AdaptiveSparkPlanHelper {
    def apply(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
  }
}
