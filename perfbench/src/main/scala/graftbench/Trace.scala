package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it, with the task metrics of all
  * its stages. `module` is the graft module whose source file Spark named in
  * the job's call site (for example `count at Iterate.scala:412` belongs to
  * `operators`); jobs of a streaming query belong to `streaming`. */
final class JobRec(val id: Int, val startMs: Long, val module: String,
                   val callSite: String) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
}

/** The traced run's instruments, all public Spark listener interfaces:
  * a `SparkListener` for jobs, stages and tasks, a `QueryExecutionListener`
  * for Catalyst's planning phases and a `StreamingQueryListener` for
  * micro-batch progress. They are attached only to traced passes. */
final class Tracer(moduleOfFile: String => String) {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private var planNs = 0L
  private var executions = 0
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def moduleOf(callSite: String, props: java.util.Properties): String =
    if (props != null && props.getProperty("sql.streaming.queryId") != null) "streaming"
    else {
      // "<method> at <File>.scala:<line>"
      val at = callSite.lastIndexOf(" at ")
      val file = if (at < 0) "" else callSite.substring(at + 4).takeWhile(_ != ':')
      moduleOfFile(file)
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new JobRec(e.jobId, e.time, moduleOf(site, e.properties), site)
      j.stages = e.stageInfos.size
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planNs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
      executions += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)

  /** Everything recorded since the last call, and a fresh start. */
  def take(): (Seq[JobRec], Long, Int, Seq[StreamingQueryProgress]) = synchronized {
    val out = (jobs.values.toSeq, planNs, executions, progress.toSeq)
    jobs.clear(); stageJob.clear(); planNs = 0L; executions = 0; progress.clear()
    out
  }
}

object Trace {
  /** Milliseconds of [from, to) covered by at least one interval. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def instantMs(s: String): Option[Long] =
    Option(s).map(java.time.Instant.parse(_).toEpochMilli)

  /** Per-batch figures of the `streaming` layer from the progress reports
    * of the micro-batches that carried data. */
  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def phase(k: String) = median(data.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      data.map(p => p.stateOperators.map(f).sum)
    val lag = data.flatMap { p =>
      val et = p.eventTime.asScala
      for (mx <- et.get("max").flatMap(instantMs); wm <- et.get("watermark").flatMap(instantMs))
        yield (mx - wm) / 1000.0
    }
    Map(
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.state_rows" -> median(stateSum(_.numRowsTotal.toDouble)),
      "streaming.state_mb" -> median(stateSum(_.memoryUsedBytes / 1048576.0)),
      "streaming.state_commit_ms" -> median(stateSum(_.commitTimeMs.toDouble)),
      "streaming.rows_dropped_late" ->
        ps.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum,
      "streaming.watermark_lag_s" -> median(lag))
  }
}
