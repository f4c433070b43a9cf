package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** Totals gathered by [[SparkProbe]] up to one point in the run. */
final case class SparkTotals(
    jobs: Long, stages: Long, tasks: Long,
    executorRunMs: Long, schedulerDelayMs: Long, gcMs: Long,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, schedulerDelayMs - o.schedulerDelayMs, gcMs - o.gcMs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB, spillB - o.spillB,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
}

/** The benchmark's own Spark listeners: a [[SparkListener]] for dispatch and
  * task counters, a [[QueryExecutionListener]] for Catalyst phase times from
  * `QueryExecution.tracker`, and a [[StreamingQueryListener]] that keeps
  * every micro-batch progress report. Registered only in the traced run.
  */
final class SparkProbe(spark: SparkSession) {
  private val jobs, stages, tasks, execRun, schedDelay, gc, shufW, shufR, spill,
    analysis, optimization, planning = new LongAdder()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) wall-clock ms of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment(); jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        execRun.add(m.executorRunTime)
        gc.add(m.jvmGCTime)
        // scheduler delay as Spark's UI defines it: task wall time not spent
        // deserializing, running, serializing the result or fetching it
        schedDelay.add(math.max(0L, e.taskInfo.duration - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
        shufW.add(m.shuffleWriteMetrics.bytesWritten)
        shufR.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysis.add(ms("analysis")); optimization.add(ms("optimization")); planning.add(ms("planning"))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): SparkProbe = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Totals so far, after every queued listener event has been delivered. */
  def totals(): SparkTotals = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    SparkTotals(jobs.sum, stages.sum, tasks.sum, execRun.sum, schedDelay.sum, gc.sum,
      shufW.sum, shufR.sum, spill.sum, analysis.sum, optimization.sum, planning.sum)
  }

  /** Wall-clock ms inside `[startMs, endMs)` not covered by any job. */
  def uncoveredMs(startMs: Long, endMs: Long): Long = {
    val covered = Stats.unionLength(jobIntervals.asScala.toSeq.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) })
    (endMs - startMs) - covered
  }

  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object SparkProbe {
  /** Memory held by cached and checkpointed blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Per-layer metrics every workload reports from its [[SparkTotals]]. */
  def layerMetrics(t: SparkTotals, driverS: Double, cachedMb: Double, sentinelMs: Double): Seq[Metric] = Seq(
    Metric("spark.analysis_s", t.analysisMs / 1e3, "s"),
    Metric("spark.optimization_s", t.optimizationMs / 1e3, "s"),
    Metric("spark.planning_s", t.planningMs / 1e3, "s"),
    Metric("spark.jobs", t.jobs.toDouble, "count"),
    Metric("spark.stages", t.stages.toDouble, "count"),
    Metric("spark.tasks", t.tasks.toDouble, "count"),
    Metric("spark.executor_run_s", t.executorRunMs / 1e3, "s"),
    Metric("spark.scheduler_delay_s", t.schedulerDelayMs / 1e3, "s"),
    Metric("spark.gc_s", t.gcMs / 1e3, "s"),
    Metric("spark.driver_s", driverS, "s"),
    Metric("spark.shuffle_write_mb", t.shuffleWriteB / 1048576.0, "MB"),
    Metric("spark.shuffle_read_mb", t.shuffleReadB / 1048576.0, "MB"),
    Metric("spark.spill_mb", t.spillB / 1048576.0, "MB"),
    Metric("spark.cached_mb", cachedMb, "MB"),
    Metric("spark.sentinel_ms", sentinelMs, "ms"))
}
