package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark counters, read at op boundaries in a traced run. The
  * names match the per-layer metrics of BENCHMARK.json. */
final case class Snapshot(values: Map[String, Double]) {
  def minus(o: Snapshot): Map[String, Double] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

/** Spark's own planning, execution and storage counters, gathered from
  * outside the program: a SparkListener (jobs, stages, tasks and their
  * task metrics), a QueryExecutionListener (the planning tracker's phase
  * times and the file scans' file counts) and the block manager's RDD
  * storage report. Listener events arrive asynchronously, so every read
  * first drains the listener bus. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** (start, end) epoch ms of every finished job. */
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("exec.jobs") += 1
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s.toDouble, e.time.toDouble)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    c("exec.tasks") += 1
    if (info.failed || info.killed) c("exec.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_ms") += m.executorRunTime
      c("exec.task_cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      // Spark's scheduler delay: the part of a task's duration spent
      // neither deserializing, running nor returning its result
      c("exec.sched_wait_ms") += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("exec.shuffle_read_mb") += (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1e6
      c("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      c("exec.input_mb") += m.inputMetrics.bytesRead / 1e6
      c("exec.output_mb") += m.outputMetrics.bytesWritten / 1e6
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("plan.analysis_ms", ms("analysis"))
    add("plan.optimizer_ms", ms("optimization"))
    add("plan.planning_ms", ms("planning"))
    add("plan.queries", 1)
    Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
      add("scan.files_read", s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
      add("scan.files_listed", s.relation.location.inputFiles.length.toDouble)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Snapshot = { drain(); synchronized(Snapshot(c.toMap)) }

  /** Live RDD blocks and their memory/disk footprint right now. */
  def storage(): (Double, Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toDouble).sum,
      infos.map(_.memSize.toDouble).sum / 1e6,
      infos.map(_.diskSize.toDouble).sum / 1e6)
  }
}
