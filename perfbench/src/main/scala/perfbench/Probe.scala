package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Block-manager storage (memory + disk) over persisted frames and
  * broadcast pieces, tracked from block-update events. Unpersisting an
  * RDD drops its blocks without such events, so the unpersist event
  * itself releases them. */
final class StorageProbe extends SparkListener {
  private val sizes = mutable.HashMap.empty[(String, String), Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = (i.blockManagerId.executorId, i.blockId.name)
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    current += size - sizes.getOrElse(key, 0L)
    if (size == 0L) sizes.remove(key) else sizes(key) = size
    peak = math.max(peak, current)
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    sizes.keys.filter(_._2.startsWith(prefix)).toList.foreach { k =>
      current -= sizes.remove(k).get
    }
  }

  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized { peak }
  def currentBytes: Long = synchronized { current }
}

/** Wall time of every SQL action (write, collect), the per-query unit of
  * the ETL run. */
final class ActionTimes extends QueryExecutionListener {
  private val secs = mutable.ArrayBuffer.empty[Double]
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { secs += ns / 1e9 }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[Double] = synchronized { val s = secs.toList; secs.clear(); s }
}

private object PlanWalk extends AdaptiveSparkPlanHelper

/** Engine counters for the traced run: jobs, stages, tasks and their
  * metrics, planning time, files written and streaming progress, all read
  * from events on the context-wide listener bus, so work that gates run on
  * cloned sessions counts too. Counters
  * are cumulative; a span's numbers are the difference of two snapshots
  * taken with the listener bus drained. Task and single-task-stage
  * intervals are kept so a window's idle and serial time can be derived. */
final class EngineProbe extends SparkListener {
  private val totals = mutable.HashMap.empty[String, Double]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val serialStages = mutable.ArrayBuffer.empty[(Long, Long)]
  private val batchMs = mutable.ArrayBuffer.empty[Double]

  private def add(k: String, v: Double): Unit =
    totals(k) = totals.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    add("stages", 1)
    if (s.numTasks == 1)
      for (a <- s.submissionTime; b <- s.completionTime) serialStages += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_b", m.inputMetrics.bytesRead.toDouble)
      add("output_b", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Planning time and files written by one SQL execution of any session
    * (a per-session QueryExecutionListener would miss cloned sessions). */
  private def record(qe: QueryExecution): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum
    val files = PlanWalk.collect(qe.executedPlan) {
      case w: DataWritingCommandExec => w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized { add("planning_ms", planning.toDouble); add("files", files.toDouble) }
  }

  /** SQL executions and streaming progress arrive as bus events from every
    * session; micro-batches that ran data carry `addBatch`. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => Bus.queryExecution(end).foreach(record)
    case p: StreamingQueryListener.QueryProgressEvent =>
      val d = p.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (d.containsKey("addBatch")) synchronized {
        add("batches", 1)
        add("commit_ms", ms("walCommit") + ms("commitOffsets"))
        batchMs += ms("triggerExecution")
      }
    case _ => ()
  }

  def snapshot(): Map[String, Double] = synchronized { totals.toMap }
  def batchCount: Int = synchronized { batchMs.size }
  def batchesSince(n: Int): Seq[Double] = synchronized { batchMs.drop(n).toList }

  /** Milliseconds of [a, b] covered by the union of `intervals`. */
  private def covered(intervals: Iterable[(Long, Long)], a: Double, b: Double): Double = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s.toDouble, a), math.min(e.toDouble, b)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Milliseconds of [a, b] (epoch ms) during which some task ran. */
  def busyMs(a: Double, b: Double): Double = synchronized { covered(tasks, a, b) }

  /** Milliseconds of [a, b] spent inside single-task stages. */
  def serialMs(a: Double, b: Double): Double = synchronized { covered(serialStages, a, b) }
}
