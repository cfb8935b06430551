package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters of one query call. Listener threads write, the
  * harness thread reads after the listener bus is drained. */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

/** Watches every GC through the collectors' notifications. Always on:
  * the highest heap occupancy after a major (whole-heap) GC of a pass is
  * an end-to-end metric. Only a whole-heap GC leaves nothing but live
  * objects; the usage after a minor GC also holds the old generation's
  * garbage and depends on when the GC happened to run (after any GC,
  * one workload's peak moved 30% between runs of the same code). The
  * major GCs are mostly the ones `GraftSession.release` requests after
  * each query, so this reads the live heap that a query leaves behind,
  * not the one while it runs. While a [[Tracer]] is attached, GC time
  * and count are also charged to the open query. */
final class HeapMonitor {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L
  @volatile var tracer: Tracer = null

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, usage) if heapPools(pool) => usage.getUsed
          }.sum
          synchronized { if (after > peakBytes) peakBytes = after }
        }
        val t = tracer
        if (t != null) {
          t.target.add("jvm.gc_ms", info.getGcInfo.getDuration.toDouble)
          t.target.add("jvm.gc_count", 1)
        }
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Peak since the last call, in bytes; starts the next window. */
  def takePeak(): Long = synchronized { val p = peakBytes; peakBytes = 0L; p }

  def close(): Unit = emitters.foreach { e =>
    try e.removeNotificationListener(listener) catch { case NonFatal(_) => () }
  }
}

/** The traced run's listeners: a SparkListener (jobs, stages, tasks),
  * a QueryExecutionListener (planning phases, file-write metrics) and a
  * StreamingQueryListener (micro-batch durations, state store). Calls
  * are sequential, so everything observed while a query's span is open
  * is charged to that query's [[Counters]]; the harness drains the
  * listener bus before closing the span. */
final class Tracer(spark: SparkSession) {
  @volatile var current: Counters = null
  /** Work observed while no call was open; the harness renews it per pass. */
  @volatile var unattributed = new Counters
  def target: Counters = { val c = current; if (c == null) unattributed else c }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = target.add("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      target.add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = target
      t.add("exec.tasks", 1)
      if (e.reason != Success) t.add("exec.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        t.add("exec.task_run_ms", m.executorRunTime.toDouble)
        t.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        t.add("exec.task_gc_ms", m.jvmGCTime.toDouble)
        t.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        t.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        t.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        t.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        t.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0 &&
            m.shuffleWriteMetrics.recordsWritten == 0 && m.outputMetrics.recordsWritten == 0)
          t.add("exec.empty_tasks", 1)
        val i = e.taskInfo
        val fetching = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetching
        t.add("exec.scheduler_delay_ms", math.max(0L, delay).toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }

  private def planned(qe: QueryExecution): Unit = {
    val t = target
    t.add("planner.query_executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => t.add(s"planner.${p}_ms", s.durationMs.toDouble))
    }
    try nodes(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").foreach(m => t.add("sinks.output_files", m.value.toDouble))
        w.metrics.get("numOutputBytes").foreach(m => t.add("sinks.output_bytes", m.value.toDouble))
      case _ => ()
    } catch { case NonFatal(_) => () }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = target.add("stream.queries", 1)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val t = target
      t.add("stream.batches", 1)
      if (p.numInputRows == 0) t.add("stream.empty_batches", 1)
      t.add("stream.input_rows", p.numInputRows.toDouble)
      Seq("triggerExecution" -> "stream.trigger_ms", "addBatch" -> "stream.add_batch_ms",
        "latestOffset" -> "stream.latest_offset_ms", "queryPlanning" -> "stream.query_planning_ms",
        "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")
        .foreach { case (k, name) =>
          Option(p.durationMs.get(k)).foreach(v => t.add(name, v.doubleValue))
        }
      val ops = p.stateOperators.toSeq
      ops.foreach { s =>
        t.add("stream.state_commit_ms", s.commitTimeMs.toDouble)
        t.add("stream.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
      }
      // gauges: the largest state a query's streams held in any batch
      t.max("stream.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
      t.max("stream.state_memory_bytes", ops.map(_.memoryUsedBytes).sum.toDouble)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}
