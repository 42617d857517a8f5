package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one request (a face or a micro-batch), summed
  * over the Spark jobs, tasks and query executions it caused. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
  def apply(k: String): Double = v.getOrElse(k, 0.0)
}

/** The benchmark's own SparkListener, QueryExecutionListener and
  * StreamingQueryListener. Job, stage and task events are bucketed by the
  * micro-batch that caused them (the `streaming.sql.batchId` job
  * property) or else by "main"; query-execution events always land in
  * "main". Callers drain the listener bus before harvesting a bucket. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val buckets = mutable.Map.empty[String, Counters]
  private val stageBucket = mutable.Map.empty[Int, String]
  /** Planning phase windows (epoch ms) of the query executions seen since
    * the last harvest, for the face spans. */
  val phases: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty

  private def bucket(k: String): Counters = buckets.getOrElseUpdate(k, new Counters)
  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map("batch:" + _).getOrElse("main")

  def harvest(k: String): Counters = synchronized {
    val c = buckets.remove(k).getOrElse(new Counters)
    if (k == "main") phases.clear()
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    bucket(k).add("operators.jobs", 1)
    e.stageIds.foreach(stageBucket(_) = k)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bucket(stageBucket.getOrElse(e.stageInfo.stageId, "main")).add("operators.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = bucket(stageBucket.getOrElse(e.stageId, "main"))
    val m = e.taskMetrics
    val i = e.taskInfo
    c.add("operators.tasks", 1)
    if (m != null) {
      val deser = m.executorDeserializeTime
      val sched = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime - deser -
        m.resultSerializationTime - i.gettingResultTime)
      c.add("operators.task_wait_ms", (sched + deser).toDouble)
      c.add("operators.task_run_ms", m.executorRunTime.toDouble)
      c.add("operators.task_cpu_ms", m.executorCpuTime / 1e6)
      c.add("operators.gc_ms", m.jvmGCTime.toDouble)
      c.add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("operators.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      c.add("operators.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.max("operators.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val c = bucket("main")
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    c.add("operators.analysis_ms", ms("analysis"))
    c.add("operators.optimize_ms", ms("optimization"))
    c.add("operators.physical_ms", ms("planning"))
    c.add("operators.execute_ms", durationNs / 1e6)
    ph.foreach { case (name, s) => phases += ((name, s.startTimeMs, s.endTimeMs)) }
    Collector.shape(qe.executedPlan, c)
  }
}

object Collector {
  /** Plan-shape counts of an executed plan, descending through adaptive
    * plans, query stages and subqueries (not into cached relations). */
  def shape(root: SparkPlan, c: Counters): Unit = {
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => c.add("operators.reused_exchanges", 1); return
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.add("operators.exchanges", 1)
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          c.add("operators.broadcast_joins", 1)
        case _: SortMergeJoinExec => c.add("operators.sort_merge_joins", 1)
        case _: InMemoryTableScanExec => c.add("operators.scans", 1); return
        case l if l.children.isEmpty && l.nodeName.contains("Scan") => c.add("operators.scans", 1)
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case _: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback =>
          c.add("functions.codegen_fallbacks", 1)
        case _ =>
      })
      p.subqueries.foreach(walk)
      p.children.foreach(walk)
    }
    walk(root)
  }
}

/** Per-trigger progress of the streaming query, keyed by batchId. */
final class ProgressLog extends StreamingQueryListener {
  final case class P(batchId: Long, startMs: Long, inputRows: Long,
                     durations: Map[String, Long])
  val progress: mutable.ArrayBuffer[P] = mutable.ArrayBuffer.empty
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    progress += P(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}
