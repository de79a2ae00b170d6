package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Per-span counters gathered from Spark's public listener interfaces. A
  * span is the value of the [[Tracer.SpanProp]] local property that the
  * harness sets around each construct and execute call; every job, stage
  * and task inherits it, so each event is charged to the span whose call
  * launched it. */
final class SpanStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L; var gcMs = 0L
  var scanBytes = 0L; var scanRows = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var queries = 0L; var sortFallbackTasks = 0L
  var blocksWritten = 0L; var bytesWritten = 0L
  /** (start, end) epoch millis of each job charged to the span. */
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Lives in Spark's package only to reach `listenerBus.waitUntilEmpty`,
  * which lets the harness read a traced operation's counters as soon as
  * that operation returns; everything else it uses is public API. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.SpanProp

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  var unattributedJobs = 0L

  private def stats(span: String): SpanStats =
    spans.getOrElseUpdate(span, new SpanStats)

  /** Attached around one operation at a time, after the bus has delivered
    * every earlier event, so whatever arrives belongs to that operation. */
  def attach(): Unit = {
    drain()
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    span match {
      case Some(s) =>
        val st = stats(s)
        st.jobs += 1
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(id => stageSpan(id) = s)
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => stats(s).jobWindows += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => stats(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).foreach { s =>
      val st = stats(s)
      st.tasks += 1
      if (m != null) {
        st.taskCpuNs += m.executorCpuTime
        st.taskRunMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.scanBytes += m.inputMetrics.bytesRead
        st.scanRows += m.inputMetrics.recordsRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The span the harness is in. Block updates and finished queries carry
    * no local properties, so they are charged to it: exact per operation
    * (the bus is drained around each one), approximate between its
    * construct and execute halves. */
  @volatile var currentSpan: String = null

  /** Cached and checkpointed partitions: a block id (rdd × partition) is
    * counted once however often it moves between memory and disk. */
  private val seenBlocks = mutable.HashSet.empty[RDDBlockId]
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId if info.storageLevel.isValid && seenBlocks.add(b) &&
          currentSpan != null =>
        val st = stats(currentSpan)
        st.blocksWritten += 1
        st.bytesWritten += info.memSize + info.diskSize
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = lock.synchronized {
    Option(currentSpan).foreach { s =>
      val st = stats(s)
      val ph = qe.tracker.phases
      st.queries += 1
      st.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      st.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      st.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      st.sortFallbackTasks += collectWithSubqueries(qe.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
      }.sum
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}
