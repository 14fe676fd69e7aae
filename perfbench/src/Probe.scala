package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What the listeners saw between two `Probe.take()` calls. Spark's own
  * units are kept (ms, ns, bytes); `Harness` converts when it reports.
  */
final class Counters {
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, peakMemB = 0L
  var shWriteB, shWriteRec, shWriteNs, shReadB, fetchWaitMs, spillB = 0L
  var inputRec, outputRec = 0L
  var mapStageMs, reduceStageMs = 0L
  val stageSpans = ArrayBuffer.empty[(Long, Long)] // (submitted, completed) epoch ms
  var analysisMs, optimizationMs, planningMs = 0L
  var batches, triggerMs, addBatchMs, stateCommitMs, stateRows = 0L

  /** Wall time of the stages as a union of intervals, in ms. */
  def stageUnionMs: Long = {
    var covered, end = 0L
    stageSpans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** A `SparkListener`, `QueryExecutionListener` and `StreamingQueryListener`
  * in one object. The benchmark is a closed loop with one client, so every
  * event between two `take()` calls belongs to the call in between.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private var cur = new Counters

  def take(): Counters = synchronized { val c = cur; cur = new Counters; c }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      cur.peakMemB = math.max(cur.peakMemB, e.taskMetrics.peakExecutionMemory)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    cur.stages += 1
    cur.tasks += si.numTasks
    val span = for (s <- si.submissionTime; c <- si.completionTime) yield (s, c)
    span.foreach(cur.stageSpans += _)
    if (tm != null) {
      cur.runMs += tm.executorRunTime
      cur.cpuNs += tm.executorCpuTime
      cur.gcMs += tm.jvmGCTime
      cur.shWriteB += tm.shuffleWriteMetrics.bytesWritten
      cur.shWriteRec += tm.shuffleWriteMetrics.recordsWritten
      cur.shWriteNs += tm.shuffleWriteMetrics.writeTime
      cur.shReadB += tm.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
      cur.spillB += tm.diskBytesSpilled
      cur.inputRec += tm.inputMetrics.recordsRead
      cur.outputRec += tm.outputMetrics.recordsWritten
      val ms = span.map { case (s, c) => c - s }.getOrElse(0L)
      if (tm.shuffleReadMetrics.recordsRead > 0) cur.reduceStageMs += ms
      else if (tm.shuffleWriteMetrics.recordsWritten > 0) cur.mapStageMs += ms
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala
        cur.batches += 1
        cur.triggerMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        cur.addBatchMs += d.get("addBatch").map(_.longValue).getOrElse(0L)
        cur.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        cur.stateRows = math.max(cur.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }
}
