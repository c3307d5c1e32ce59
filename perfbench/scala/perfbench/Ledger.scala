package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted by Spark's public listener APIs, keyed by the span the
  * harness was in when each job was submitted. The harness names its
  * current span in the job-local property [[Ledger.SpanKey]]; jobs,
  * stages and tasks inherit it, so eager jobs a query builder runs are
  * told apart from the jobs of the query's own execution.
  *
  * Listener callbacks arrive on the listener-bus threads; read the
  * totals only after [[org.apache.spark.perfbench.ListenerBus.drain]]. */
final class Ledger extends SparkListener with QueryExecutionListener {
  import Ledger.Work

  private val bySpan = mutable.Map.empty[String, Work]
  private val stageSpan = mutable.Map.empty[Int, String]
  private var catalystMs = Map("analysis" -> 0L, "optimization" -> 0L,
    "planning" -> 0L)

  private def work(span: String): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Ledger.SpanKey))).getOrElse("other")
    e.stageIds.foreach(stageSpan(_) = span)
    work(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      work(stageSpan.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, "other"))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spill += m.diskBytesSpilled
      w.outBytes += m.outputMetrics.bytesWritten
      w.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    catalystMs = catalystMs.map { case (k, v) =>
      k -> (v + phases.get(k).map(_.durationMs).getOrElse(0L)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Work summed over every span name. */
  def total: Work = synchronized {
    bySpan.values.foldLeft(new Work)(_ + _)
  }

  def of(span: String): Work = synchronized {
    bySpan.getOrElse(span, new Work)
  }

  def catalystSeconds(phase: String): Double = synchronized {
    catalystMs(phase) / 1e3
  }
}

object Ledger {
  val SpanKey = "perfbench.span"

  final class Work {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleWriteNs, shuffleRead, fetchWaitMs, spill = 0L
    var outBytes, outRecords = 0L

    def +(o: Work): Work = {
      val w = new Work
      w.jobs = jobs + o.jobs; w.stages = stages + o.stages
      w.tasks = tasks + o.tasks; w.runMs = runMs + o.runMs
      w.cpuNs = cpuNs + o.cpuNs; w.gcMs = gcMs + o.gcMs
      w.shuffleWrite = shuffleWrite + o.shuffleWrite
      w.shuffleWriteNs = shuffleWriteNs + o.shuffleWriteNs
      w.shuffleRead = shuffleRead + o.shuffleRead
      w.fetchWaitMs = fetchWaitMs + o.fetchWaitMs; w.spill = spill + o.spill
      w.outBytes = outBytes + o.outBytes; w.outRecords = outRecords + o.outRecords
      w
    }
  }
}
