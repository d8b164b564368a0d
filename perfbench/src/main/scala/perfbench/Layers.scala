package perfbench

import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one layer span: everything the scheduler reports
  * for the jobs a span submitted. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var jobMs = 0L; var taskMs = 0L; var gcMs = 0L
  var scanStageMs = 0L; var writeStageMs = 0L
  var recordsRead = 0L; var bytesRead = 0L
  var recordsWritten = 0L; var bytesWritten = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  // planning phases of the query executions that finished in the span
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
}

/** The benchmark's own listener. Jobs are attributed to the span named by
  * the `perfbench.span` local property of the thread that submitted them
  * (local properties are inherited by threads the engine starts inside a
  * span). Query-execution planning times carry no properties; they go to
  * [[current]], the span the single client is in, which is exact because
  * the traced run drains the bus before it leaves a span.
  */
final class Layers extends SparkListener with QueryExecutionListener {
  val SpanKey = "perfbench.span"
  private val byStage = TrieMap.empty[Int, String]
  private val jobSpan = TrieMap.empty[Int, (String, Long)]
  private val counters = TrieMap.empty[String, Counters]
  @volatile var current: String = null

  private def of(span: String): Counters = counters.getOrElseUpdate(span, new Counters)

  /** Counters gathered so far, by span; clears them. Call after a drain. */
  def take(): Map[String, Counters] = synchronized {
    val out = counters.toMap
    counters.clear()
    byStage.clear()
    jobSpan.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).orNull
    if (span != null) {
      of(span).jobs += 1
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(byStage(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) => of(span).jobMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    byStage.get(info.stageId).foreach { span =>
      val c = of(span)
      c.stages += 1
      val ms = (for (s <- info.submissionTime; d <- info.completionTime) yield d - s).getOrElse(0L)
      val m = info.taskMetrics
      // a stage that lands rows in a sink is a write stage; the rest scan
      // (and shuffle) the source
      if (m != null && (m.outputMetrics.recordsWritten > 0 || m.outputMetrics.bytesWritten > 0))
        c.writeStageMs += ms
      else c.scanStageMs += ms
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val span = current
      if (span != null) {
        val c = of(span)
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One timed span of the traced run: name, start, end and parent, under
  * one trace id per operation. Spans stay in memory; the run record
  * carries them. */
final case class Span(trace: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer(sc: SparkContext, layers: Layers) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var trace = 0

  def all: Seq[Span] = spans.toSeq
  def ofTrace(t: Int): Seq[Span] = spans.filter(_.trace == t).toSeq

  /** Runs `body` as the root span of a new trace; returns the trace id. */
  def operation(name: String)(body: => Unit): Int = {
    trace += 1
    span(name)(body)
    trace
  }

  /** Runs `body` as a child span of the innermost open span. The engine's
    * jobs submitted inside carry the span's name. */
  def span[T](name: String)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val outer = sc.getLocalProperty(layers.SpanKey)
    val outerCurrent = layers.current
    sc.setLocalProperty(layers.SpanKey, name)
    layers.current = name
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      // deliver this span's events while it is still the current one
      org.apache.spark.PerfbenchBus.drain(sc)
      stack = stack.tail
      sc.setLocalProperty(layers.SpanKey, outer)
      layers.current = outerCurrent
      spans += Span(trace, id, parent, name, t0, t1)
    }
  }
}
