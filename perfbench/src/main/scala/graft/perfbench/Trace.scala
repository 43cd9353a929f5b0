package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One closed span: a call into one layer. `op` is the index of the timed
  * op that made the call, or -1 for calls made during set-up.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long)

/** Spark task metrics summed over the jobs one span launched. */
final class EngineTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, outputBytes = 0L
  var schedulerDelayMs = 0L
}

object Tracer { val SpanKey = "graft.perfbench.span" }

/** Spans around the benchmark's calls into graft's layers, kept in memory
  * until the run ends. Disabled, `span` is a plain call: no clock reads,
  * no Spark local property, no listener — the untraced run measures the
  * end-to-end numbers.
  *
  * Before each call the span's id is set as a Spark local property, so the
  * listener can attribute every job the call launches to it. Counters are
  * evaluated only when tracing and after the span closes, so their own cost
  * (file listings, plan walks) lands in `overheadNs`, not in a layer.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (span id, counter name) -> value */
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  var op: Int = -1
  var overheadNs = 0L
  private var current = 0
  private var nextId = 1
  private var lastClosed = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = System.nanoTime()
      overheadNs += start - t0
      try body
      finally {
        val end = System.nanoTime()
        spans += Span(id, parent, name, op, start, end)
        current = parent
        lastClosed = id
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString)
        overheadNs += System.nanoTime() - end
      }
    }

  /** Add `value` to counter `name` of the span that closed last. */
  def count(name: String)(value: => Double): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      val key = (lastClosed, name)
      counters(key) = counters.getOrElse(key, 0.0) + value
      overheadNs += System.nanoTime() - t0
    }
}

/** The engine layer, read from outside: task metrics per span, and the
  * wall-clock intervals during which any Spark job was running. Runs on
  * Spark's listener-bus thread; read only after the bus has drained.
  */
final class EngineListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, EngineTotals]
  /** (start ms, end ms) of every finished job */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var overheadNs = 0L
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(0)
  private def totals(span: Int) = bySpan.getOrElseUpdate(span, new EngineTotals)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    overheadNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = spanOf(e.properties)
    totals(span).jobs += 1
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val span = stageSpan.getOrElseUpdate(e.stageInfo.stageId, spanOf(e.properties))
    totals(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals(stageSpan.getOrElse(e.stageId, 0))
      val info = e.taskInfo
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
      // the Spark UI's definition: task wall minus everything the task did
      val gettingResult =
        if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      t.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }
}
