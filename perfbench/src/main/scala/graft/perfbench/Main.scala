package graft.perfbench

import org.apache.spark.sql.SparkSession
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in this JVM: set up the workload once in an empty
  * work dir, then run a fixed number of its ops in a closed loop with one
  * client, about `--seconds` long, then write everything measured to
  * `<root>/result.json`. perfbench/run.py starts it, gates the outputs and
  * turns the result into metrics.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * root (scratch dir, empty; the JVM's working dir), sf (testdata dir),
  * cpus, launch-ms (epoch ms at which run.py started the JVM).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = arg("launch-ms").toLong
    val root = Paths.get(arg("root")).toAbsolutePath
    val cpus = arg("cpus").toInt
    val traced = arg("trace") == "1"
    def since(ms: Long) = Json.num((System.currentTimeMillis() - ms) / 1000.0)
    val spark = graft.core.SessionTuning.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = since(launchMs)
    val tracer = new Tracer(spark.sparkContext, traced)
    val listener = if (traced) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val work = root.resolve("work")
    Files.createDirectories(work)
    val workload = Workload(arg("workload"),
      Ctx(spark, tracer, work, arg("sf"), arg("seed").toLong, cpus))
    workload.setup()

    System.gc()
    val liveHeap = new LiveHeap
    val gc0 = gcMs()
    val samples = mutable.ArrayBuffer.empty[Sample]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val setupS = (startMs - launchMs) / 1000.0
    // a fixed number of ops for the seconds asked for, so every run of a
    // workload times the same ops, in a seeded order
    val ops = workload.ops(arg("seconds").toDouble)
    var i = 0
    while (i < ops) {
      tracer.op = i
      val kind = workload.kind(i)
      val s = System.nanoTime()
      val check =
        try tracer.span(s"op.$kind")(workload.run(i))
        catch { case e: Exception => val msg = e.toString; () => msg }
      val ms = (System.nanoTime() - s) / 1e6
      samples += Sample(i, kind, ms, try check() catch { case e: Exception => e.toString })
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val driverGcS = (gcMs() - gc0) / 1000.0
    val peakHeapMb = liveHeap.peakMb()
    tracer.op = -1

    workload.verify(samples.toSeq)
    val gate = workload.gate
    val checksS = since(endMs)
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val out = new StringBuilder
    def field(k: String, v: String): Unit =
      out ++= (if (out.isEmpty) "{" else ",\n") ++= Json.str(k) += ':' ++= v
    field("workload", Json.str(arg("workload")))
    field("seed", arg("seed"))
    field("cpus", cpus.toString)
    field("setup_s", Json.num(setupS))
    field("session_s", sessionS)
    field("checks_s", checksS)
    field("timed_s", Json.num(timedS))
    field("timed_start_ms", startMs.toString)
    field("timed_end_ms", endMs.toString)
    field("driver_gc_s", Json.num(driverGcS))
    field("peak_heap_mb", Json.num(peakHeapMb))
    field("store_bytes", workload.storeBytes.toString)
    field("input_bytes", workload.inputBytes.toString)
    field("samples", Json.arr(samples.map(s =>
      Json.arr(Seq(s.op.toString, Json.str(s.kind), Json.num(s.ms), Json.str(s.error))))))
    field("gate", gate)
    field("trace_overhead_s", Json.num(
      (tracer.overheadNs + listener.map(_.overheadNs).getOrElse(0L)) / 1e9))
    field("spans", Json.arr(tracer.spans.map(s => Json.arr(Seq(s.id.toString,
      s.parent.toString, Json.str(s.name), s.op.toString,
      ((s.startNs - t0) / 1000).toString, ((s.endNs - t0) / 1000).toString))).toSeq))
    field("counters", Json.arr(tracer.counters.map { case ((span, name), v) =>
      Json.arr(Seq(span.toString, Json.str(name), Json.num(v)))
    }.toSeq))
    field("engine", listener.map { l =>
      l.bySpan.toSeq.sortBy(_._1).map { case (span, t) =>
        s""""$span":[${Seq(t.jobs, t.stages, t.tasks, t.runMs, t.cpuNs, t.gcMs,
          t.inputBytes, t.inputRecords, t.shuffleWriteBytes, t.shuffleReadBytes,
          t.spillBytes, t.outputBytes, t.schedulerDelayMs).mkString(",")}]"""
      }.mkString("{", ",", "}")
    }.getOrElse("{}"))
    field("job_intervals_ms", Json.arr(listener.map(_.jobIntervals.toSeq).getOrElse(Nil)
      .map { case (s, e) => s"[$s,$e]" }))
    out ++= "}\n"
    Files.writeString(root.resolve("result.json"), out.toString)
    spark.stop()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** The heap in use right after each garbage collection — the data still
  * live — and its largest value since construction. A forced collection
  * at the end makes sure the live set at the end of the run counts too.
  */
final class LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        record(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }

  def peakMb(): Double = {
    System.gc()
    record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    emitters.foreach(_.removeNotificationListener(listener))
    peak / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
