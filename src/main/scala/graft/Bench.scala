package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.JsonLite.obj
import graft.core.SessionTuning
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Timing contract: min of 3 passes per query at sf0.1.
  *
  * Prints ONE stdout line, last: total, cpus and per-family subtotals
  * (`families`), plus the names of the queries that threw (`failed`), which
  * are left out of every time. The per-query table, with GC and heap
  * columns, goes to BENCH_FULL_c<cpus>.json. Exits non-zero when a query
  * failed, after writing both.
  *
  * Env: SPARK_GRAFT_SF_DIR (default the sf0.1 testdata), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_ONLY=<comma-separated name prefixes> (time only those,
  * writing BENCH_PARTIAL_c<cpus>.json instead), SPARK_GRAFT_BENCH_ORDER=
  * reverse (every pass in reverse-sorted order: the order experiment of
  * VARIANCE.json's order_note).
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One timed run: wall, GC time during it, used heap right after it. */
  final case class Sample(sec: Double, gcMs: Long, heapMb: Long)

  /** Name up to the first '_' with trailing digits stripped, so q1, q10 and
    * q_salted_join all land in "q".
    */
  def family(n: String): String =
    n.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** One timed pass per element of `orders`. Each query runs to a noop-sink
    * full materialization (not count(), which lets Catalyst collapse plans:
    * see core/Materialize). Persisted state is purged before each pass so
    * passes are self-contained. A query that throws in any pass is
    * returned in the failed list and has no sample in that pass.
    */
  def timePasses(spark: SparkSession, sfDir: String,
                 orders: Seq[Seq[(String, Query)]]): (Seq[Map[String, Sample]], Seq[String]) = {
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val samples = orders.zipWithIndex.map { case (order, pass) =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      order.flatMap { case (name, fn) =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        try {
          graft.core.Materialize.full(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
          Some(name -> Sample(sec, gcMillis() - gc0, heapMb))
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] pass ${pass + 1} $name failed: ${e.getMessage}")
          failed += name
          None
        }
      }.toMap
    }
    (samples, failed.toSeq.sorted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionTuning.envCores
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val all = SparkEntry.queries
    val ordered = SparkEntry.select(only).map(n => n -> all(n))
    only.foreach(_ => System.err.println(
      s"[bench] SPARK_GRAFT_BENCH_ONLY matched ${ordered.size} queries: " +
        ordered.map(_._1).mkString(", ")))
    val spark = SessionTuning.local(cpus)
    // untimed warmup: JIT, codegen and the first read of every table, then
    // one pass over the query set, which builds the memoized fixtures
    // (graft.queries.Fixtures) and absorbs per-query first-run codegen, so
    // the timed passes measure plan cost, not one-time costs
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup skipped $t: ${e.getMessage}") }
    }
    ordered.foreach { case (name, fn) =>
      try graft.core.Materialize.full(fn(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
    }
    // min-of-3: noise only ever inflates a sample. Pass 1 runs in sorted
    // order and passes 2-3 in fixed-seed shuffles, so a query's min spans
    // three different neighborhoods of GC debt (VARIANCE.json order_note)
    val orders = (1 to 3).map { pass =>
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse")) ordered.reverse
      else if (pass == 1) ordered
      else new scala.util.Random(pass.toLong * 7919L).shuffle(ordered)
    }
    val (samples, failed) = timePasses(spark, sfDir, orders)
    samples.zipWithIndex.foreach { case (m, i) =>
      System.err.println(
        f"[bench] pass ${i + 1}: ${m.values.map(_.sec).sum}%.1f s, gc ${m.values.map(_.gcMs).sum} ms")
    }
    val timed = ordered.map(_._1).filterNot(failed.contains)
    val results = timed.map(n => n -> samples.map(_(n)).minBy(_.sec))
    val total = results.map(_._2.sec).sum
    // 4 decimals keep the stdout line short: a reader may keep only a
    // 2000-char tail of stdout
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val families = obj(results.groupBy(r => family(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => f -> f"${rs.map(_._2.sec).sum}%.4f" })
    val line =
      f"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"families":$families,"failed":$failedJson,"value":$total%.4f}"""
    // gc_ms: GC during the min-wall sample; gc_ms_worst: max over passes
    // (neighbor debt); heap_mb: used heap right after the min-wall sample
    val fullLine =
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
        s""""queries":${obj(results.map { case (k, v) => k -> f"${v.sec}%.4f" })},""" +
        s""""gc_ms":${obj(results.map { case (k, v) => k -> v.gcMs.toString })},""" +
        s""""gc_ms_worst":${obj(timed.map(n => n -> samples.map(_(n).gcMs).max.toString))},""" +
        s""""heap_mb":${obj(results.map { case (k, v) => k -> v.heapMb.toString })},""" +
        f""""failed":$failedJson,"value":$total%.4f}"""
    // a filtered run never clobbers the committed full table; both names
    // carry the core count so runs at two core counts coexist
    val artifact =
      if (only.isDefined) s"BENCH_PARTIAL_c$cpus.json" else s"BENCH_FULL_c$cpus.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), fullLine + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $artifact write failed: ${e.getMessage}") }
    spark.stop()
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }
}
