package graft.perfbench

import graft.core.{Materialize, SnapshotStore}
import graft.ops.{CsvExport, DatasetChecksum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What every workload gets: the session, the tracer, the run's work dir
  * (empty at set-up) and the seed.
  */
final case class Ctx(spark: SparkSession, tr: Tracer, work: Path, sfDir: String,
                     seed: Long, cpus: Int)

/** One timed op. `error` is empty when it succeeded and passed its check. */
final case class Sample(op: Int, kind: String, ms: Double, var error: String)

trait Workload {
  /** Build every input and fixture from an empty work dir. */
  def setup(): Unit
  /** Kind of timed op `i`; the same seed gives the same sequence. */
  def kind(i: Int): String
  /** How many ops a run of about `seconds` times: fixed for a given
    * `seconds`, so every run of the workload times the same ops.
    */
  def ops(seconds: Double): Int
  /** Run timed op `i`. The returned check runs after the op's clock has
    * stopped and gives an error message, or "" when the result is right.
    */
  def run(i: Int): () => String
  /** Untimed checks after the timed phase; may mark samples failed. */
  def verify(samples: Seq[Sample]): Unit = ()
  def storeBytes: Long
  def inputBytes: Long
  /** Extra result fields (JSON) for the gates that run outside the JVM. */
  def gate: String = "{}"
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "daily_ingest" => new DailyIngest(c)
    case "chain_query"  => new ChainQuery(c)
    case "query_mix"    => new QueryMix(c)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seeded round-robin over `kinds`: every round is a seeded permutation
    * of all of them, so each kind runs once per round.
    */
  def schedule(kinds: Seq[String], seed: Long, i: Int): String = {
    val round = new scala.util.Random(seed * 1000003L + i / kinds.size).shuffle(kinds)
    round(i % kinds.size)
  }

  /** Ops in whole rounds of `kinds`, one round per `roundSeconds` asked
    * for, rounded up.
    */
  def rounds(kinds: Seq[String], roundSeconds: Double, seconds: Double): Int =
    math.ceil(seconds / roundSeconds).toInt * kinds.size
}

/** Write-heavy: one op is one daily run of the build script over the next
  * CSV drop, on a history that grows through the run.
  */
final class DailyIngest(c: Ctx) extends Workload {
  private val Days = 32
  private val Width = 7
  private var drops: Drops = _
  private var script: DailyScript = _
  private var expected: Map[Int, Map[String, (Long, BigDecimal)]] = Map.empty
  /** The runs that finished: op, cycle, day, aggregate snapshot. */
  private val done = mutable.ArrayBuffer.empty[(Int, Int, Int, String)]

  def setup(): Unit = {
    drops = new Drops(c.spark, c.sfDir, c.seed, Days, Width, c.work.resolve("inputs"))
    drops.write()
    expected = drops.flagTotals()
    // an untimed run in a throw-away dir, so the first timed op does not
    // pay for JIT and code generation the later ones get for free
    new DailyScript(c.spark, c.tr, drops, c.work.resolve("warm"), c.cpus).run(0, 0)
    script = new DailyScript(c.spark, c.tr, drops, c.work.resolve("ingest"), c.cpus)
  }

  def kind(i: Int): String = "daily_run"
  /** One daily run per second asked for, rounded up: the first days of
    * the first cycle, the same days in every run.
    */
  def ops(seconds: Double): Int = math.ceil(seconds).toInt

  def run(i: Int): () => String = {
    val (cycle, day) = (i / Days, i % Days)
    done += ((i, cycle, day, script.run(cycle, day)._2))
    () => ""
  }

  override def verify(samples: Seq[Sample]): Unit = {
    val store = new SnapshotStore(c.spark, script.storeRoot)
    val byOp = samples.map(s => s.op -> s).toMap
    done.foreach { case (op, _, day, agg) =>
      val got = DailyScript.readTotals(store, agg)
      if (got != expected.getOrElse(day, Map.empty))
        byOp(op).error = s"day $day totals $got, expected ${expected.get(day)}"
    }
  }

  def storeBytes: Long = Drops.treeBytes(c.work.resolve("ingest").resolve("store"))
  def inputBytes: Long = done.map(d => drops.bytes(d._3)).sum

  /** Per cycle: the CSV drops it ingested and the final chain's totals per
    * return flag, for the DuckDB gate over the same CSV files.
    */
  override def gate: String = {
    val (store, runner, urd) = script.open()
    done.groupBy(_._2).toSeq.sortBy(_._1).map { case (cycle, runs) =>
      val ingest = urd.latest(script.urdKey(cycle)).get.joblist.toMap.apply("ingest")
      val tip = runner.matchJob(ingest).outputs("data")
      val totals = store.iterateChain(tip).groupBy("l_returnflag")
        .agg(count(lit(1)), sum(col("l_extendedprice").cast(Drops.Money))).collect()
        .map(r => s"${Json.str(r.getString(0))}:[${r.getLong(1)},${Json.str(r.getDecimal(2).toPlainString)}]")
      s"""{"ops":${Json.arr(runs.map(_._1.toString))},""" +
        s""""csv":${Json.arr(runs.map(d => Json.str(drops.path(d._3))))},""" +
        s""""totals":{${totals.mkString(",")}}}"""
    }.mkString("""{"chains":[""", ",", "]}")
  }
}

/** Read-heavy: a seeded mix of reads over the chain the daily script
  * leaves, each checked against an answer plain Spark computed in set-up.
  */
final class ChainQuery(c: Ctx) extends Workload {
  import ChainQuery._
  private val Days = 3
  private val Width = 120
  private val Pool = 4
  private var drops: Drops = _
  private var script: DailyScript = _
  private var tip: String = _
  private var ranges: IndexedSeq[(String, String, Seq[String], Long)] = _ // lo, hi, answer, rows
  private var windows: IndexedSeq[(Long, Long, String)] = _
  private var rehashWant: String = _
  private var checksum: (BigDecimal, BigDecimal, Long) = _
  private val kinds = Seq("range_scan", "slice_window", "rehash_group",
    "checksum_chain", "export_range", "relink")
  /** About how long one round of the six kinds takes on 4 cores. */
  private val RoundSeconds = 2.0
  private val tr = c.tr

  def setup(): Unit = {
    drops = new Drops(c.spark, c.sfDir, c.seed, Days, Width, c.work.resolve("inputs"))
    drops.write()
    script = new DailyScript(c.spark, tr, drops, c.work.resolve("chain"), c.cpus)
    tip = (0 until Days).map(script.run(0, _)).last._1
    val all = drops.expected.cache()
    val exp = all.drop("drop", "k")
    val rng = new scala.util.Random(c.seed)
    val span = drops.days / 4
    ranges = (0 until Pool).map { _ =>
      val lo = rng.nextInt(drops.days - span)
      val (from, to) = (drops.day(lo), drops.day(lo + span))
      val inRange = exp.filter(col("l_shipdate") >= lit(from).cast("date") &&
        col("l_shipdate") < lit(to).cast("date"))
      val answer = rangeQuery(inRange).collect()
      (from, to, rangeAnswer(answer), answer.map(_.getLong(2)).sum)
    }
    // row windows over the chain in chain order: drop, then line number
    val prices = all.orderBy("drop", "lineno")
      .select(col("l_extendedprice").cast(Drops.Money)).collect()
      .map(r => BigDecimal(r.getDecimal(0)))
    windows = (0 until Pool).map { _ =>
      val a = rng.nextInt(prices.length)
      val b = math.min(prices.length, a + prices.length / 8)
      (a.toLong, b.toLong, windowAnswer(b - a, prices.slice(a, b).sum))
    }
    rehashWant = rehashAnswer(rehashQuery(exp).collect())
    checksum = expectedChecksum(exp)
    all.unpersist()
  }

  def storeBytes: Long = Drops.treeBytes(c.work.resolve("chain").resolve("store"))
  def inputBytes: Long = (0 until Days).map(drops.bytes).sum

  def kind(i: Int): String = Workload.schedule(kinds, c.seed, i)
  def ops(seconds: Double): Int = Workload.rounds(kinds, RoundSeconds, seconds)

  private def pick(i: Int): Int = new scala.util.Random(c.seed * 31 + i).nextInt(Pool)

  def run(i: Int): () => String = {
    val store = new SnapshotStore(c.spark, script.storeRoot)
    kind(i) match {
      case "range_scan" =>
        val (lo, hi, want, _) = ranges(pick(i))
        val df = iterate(store, RangeCols, Some(("l_shipdate", lo, hi)))
        val got = read(rangeQuery(df))
        () => diff(rangeAnswer(got), want)
      case "slice_window" =>
        val (a, b, want) = windows(pick(i))
        val df = tr.span("core.iterate") {
          store.iterateChain(tip, columns = Seq("l_extendedprice", "lineno"),
            sliceWindow = Some((Some(a), Some(b))), orderCol = Some("lineno"))
        }
        val got = read(windowQuery(df))
        () => diff(windowAnswer(got), want)
      case "rehash_group" =>
        val df = tr.span("core.iterate") {
          store.iterateChain(tip, columns = Seq(DailyScript.HashLabel, "l_quantity"),
            hashlabel = Some(DailyScript.HashLabel))
        }
        val got = read(rehashQuery(df))
        () => diff(rehashAnswer(got), rehashWant)
      case "checksum_chain" =>
        val df = tr.span("core.iterate")(store.iterateChain(tip))
        val got = tr.span("ops.checksum")(DatasetChecksum.value(df))
        () => diff(got.toString, checksum.toString)
      case "export_range" =>
        val (lo, hi, _, rows) = ranges(pick(i))
        val df = iterate(store, Nil, Some(("l_shipdate", lo, hi)))
        val out = c.work.resolve("export").resolve(s"range$i.csv")
        Files.createDirectories(out.getParent)
        tr.span("ops.csvexport")(CsvExport(df, out.toString))
        tr.count("output_bytes")(Files.size(out).toDouble)
        () => {
          val n = Files.lines(out)
          val got = try n.count() - 1 finally n.close()
          Files.delete(out)
          diff(got.toString, rows.toString)
        }
      case "relink" =>
        val (_, runner, urd) = script.open()
        (0 until Days).foreach { d =>
          val previous =
            if (d == 0) ""
            else urd.get(script.urdKey(0), drops.firstDay(d - 1)).get.joblist.toMap.apply("ingest")
          val req = script.ingestRequest(0, d)
          val ingest = script.build(runner, req.copy(inputs = req.inputs + ("previous" -> previous))) {
            _ => throw new IllegalStateException(s"relink rebuilt day $d")
          }
          script.build(runner, script.aggRequest(ingest)) {
            _ => throw new IllegalStateException(s"relink rebuilt the aggregate of day $d")
          }
        }
        () => ""
    }
  }

  private def iterate(store: SnapshotStore, cols: Seq[String],
                      range: Option[(String, String, String)]): DataFrame = {
    val df = tr.span("core.iterate")(store.iterateChain(tip, columns = cols, range = range))
    if (tr.enabled) {
      lazy val files = df.inputFiles // evaluated inside count: tracing overhead
      tr.count("files_planned")(files.length.toDouble)
      tr.count("snapshots_total")(store.chain(tip).size.toDouble)
      tr.count("snapshots_read")(
        files.map(f => f.substring(0, f.lastIndexOf("/data/"))).distinct.length.toDouble)
    }
    df
  }

  /** Collect a read of the chain in a core.read span, then count the
    * exchanges in the plan it executed.
    */
  private def read(query: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = tr.span("core.read")(query.collect())
    tr.count("exchanges")(exchanges(query.queryExecution.executedPlan).toDouble)
    rows
  }

  private def diff(got: Any, want: Any): String =
    if (got == want) "" else s"got $got, expected $want"
}

object ChainQuery {
  val RangeCols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_shipdate")

  type Rows = Array[org.apache.spark.sql.Row]

  def rangeQuery(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)), sum(col("l_quantity").cast(Drops.Money)),
        sum(col("l_extendedprice").cast(Drops.Money)))
  def rangeAnswer(rows: Rows): Seq[String] = rows.map(_.toSeq.mkString("|")).toSeq.sorted

  def windowQuery(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("l_extendedprice").cast(Drops.Money)))
  def windowAnswer(rows: Rows): String =
    windowAnswer(rows.head.getLong(0).toInt, BigDecimal(rows.head.getDecimal(1)))
  def windowAnswer(rows: Int, price: BigDecimal): String = s"$rows|$price"

  /** Group the chain by its hashlabel; on a bucketed chain the group-by
    * should need no exchange.
    */
  def rehashQuery(df: DataFrame): DataFrame =
    df.groupBy(DailyScript.HashLabel)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast(Drops.Money)).as("q"))
      .agg(count(lit(1)), sum("n"), max("n"), sum("q"))
  def rehashAnswer(rows: Rows): String = rows.head.toSeq.mkString("|")

  /** DatasetChecksum's documented fingerprint, recomputed with plain Spark:
    * per row, md5 of the JSON of the columns in name order, split into two
    * 60-bit halves that are summed exactly.
    */
  def expectedChecksum(df: DataFrame): (BigDecimal, BigDecimal, Long) = {
    val digest = md5(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)))
    val r = df.select(
        conv(substring(digest, 1, 15), 16, 10).cast("decimal(38,0)").as("hi"),
        conv(substring(digest, 17, 15), 16, 10).cast("decimal(38,0)").as("lo"))
      .agg(sum("hi"), sum("lo"), count(lit(1))).head()
    (BigDecimal(r.getDecimal(0)), BigDecimal(r.getDecimal(1)), r.getLong(2))
  }

  /** Repartitioning exchanges in a query's executed plan, through AQE
    * stages; the single-partition gather of a global aggregate is not one.
    */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec        => exchanges(s.plan)
    case e: ShuffleExchangeExec =>
      (if (e.outputPartitioning == SinglePartition) 0 else 1) + exchanges(e.child)
    case p => p.children.map(exchanges).sum
  }
}

/** The analytic and text/graph/media pipeline queries, in seeded order,
  * each timed as its function call plus a full materialization.
  */
final class QueryMix(c: Ctx) extends Workload {
  private lazy val all = graft.SparkEntry.queries
  private val tr = c.tr
  private def dump = c.work.resolve("dump")
  private def fixtures = c.work.getParent.resolve("target").resolve("qtmp").resolve("fixcache")
  private val dumpErrors = mutable.LinkedHashMap.empty[String, String]

  def setup(): Unit = {
    // the untimed dump pass: builds the memoized fixtures, warms every
    // query, and leaves each result for the oracle check
    QueryMix.Subset.foreach { q =>
      try all(q)(c.spark, c.sfDir).coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      catch { case e: Exception => dumpErrors(q) = e.toString }
    }
    val oracles = graft.SparkEntry.oracleSql.filter(kv => QueryMix.Subset.contains(kv._1))
    Files.writeString(dump.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    // one untimed round the way the timed ops run: the first timed round
    // would otherwise still pay for code generation and JIT
    QueryMix.Subset.filterNot(dumpErrors.contains)
      .foreach(q => Materialize.full(all(q)(c.spark, c.sfDir)))
  }

  def kind(i: Int): String = Workload.schedule(QueryMix.Subset, c.seed, i)
  def ops(seconds: Double): Int = Workload.rounds(QueryMix.Subset, QueryMix.RoundSeconds, seconds)

  def run(i: Int): () => String = {
    val q = kind(i)
    // what a query persists stays persisted, as it would for a caller
    // that runs the queries one after another: the pile-up shows in the
    // heap and GC figures
    tr.span(s"queries.${QueryMix.family(q)}")(Materialize.full(all(q)(c.spark, c.sfDir)))
    () => ""
  }

  def storeBytes: Long = Drops.treeBytes(fixtures)
  def inputBytes: Long = Drops.treeBytes(Path.of(c.sfDir))

  override def gate: String =
    s"""{"dump":${Json.str(dump.toString)},"dump_errors":{${
      dumpErrors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}}"""
}

object QueryMix {
  /** One query from each family of the Relational, Text, Graph and Media
    * packs: for the families that the performance items of ROADMAP.md work
    * on, a query they name (q_salted_join, pl_dsir, gr_report) or one of
    * the family (rt_eval_labels). Each one's fixtures build and its DuckDB
    * oracle runs in seconds at sf0.1; gr_cluster_labelprop's oracle takes
    * 25 s. Fixed, so every seed times the same work in another order.
    */
  val Subset: Seq[String] = Seq("q_salted_join", "gr_report", "pl_dsir", "dd_line_dedup",
    "rt_eval_labels", "tx_c4_lines", "ann_brute_topk", "mm_audio_adpcm")

  /** One round of the subset per this many seconds asked for: 3 rounds,
    * so that the p90 falls among several samples of the slowest queries,
    * for the 12 s the benchmark runs. A round takes about 6 s on 4 cores.
    */
  val RoundSeconds = 4.0

  /** q1, q_x -> q; gr_x -> gr: the name up to '_', trailing digits dropped. */
  def family(q: String): String = q.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse
}
