package graft.perfbench

import graft.core.SnapshotStore
import graft.jobs.{BuildChained, JobContext, JobRequest, JobResult, JobRunner, Urd}
import graft.ops.{CsvImport, CsvImportConfig, DatasetHashpart, DatasetType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Path, Paths}

/** The daily build script, run the way a cron job runs it: every call
  * opens a fresh SnapshotStore, JobRunner and Urd on the work dir, so the
  * job bookkeeping it pays grows with the history already there.
  *
  * One run: `BuildChained` imports the day's CSV drop, types it, hashparts
  * it on l_orderkey and writes it as a snapshot with zone maps, chained to
  * the previous day; a second job aggregates the day per l_returnflag; the
  * session is recorded in urd.
  */
final class DailyScript(spark: SparkSession, tr: Tracer, drops: Drops, work: Path, slices: Int) {
  import DailyScript._

  val storeRoot: String = work.resolve("store").toString
  private val jobsRoot = work.resolve("jobs").toString
  private val urdPath = work.resolve("urd").resolve("urd.log").toString

  def urdKey(cycle: Int): String = s"bench/ingest$cycle"

  def ingestRequest(cycle: Int, day: Int): JobRequest =
    JobRequest("daily_ingest", options = Map("cycle" -> cycle.toString, "day" -> day.toString),
      inputs = Map("csv" -> drops.path(day)))

  def aggRequest(ingest: JobResult): JobRequest =
    JobRequest("daily_agg", inputs = Map("data" -> ingest.output("data")))

  def open(): (SnapshotStore, JobRunner, Urd) = {
    val (store, runner) = tr.span("jobs.open") {
      val store = new SnapshotStore(spark, storeRoot)
      (store, new JobRunner(store, jobsRoot))
    }
    (store, runner, tr.span("jobs.urd.open")(new Urd(urdPath)))
  }

  def build(runner: JobRunner, req: JobRequest)(body: JobContext => Map[String, String]): JobResult =
    counted(tr.span("jobs.build")(runner.build(req)(body)))

  /** Run day `day` of cycle `cycle`; returns the day's data snapshot and
    * its aggregate snapshot.
    */
  def run(cycle: Int, day: Int): (String, String) = {
    val (store, runner, urd) = open()
    val ingest = counted(tr.span("jobs.build") {
      BuildChained(runner, urd, urdKey(cycle), "ingest", ingestRequest(cycle, day)) { job =>
        val previous = job.request.inputs("previous") match {
          case ""    => None
          case jobid => Some(runner.matchJob(jobid).outputs("data"))
        }
        Map("data" -> ingestDay(store, job, previous))
      }
    })
    val agg = build(runner, aggRequest(ingest)) { job =>
      val day = tr.span("core.read")(store.readResolved(job.request.inputs("data")))
      val totals = day.groupBy("l_returnflag")
        .agg(count(lit(1)).as("rows"), sum(col("l_extendedprice").cast(Drops.Money)).as("price"))
      Map("agg" -> write(store, totals, job.snapshotName("agg"), None, None))
    }
    tr.span("jobs.urd.add") {
      urd.add(urdKey(cycle), drops.firstDay(day), Seq("ingest" -> ingest.jobid, "agg" -> agg.jobid))
    }
    (ingest.output("data"), agg.output("agg"))
  }

  private def ingestDay(store: SnapshotStore, job: JobContext, previous: Option[String]): String = {
    val imported = tr.span("ops.csvimport") {
      CsvImport(spark, job.request.inputs("csv"), CsvImportConfig(linenoLabel = Some("lineno")))
    }
    try {
      val typed = tr.span("ops.dataset_type") {
        DatasetType(imported.data, Drops.Types, filterBad = true)
      }
      val hashed = tr.span("ops.hashpart") {
        DatasetHashpart(typed.good, HashLabel, slices)
      }
      write(store, hashed, job.snapshotName("data"), Some(HashLabel), previous)
    } finally imported.release()
  }

  private def write(store: SnapshotStore, df: org.apache.spark.sql.DataFrame, name: String,
                    hashlabel: Option[String], previous: Option[String]): String = {
    tr.span("core.write") {
      store.write(df, name, hashlabel = hashlabel, previous = previous,
        slices = slices, preRouted = hashlabel.isDefined)
    }
    tr.count("files")(Drops.treeFiles(Paths.get(storeRoot, name), ".parquet").toDouble)
    name
  }

  private def counted(r: JobResult): JobResult = {
    tr.count("linked")(if (r.cached) 1 else 0)
    r
  }
}

object DailyScript {
  val HashLabel = "l_orderkey"

  /** Per return flag: (rows, exact sum of l_extendedprice), from an
    * aggregate snapshot the script wrote.
    */
  def readTotals(store: SnapshotStore, agg: String): Map[String, (Long, BigDecimal)] =
    store.readResolved(agg).collect().map { r =>
      r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("rows"), BigDecimal(r.getAs[java.math.BigDecimal]("price")))
    }.toMap
}
