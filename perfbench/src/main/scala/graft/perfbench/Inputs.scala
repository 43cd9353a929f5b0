package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Daily CSV drops cut from the lineitem table with plain Spark — no graft
  * code touches the inputs, so graft receives only the generated files.
  *
  * Drop `i` holds the rows whose ship date lies in days
  * `[i * width, (i + 1) * width)` after the table's first ship date. The
  * seed sets the row order inside each drop and which rows carry a value
  * that does not parse (`n/a` as a quantity, `12x` as a price, about one
  * row in `BadEvery / 2`); everything else is the table as it is.
  */
final class Drops(spark: SparkSession, sfDir: String, seed: Long,
                  val n: Int, width: Int, val dir: Path) {
  import Drops._

  private val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
  private val first = li.agg(min(to_date(col("l_shipdate")))).head().getDate(0)

  private val rows: DataFrame = {
    val day = to_date(col("l_shipdate"))
    val h = pmod(xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber")), lit(BadEvery))
    def money(c: String) = col(c).cast("decimal(12,2)").cast("string")
    li.withColumn("drop", floor(datediff(day, lit(first)) / width).cast("int"))
      .filter(col("drop") < n)
      .select(
        col("drop"),
        xxhash64(lit(seed + 1), col("l_orderkey"), col("l_linenumber")).as("k"),
        (h > 1).as("ok"),
        col("l_orderkey").cast("string").as("l_orderkey"),
        col("l_partkey").cast("string").as("l_partkey"),
        col("l_suppkey").cast("string").as("l_suppkey"),
        col("l_linenumber").cast("string").as("l_linenumber"),
        when(h === 0, lit("n/a")).otherwise(money("l_quantity")).as("l_quantity"),
        when(h === 1, lit("12x")).otherwise(money("l_extendedprice")).as("l_extendedprice"),
        money("l_discount").as("l_discount"),
        money("l_tax").as("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"))
  }

  private val fileOrder = Seq(col("k"), col("l_orderkey"), col("l_linenumber"))

  /** Write one CSV file per drop, rows in seeded order. */
  def write(): Unit =
    rows.repartition(n, col("drop"))
      .sortWithinPartitions(col("drop") +: fileOrder: _*)
      .drop("k", "ok")
      .write.partitionBy("drop").option("header", "true").csv(dir.toString)

  def path(i: Int): String = dir.resolve(s"drop=$i").toString

  def bytes(i: Int): Long = treeBytes(Path.of(path(i)))

  /** The rows graft should keep, typed the way the ingest types them, with
    * the line number each row has in its file (the header is line 0).
    */
  lazy val expected: DataFrame =
    rows.withColumn("lineno",
        row_number().over(Window.partitionBy("drop").orderBy(fileOrder: _*)).cast("long"))
      .filter(col("ok"))
      .select(
        col("drop"), col("k"), col("lineno"),
        col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_partkey").cast("long").as("l_partkey"),
        col("l_suppkey").cast("long").as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        to_date(col("l_shipdate")).as("l_shipdate"))

  /** Per drop, per return flag: (rows, exact sum of l_extendedprice). */
  def flagTotals(): Map[Int, Map[String, (Long, BigDecimal)]] =
    expected.groupBy("drop", "l_returnflag")
      .agg(count(lit(1)), sum(col("l_extendedprice").cast(Money)))
      .collect().toSeq
      .groupBy(_.getInt(0))
      .map { case (d, rs) =>
        d -> rs.map(r => r.getString(1) -> (r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap
      }

  /** First ship date of drop `i`, as yyyy-MM-dd. */
  def firstDay(i: Int): String = day(i * width)

  /** The ship date `offset` days after the first, as yyyy-MM-dd. */
  def day(offset: Int): String = first.toLocalDate.plusDays(offset.toLong).toString

  val days: Int = n * width
}

object Drops {
  /** One row in BadEvery / 2 carries an unparseable value. */
  val BadEvery = 400
  val Money = "decimal(18,2)"

  /** How the ingest types the CSV columns (`DatasetType` specs). */
  val Types: Map[String, String] = Map(
    "l_orderkey" -> "int64", "l_partkey" -> "int64", "l_suppkey" -> "int64",
    "l_linenumber" -> "int32", "l_quantity" -> "number",
    "l_extendedprice" -> "number", "l_discount" -> "number",
    "l_tax" -> "number", "l_shipdate" -> "date")

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  def treeFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).toLong
      finally walk.close()
    }
}
