package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are grouped into packs (one per capability area); each pack
  * exposes `queries` (Spark plans) and `oracle` (equivalent DuckDB SQL over
  * the same parquet tables). Names must agree column-for-column — the
  * driver's compare sorts columns by name before hashing.
  */
object SparkEntry {
  private def packs: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracle),
      (Operators.queries, Operators.oracle),
      (TextPack.queries, TextPack.oracle),
      (JobsPack.queries, JobsPack.oracle),
      (MediaPack.queries, MediaPack.oracle),
      (GraphPack.queries, GraphPack.oracle),
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_._1).reduce(_ ++ _)

  /** The one query-set filter of the harness (Bench, Verify, PlanDump,
    * ScaleCheck): the `names` starting with one of the comma-separated
    * `prefixes`, sorted by name; `None` selects every name. An empty prefix
    * list or one that matches nothing fails, because either would pass for
    * a normal run over the wrong set.
    */
  def select(prefixes: Option[String],
             names: Iterable[String] = queries.keys): Seq[String] =
    prefixes.fold(names.toSeq.sorted) { spec =>
      val ps = spec.split(',').map(_.trim).filter(_.nonEmpty)
      require(ps.nonEmpty, s"empty query-name prefix list '$spec'")
      val hit = names.filter(n => ps.exists(n.startsWith)).toSeq.sorted
      require(hit.nonEmpty, s"query-name prefixes '$spec' match nothing")
      hit
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.map(_._2).reduce(_ ++ _)
}
