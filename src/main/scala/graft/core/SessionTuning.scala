package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-wide SparkSession tuning shared by every entry point (Bench,
  * Verify, ScaleCheck, Shell, tests). Centralized so a measured fix lands
  * everywhere at once.
  */
object SessionTuning {

  /** HotSpot refuses to JIT-compile any method over 8000 bytecodes
    * (-XX:DontCompileHugeMethods, on by default) — it runs INTERPRETED
    * forever. Spark's whole-stage codegen only abandons a generated
    * method above spark.sql.codegen.hugeMethodLimit, whose default
    * (65535) is far past the JIT cliff: a wide projection of parse/regex
    * expressions (e.g. a 9-column dataset_type pass) lands in the
    * 8k-64k gap and runs 2-3x slower than the non-codegen fallback.
    * Measured on op_type_fuzz at sf0.1 (graft.tools.ProfileFuzz):
    * 40.4s with the default, 9.3s with the limit at 8000 (Spark falls
    * back to per-operator eval, which JITs fine). Aligning the limit
    * with the JIT's is the documented production remedy (SPARK-21871
    * discussion). Note: keeping Filter and Project as separate codegen
    * nodes is part of the win — fusing the parse expressions into one
    * wide Project (to let CSE dedupe the double evaluation) measured
    * 13.6s vs 9.3s under this limit, because the fused method is the
    * thing that breaches the limit.
    */
  val HugeMethodLimit = 8000

  /** Core count of the harness entry points: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The one session factory: `local[cores]` with one shuffle partition
    * per core, UTC session time, parquet nanosecond timestamps read as
    * longs and no UI, then [[tune]], logging at WARN. `extraConf` is
    * applied last, so it can override any of these (e.g. `spark.master`).
    */
  def local(cores: Int, extraConf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(tune(base)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.hugeMethodLimit", HugeMethodLimit.toString)
      // Shuffled-hash joins come from the AQE runtime rewrite ONLY (the
      // threshold below), not from the static planner. r20 additionally
      // set spark.sql.join.preferSortMergeJoin=false, which makes the
      // STATIC planner pick SHJ from ESTIMATED plan stats; SHJ's
      // HashedRelation build cannot spill and AQE never demotes a
      // statically-chosen SHJ back to SMJ, so one bad post-filter
      // cardinality estimate at production scale converts a spillable
      // sort-merge join into an executor OOM (ADVICE r20, medium).
      // Removed in r21: the AQE path below converts from MEASURED
      // map-output sizes, which is the only scale-safe trigger. Measured
      // at sf0.1 (r21 A/B over the 11-query r20 SHJ set): the runtime
      // rewrite fires at every site the static flag converted — every
      // post-AQE executed plan keeps its ShuffledHashJoin (committed
      // plans/r21/*_aqe.txt dumps) and the set total is unchanged within
      // noise.
      //
      // AQE runtime SMJ→SHJ rewrite: convert when every post-shuffle
      // partition of the build side is under 64 MB (default 0 = off).
      // Local partitions are far smaller; at production partition sizing
      // (guide §2.2, 100 MB-1 GB advisory) this converts only genuinely
      // hashable builds; an over-threshold build side stays SMJ and
      // spills exactly as before.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      // A Union whose children share one hash partitioning (iterateChain
      // over a chain of snapshots bucketed on the same hashlabel) reports
      // that partitioning by default, so groupBy on the bucket column
      // plans no Exchange. At run time the union concatenates its
      // children's partitions, so a key present in several links lands in
      // several partitions and its group is split: 3 bucketed links with
      // 997 shared keys gave 2,991 groups. Off, the union reports unknown
      // partitioning and the aggregate gets the one Exchange it needs.
      .config("spark.sql.unionOutputPartitioning", "false")
}
