package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark.spark

/** The measurement harness: the shared query-set filter, Bench's family
  * key and failure accounting, and ScaleCheck's slope-row renderer.
  */
class HarnessSpec extends AnyFunSuite {

  private def keys(row: String): Set[String] =
    graft.core.JsonLite.parse(row).asInstanceOf[Map[String, Any]].keySet

  test("query-set filter: sorted prefix matches, all names without prefixes") {
    val names = Seq("q5_local_supplier", "q10", "dd_spans", "q1")
    assert(SparkEntry.select(Some("q1, dd"), names) == Seq("dd_spans", "q1", "q10"))
    assert(SparkEntry.select(None, names) == names.sorted)
    assert(SparkEntry.select(Some("q_salted")) == Seq("q_salted_join"))
  }

  test("query-set filter rejects an empty or zero-match prefix list") {
    for (spec <- Seq("", " , ", "no_such_query"))
      intercept[IllegalArgumentException](SparkEntry.select(Some(spec)))
  }

  test("bench family: name before the first '_' without trailing digits") {
    assert(Bench.family("q10") == "q")
    assert(Bench.family("q_salted_join") == "q")
    assert(Bench.family("gr_pagerank") == "gr")
  }

  test("decade rows keep the committed SCALE_CHECK.json keys at every decade") {
    // rows copied from the committed SCALE_CHECK.json (x10 queries, x100,
    // x1000 sections)
    val committed = Map(
      10 -> """{"sf01_sec": 6.712, "x10_sec": 67.281, "ratio": 10.02, "slope": 1.001, "shuffle_sf01_mb": 0.0, "shuffle_x10_mb": 0.0, "shuffle_slope": 0.0}""",
      100 -> """{"sf01_sec": 0.684, "x100_sec": 5.886, "ratio": 8.61, "slope": 0.467, "shuffle_sf01_mb": 1.3, "shuffle_x100_mb": 246.6, "shuffle_slope": 1.139}""",
      1000 -> """{"sf01_sec": 0.638, "x1000_sec": 7.957, "slope": 0.365, "shuffle_sf01_mb": 0.0, "shuffle_x1000_mb": 3.9, "shuffle_slope": 0.915}""")
    for ((reps, row) <- committed)
      assert(keys(ScaleCheck.Row(1.0, 2.0, 1000L, 4000L).json(reps)) == keys(row), s"x$reps")
    // op_type_fuzz shuffles nothing at either scale: the slope is 0, not NaN
    val zero = ScaleCheck.Row(6.712, 67.281, 0L, 0L).json(10)
    assert(zero.contains(""""shuffle_slope":0.000"""), zero)
    assert(zero.contains(""""slope":1.001"""), zero)
    val x100 = ScaleCheck.Row(0.684, 5.886, 1300000L, 246600000L).json(100)
    assert(x100.contains(""""ratio":8.61,"slope":0.467"""), x100)
  }

  test("bench timing reports a throwing query as failed, not as a sample") {
    val ok: Bench.Query = (s, _) => s.range(3).toDF("x")
    val throwsOnPlan: Bench.Query = (_, _) => throw new IllegalStateException("no plan")
    val throwsOnRun: Bench.Query = (s, _) => s.range(3).selectExpr("raise_error('boom') AS e")
    val order = Seq("ok" -> ok, "plan" -> throwsOnPlan, "run" -> throwsOnRun)
    val (samples, failed) = Bench.timePasses(spark, TestSpark.sfDir, Seq(order, order.reverse))
    assert(failed == Seq("plan", "run"))
    assert(samples.map(_.keySet) == Seq(Set("ok"), Set("ok")))
  }
}
