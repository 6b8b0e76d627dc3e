package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the behavior-analytics battery: the scale
  * arguments in BehaviorQueries' scaladoc (one user_id shuffle per
  * per-user stage chain, map-side top-k pruning for the tf/df rank) are
  * asserted here, so a refactor that silently adds a second user shuffle
  * or loses the WindowGroupLimit prune fails a test, not a 100 TB run. */
class BehaviorPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.queryMap(name)(spark, sf).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("funnel: all three stage windows share ONE user_id exchange") {
    val p = plan("funnel_conversion")
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 1,
      s"funnel should shuffle events by user exactly once:\n$p")
  }

  test("cohort retention: one user window + keyed distinct/rollup only") {
    val p = plan("cohort_retention")
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 1,
      s"cohort week should come from one user window:\n$p")
    // distinct + final rollup are the only other exchanges
    assert(countOf(p, "Exchange hashpartitioning") <= 3, p)
  }

  test("transitions: one ordered user window feeds the 25-row rollup") {
    // the window runs once, in the pair build the three Markov gates share
    val build = graft.queries.BehaviorQueries.eventPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(countOf(build, "Exchange hashpartitioning\\(user_id") == 1, build)
    // the gate reads the pinned pairs and never re-shuffles by user
    val p = plan("event_transitions")
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 0, p)
  }

  test("twap: lead window and rollup share ONE user_id exchange") {
    val p = plan("timeseries_twap")
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 1,
      s"LOCF weighting + rollup should shuffle by user exactly once:\n$p")
  }

  test("interval islands: both windows and the rollup share ONE user exchange") {
    val p = plan("interval_merge_islands")
    assert(countOf(p, "Exchange hashpartitioning\\(user_id") == 1,
      s"running max, island counter and rollup should share one shuffle:\n$p")
  }

  test("tfidf: per-doc rank is WindowGroupLimit-pruned map-side") {
    val p = plan("text_tfidf_topk")
    assert(p.contains("WindowGroupLimit"),
      s"row_number<=k should prune before the doc shuffle:\n$p")
  }
}
