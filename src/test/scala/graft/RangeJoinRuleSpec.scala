package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftExtensions
import graft.plans.RangeJoinRewrite

/** The interval-containment optimizer rule: a theta join Spark would
  * nested-loop must re-plan as a bucketed equi-join WITHOUT changing
  * results, and must leave non-matching joins alone. Every
  * `GraftSession` installs the rule, so the specs' session has it. */
class RangeJoinRuleSpec extends SparkSpec {

  import spark.implicits._

  private def points = (1 to 2000)
    .map(i => (i.toLong, (i % 97).toDouble + i * 0.001)).toDF("id", "p")
  private def intervals = (1 to 50)
    .map(i => (i.toLong, (i % 13) * 7.0)).toDF("rid", "lo")

  test("interval theta join rewrites to an equi-join with equal results") {
    // the baseline without the rule, which goes back in the finally
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == RangeJoinRewrite)
    try {
      val naive = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("lo") + 5.0)
      // without the rule: a nested loop
      assert(naive.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      val expected = naive.select("id", "rid").as[(Long, Long)]
        .collect().toSet
      assert(expected.nonEmpty)

      GraftExtensions.register(spark)
      val rewritten = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("lo") + 5.0)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rule did not fire:\n$plan")
      val got = rewritten.select("id", "rid").as[(Long, Long)]
        .collect().toSet
      assert(got === expected)
    } finally GraftExtensions.register(spark)
  }

  test("rule fires for reversed operand order and strict bounds") {
    // lo <= p (reversed) and strict upper; literal on the left of +
    val df = intervals.join(points,
      col("lo") <= col("p") && col("p") < lit(5.0) + col("lo"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val naive = intervals.crossJoin(points)
      .where(col("lo") <= col("p") && col("p") < lit(5.0) + col("lo"))
      .select("rid", "id").as[(Long, Long)].collect().toSet
    val got = df.select("rid", "id").as[(Long, Long)].collect().toSet
    assert(got === naive && got.nonEmpty)
  }

  test("joins with an existing cross-side equality are left untouched") {
    val l = Seq((1L, "a", 1.0), (2L, "b", 8.0)).toDF("id", "k", "p")
    val r = Seq(("a", 0.0, 10L), ("b", 100.0, 20L)).toDF("k", "lo", "rid")
    val df = l.join(r, l("k") === r("k") &&
      col("p") >= col("lo") && col("p") <= col("lo") + 10.0)
    // equi-join already: the rule must not add a Generate/explode
    assert(!df.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(df.select("id", "rid").as[(Long, Long)].collect().toSet
      === Set((1L, 10L)))
  }

  test("long-typed points are not rewritten (52-bit bucket guard)") {
    val l = Seq(Tuple1(5L)).toDF("p")
    val r = Seq(Tuple1(0L)).toDF("lo")
    val df = l.join(r, col("p") >= col("lo") && col("p") <= col("lo") + 10L)
    assert(!df.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(df.count() === 1)
  }
}
