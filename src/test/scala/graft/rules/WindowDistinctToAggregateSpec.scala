package graft.rules

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

class WindowDistinctToAggregateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1.0, 10), ("a", 2.0, 20), ("b", 3.0, 30), ("b", 4.0, 40), ("c", 5.0, 50)
  ).toDF("k", "v", "w")

  private def rewrite(q: DataFrame): (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean) = {
    // apply to the OPTIMIZED plan — the shape an injected optimizer rule
    // sees (Distinct is already a dedup-Aggregate by then)
    val out = WindowDistinctToAggregate(q.queryExecution.optimizedPlan)
    (out, out.collectFirst { case w: LWindow => w }.isEmpty &&
      out.collectFirst { case a: Aggregate => a }.isDefined)
  }

  test("rewrites the eligible pattern and preserves results") {
    val q = df.select($"k",
        sum($"v").over(Window.partitionBy($"k")).as("total"),
        count(lit(1)).over(Window.partitionBy($"k")).as("n"))
      .distinct()
    val (plan, rewritten) = rewrite(q)
    assert(rewritten, plan.toString)
    val got = Bridge.ofRows(spark, plan).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val expected = q.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got == Set(("a", 3.0, 2L), ("b", 7.0, 2L), ("c", 5.0, 1L)))
  }

  test("NOT rewritten when a partition key is missing from the projection") {
    // partitionBy(k, w) but only k projected: DISTINCT may merge across w
    val q = df.select($"k",
        sum($"v").over(Window.partitionBy($"k", $"w")).as("total"))
      .distinct()
    val (_, rewritten) = rewrite(q)
    assert(!rewritten)
  }

  test("NOT rewritten for ordered windows (running aggregates)") {
    val q = df.select($"k",
        sum($"v").over(Window.partitionBy($"k").orderBy($"v")).as("running"))
      .distinct()
    val (_, rewritten) = rewrite(q)
    assert(!rewritten)
  }

  test("NOT rewritten for ranking functions") {
    val q = df.select($"k",
        row_number().over(Window.partitionBy($"k").orderBy($"v")).as("rn"))
      .distinct()
    val (_, rewritten) = rewrite(q)
    assert(!rewritten)
  }

  test("w1-style query over real data: rewrite ≡ original") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val q = li.select($"l_returnflag",
        sum($"l_quantity").over(Window.partitionBy($"l_returnflag")).as("qty_total"))
      .distinct()
    val (plan, rewritten) = rewrite(q)
    assert(rewritten)
    assert(Bridge.ofRows(spark, plan).collect().map(_.toSeq).toSet ==
      q.collect().map(_.toSeq).toSet)
  }
}
