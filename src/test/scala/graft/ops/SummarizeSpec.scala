package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SummarizeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", "x", 1.0, true),
    ("a", "y", 2.0, false),
    ("b", "x", 3.0, true),
    ("b", "y", 4.0, true),
    ("b", "y", 5.0, false)
  ).toDF("cat1", "cat2", "v", "flag")

  test("summarize produces All + per-category rows with correct values") {
    val out = Summarize.summarize(df,
      aggs = Seq(AggSpec.sum, AggSpec.count),
      metrics = Seq("v" -> "v"),
      cats = Seq("cat1" -> "C1", "cat2" -> "C2"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    // global
    assert(rows.contains(("All", "All", "sum", 15.0)))
    assert(rows.contains(("All", "All", "count", 5.0)))
    // per category
    assert(rows.contains(("C1", "a", "sum", 3.0)))
    assert(rows.contains(("C1", "b", "sum", 12.0)))
    assert(rows.contains(("C2", "x", "count", 2.0)))
    assert(rows.contains(("C2", "y", "count", 3.0)))
    // shape: (1 global + 2 + 2 category values) × 2 aggs
    assert(out.count() == 10)
    assert(out.columns.toSeq == Seq("Division", "DivisionCategory", "aggregation", "v"))
  }

  test("summarize equals the reference's window+distinct formulation") {
    // reference semantics (utils.scala:204-218): window agg per category + distinct
    val winPath = df.select(lit("C1").as("Division"), $"cat1".cast("string").as("DivisionCategory"),
        lit("sum").as("aggregation"),
        sum($"v").over(org.apache.spark.sql.expressions.Window.partitionBy($"cat1"))
          .cast("double").as("v"))
      .distinct()
    val enginePath = Summarize.summarize(df, Seq(AggSpec.sum), Seq("v" -> "v"),
      Seq("cat1" -> "C1")).where($"Division" === "C1")
    assert(winPath.collect().toSet == enginePath.collect().toSet)
  }

  test("countTrues ignores nulls and counts trues") {
    val d2 = Seq(Some(true), Some(true), Some(false), None).toDF("flag")
    val out = Summarize.summarize(d2, Seq(AggSpec.countTrues),
      Seq("flag" -> "flag"), cats = Seq.empty)
    assert(out.collect().head.getDouble(3) == 2.0)
  }

  test("median is the exact interpolated percentile") {
    val d2 = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val out = Summarize.summarize(d2, Seq(AggSpec.median), Seq("v" -> "v"), Seq.empty)
    assert(out.collect().head.getDouble(3) == 2.5)
  }

  test("null category values group separately from All") {
    val d2 = Seq((Some("a"), 1.0), (None, 2.0)).toDF("c", "v")
    val out = Summarize.summarize(d2, Seq(AggSpec.sum), Seq("v" -> "v"), Seq("c" -> "C"))
    val rows = out.collect().map(r => (r.getString(0), Option(r.getString(1)), r.getDouble(3))).toSet
    assert(rows.contains(("All", Some("All"), 3.0)))
    assert(rows.contains(("C", Some("a"), 1.0)))
    assert(rows.contains(("C", None, 2.0))) // real null category ≠ "All"
  }

  test("summarizeAll gives every spec's own summarize table from one collect") {
    val specs = Seq(
      (Seq(AggSpec.sum, AggSpec.count), Seq("v" -> "v"), Seq("cat1" -> "C1", "cat2" -> "C2")),
      (Seq(AggSpec.median), Seq("v" -> "m"), Seq("cat2" -> "C2")),
      (Seq(AggSpec.countTrues), Seq("flag" -> "f"), Seq("cat1" -> "C1")),
      (Seq(AggSpec.max), Seq("v" -> "v"), Seq.empty[(String, String)]))
    val (jobs, all) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      Summarize.summarizeAll(df, specs.map { case (a, m, c) =>
        Summarize.Spec(a, m.map { case (in, out) => col(in) -> out }, c) },
        totals = Seq((AggSpec.min, $"v", "vMin"))))
    assert(jobs <= 2, s"$jobs jobs") // the aggregation's shuffle map stage and its collect
    specs.zip(all.tables).foreach { case ((a, m, c), table) =>
      val want = Summarize.summarize(df, a, m, c)
      assert(table.schema == want.schema)
      assert(table.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
      assert(table.rdd.getNumPartitions == 1)
    }
    assert(all.all.getAs[Double]("vMin") == 1.0)
  }

  test("summarizeAll on an empty input keeps the All row of tables without categories") {
    val empty = df.limit(0)
    val specs = Seq(
      Summarize.Spec(Seq(AggSpec.count, AggSpec.sum), Seq($"v" -> "v")),
      Summarize.Spec(Seq(AggSpec.count), Seq($"v" -> "v"), Seq("cat1" -> "C1")))
    val out = Summarize.summarizeAll(empty, specs, totals = Seq((AggSpec.max, $"v", "vMax")))
    assert(out.tables.map(_.collect().toSeq) == Seq(
      Summarize.summarize(empty, Seq(AggSpec.count, AggSpec.sum), Seq("v" -> "v"), Seq.empty).collect().toSeq,
      Summarize.summarize(empty, Seq(AggSpec.count), Seq("v" -> "v"), Seq("cat1" -> "C1")).collect().toSeq))
    assert(out.tables.map(_.count()) == Seq(2L, 0L))
    assert(out.all.isNullAt(out.all.fieldIndex("vMax")))
  }
}
