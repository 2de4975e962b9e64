package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  test("the driver-side unpivot equals the Catalyst unpivot: rows, order, schema and nullability") {
    // a hand-made grouping-sets result: one category column per type, each
    // with a NULL value row, the flags `grouping()` gives (ByteType), a
    // nullable and a non-nullable cell per aggregation
    val date = java.sql.Date.valueOf("2021-03-04")
    val ts = java.sql.Timestamp.valueOf("2021-03-04 05:06:07.089")
    val cats = Seq(
      ("s", StringType, "text"), ("i", IntegerType, 42), ("b", BooleanType, true),
      ("d", DoubleType, 1.0e-7), ("dt", DateType, date), ("ts", TimestampType, ts),
      ("k", StringType, "kept"))
    val cells = Seq("sum", "count").flatMap(a => Seq(s"p__${a}__v", s"p__${a}__w"))
    val schema = StructType(
      cats.map { case (c, t, _) => StructField(c, t, nullable = c != "k") } ++
      cats.map { case (c, _, _) => StructField(Summarize.flag(c), ByteType, nullable = false) } ++
      cells.map(n => StructField(n, DoubleType, nullable = !n.endsWith("count__w"))))
    // row j groups by category j (value, then NULL); the last row is All.
    // A column outside a row's grouping set holds NULL, or "kept" where
    // the column is not nullable
    def outside(i: Int) = if (cats(i)._1 == "k") "kept" else null
    val rows = (for {
      ((_, _, v), j) <- cats.zipWithIndex
      value <- if (cats(j)._1 == "k") Seq(v) else Seq(v, null)
    } yield Row.fromSeq(cats.indices.map(i => if (i == j) value else outside(i)) ++
      cats.indices.map(i => (if (i == j) 0 else 1).toByte) ++
      cells.indices.map(k => if (value == null && k == 0) null else (10 * j + k).toDouble))) :+
      Row.fromSeq(cats.indices.map(outside) ++ cats.map(_ => 1.toByte) ++ cells.indices.map(_.toDouble))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
    def spec(c: Seq[String]) = Summarize.Spec(Seq(AggSpec.sum, AggSpec.count),
      Seq(col("v") -> "v", col("w") -> "w"), c.map(n => n -> s"L$n"))
    for (c <- cats.map(_._1).map(Seq(_)) ++ Seq(cats.map(_._1), Seq("k"), Seq.empty)) {
      val (got, gotSchema) = Summarize.unpivotRows(rows, schema, spec(c), "p__", tz)
      val want = Summarize.unpivot(local, spec(c), "p__")
      assert(gotSchema == want.schema, s"cats $c") // StructType equality compares nullability
      assert(got == want.collect().toSeq, s"cats $c")
    }
  }

  test("summarizeAll's tables equal the Catalyst unpivot for every category type") {
    val typed = Seq(
      (Some("a"), Some(1), Some(true), Some(0.1), Some(java.sql.Date.valueOf("2020-01-02")), 1.0),
      (Some("a"), Some(2), Some(false), Some(0.1), None, 2.0),
      (None, None, None, None, Some(java.sql.Date.valueOf("2020-01-02")), 3.0),
      (Some("b"), Some(2), Some(true), Some(1e21), Some(java.sql.Date.valueOf("1999-12-31")), 4.0))
      .toDF("s", "i", "b", "d", "dt", "v")
    val specs = Seq(
      Summarize.Spec(Seq(AggSpec.sum, AggSpec.count, AggSpec.median), Seq($"v" -> "v"),
        Seq("s" -> "S", "i" -> "I", "b" -> "B", "d" -> "D", "dt" -> "DT")),
      Summarize.Spec(Seq(AggSpec.count), Seq($"v" -> "n"), Seq("dt" -> "DT")),
      Summarize.Spec(Seq(AggSpec.min, AggSpec.max), Seq($"v" -> "v", $"v".cast("int") -> "vi")))
    val out = Summarize.summarizeAll(typed, specs)
    specs.zip(out.tables).foreach { case (s, table) =>
      val want = Summarize.summarize(typed.select(typed.columns.map(col) ++
        Seq($"v".as("n"), $"v".cast("int").as("vi")): _*), s.aggs,
        s.metrics.map(m => m._2 -> m._2), s.cats)
      assert(table.schema == want.schema)
      assert(table.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
      // collected-row order × aggregation order
      assert(table.collect().map(_.getString(2)).grouped(s.aggs.size)
        .forall(_.toSeq == s.aggs.map(_.name)))
    }
    assert(out.tables(2).schema("Division").nullable == false)
    assert(out.tables(2).schema("DivisionCategory").nullable == false)
  }
}
