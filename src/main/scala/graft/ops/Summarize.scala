package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericRowWithSchema}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{array, col, explode, grouping, lit, struct, when}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}

/** Named aggregation functions for the summary engine (SURVEY §2.5 A1-A6).
  *
  * The reference builds its median by constructing the internal Catalyst
  * `ApproximatePercentile` node directly (`utils.scala:226-234`); the public
  * `percentile` / `percentile_approx` functions cover that since Spark 3.1 —
  * no internal-API poke, and the expression stays codegen-friendly.
  */
final case class AggSpec(name: String, fn: Column => Column)

object AggSpec {
  val sum: AggSpec = AggSpec("sum", F.sum)
  /** Exact interpolated median (`utils.scala:226-234,240`). Exact `percentile`
    * matches the DuckDB oracle's `quantile_cont`; at very large scale swap to
    * [[approxMedian]] (t-digest sketch, constant memory per group). */
  val median: AggSpec = AggSpec("median", c => F.percentile(c, lit(0.5)))
  def approxMedian(accuracy: Int = 10000): AggSpec =
    AggSpec("median", c => F.percentile_approx(c, lit(0.5), lit(accuracy)))
  val min: AggSpec = AggSpec("min", F.min)
  val max: AggSpec = AggSpec("max", F.max)
  /** Non-null count (`utils.scala:247`). */
  val count: AggSpec = AggSpec("count", F.count)
  /** Count of `true` in a boolean column, nulls ignored — the reference's
    * `regexp_replace`-through-strings trick (`utils.scala:243`) reduced to
    * `count_if`. */
  val countTrues: AggSpec = AggSpec("countTrues", c => F.count_if(c.cast("boolean")))
  val avg: AggSpec = AggSpec("avg", F.avg)
}

/** The categorized-aggregation "summary engine" — the reference's centerpiece
  * (`createTableCategorized` + `setModificationToCol`, `utils.scala:183-220`).
  *
  * Semantics: for aggregations × metrics × ({All} ++ categories), emit one row
  * per (category value, aggregation name) with output schema
  * `Division, DivisionCategory, aggregation, <metric columns>`.
  *
  * The reference computes this as a window-aggregate-per-category followed by
  * `.distinct()` (`utils.scala:188,209`) — one full shuffle per category per
  * aggregation, plus a distinct shuffle to collapse duplicated rows: O(cats ×
  * aggs) passes over the data.
  *
  * Here it is a single `GROUPING SETS ((), (cat1), (cat2), …)` pass: ONE
  * shuffle over the input computes every aggregation × metric at once (partial
  * aggregation map-side, so the shuffle carries only group states, not rows),
  * and the aggregation-name dimension is unpivoted afterwards on the tiny
  * aggregated result. [[summarizeAll]] goes one step further for a cohort
  * with many tables: one pass and one collect for all of them, each table
  * then the same unpivot done on the driver over its own collected rows.
  */
object Summarize {

  /** One summary table: every aggregation × metric cell over `{All} ++ cats`.
    *
    * @param metrics (cell input, outputName) pairs; the input is any column
    *                expression over the frame (a cast, a derived flag)
    * @param cats    (categoryColumn, divisionLabel) pairs; the label is what
    *                the reference passes as the human-readable division name
    */
  final case class Spec(aggs: Seq[AggSpec], metrics: Seq[(Column, String)],
      cats: Seq[(String, String)] = Seq.empty) {
    require(aggs.nonEmpty && metrics.nonEmpty, "need at least one aggregation and metric")
  }

  /** The tables of [[summarizeAll]] in spec order, and the aggregate's All
    * row, which carries the `totals` cells under their own names. */
  final case class Summaries(tables: Seq[DataFrame], all: Row)

  /** One table as a lazy plan.
    *
    * @param metrics (inputColumn, outputName) pairs
    */
  def summarize(
      df: DataFrame,
      aggs: Seq[AggSpec],
      metrics: Seq[(String, String)],
      cats: Seq[(String, String)]): DataFrame = {
    val spec = Spec(aggs, metrics.map { case (m, out) => col(m) -> out }, cats)
    unpivot(aggregate(df, cats.map(_._1), cells(spec, "")), spec, "")
  }

  /** Several tables of ONE cohort from ONE aggregation: a single
    * `GROUPING SETS` pass over the union of the specs' category sets
    * computes every spec's cells, plus the `totals` cells (aggregation,
    * input, name), and is collected once. It has at most Σ category
    * cardinalities + 1 rows. Each table is then [[summarize]]'s unpivot of
    * the rows of its own grouping sets, done on the driver
    * ([[unpivotRows]]) and returned as a local relation in one partition:
    * writing or collecting it plans no explode, struct or `when`, so it
    * compiles no code of its own. A cell of a category group depends only
    * on that group's rows, so every table holds what its own [[summarize]]
    * gives. */
  def summarizeAll(df: DataFrame, specs: Seq[Spec],
      totals: Seq[(AggSpec, Column, String)] = Seq.empty): Summaries = {
    val catNames = specs.flatMap(_.cats.map(_._1)).distinct
    val cellCols = specs.zipWithIndex.flatMap { case (s, i) => cells(s, s"t${i}__") } ++
      totals.map { case (a, c, out) => a.fn(c).cast("double").as(out) }
    val grouped = aggregate(df, catNames, cellCols)
    val rows = collectInterpreted(grouped)
    def outside(r: Row, c: String) = r.getAs[Number](flag(c)).intValue == 1
    // an empty input yields no grouping-sets row, but a table without
    // categories (and the totals) still gets the global aggregate's one
    // All row, as `summarize` gives it
    val all = rows.find(r => catNames.forall(outside(r, _))).getOrElse {
      val cellsOfEmpty = aggregate(df.limit(0), Seq.empty, cellCols).head()
      new GenericRowWithSchema(grouped.columns.map { n =>
        if (catNames.contains(n)) null
        else if (catNames.exists(flag(_) == n)) 1.toByte
        else cellsOfEmpty.getAs[Any](n)
      }, grouped.schema)
    }
    val spark = df.sparkSession
    val timeZone = spark.sessionState.conf.sessionLocalTimeZone
    val tables = specs.zipWithIndex.map { case (s, i) =>
      val own = s.cats.map(_._1)
      val mine = if (own.isEmpty) Seq(all)
        else rows.filter(r => catNames.filterNot(own.contains).forall(outside(r, _)))
      val (out, schema) = unpivotRows(mine, grouped.schema, s, s"t${i}__", timeZone)
      spark.createDataFrame(out.asJava, schema).coalesce(1)
    }
    Summaries(tables, all)
  }

  /** `df.collect()` without the encoder's generated deserializer: the plan
    * runs under its own SQL execution, as `collect` runs it, and its
    * `UnsafeRow`s become `Row`s through Catalyst's interpreted converters,
    * so the collect compiles no projection class for the cohort's wide
    * one-off row layout. */
  private def collectInterpreted(df: DataFrame): Seq[Row] = {
    val qe = df.queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      .map(r => toRow(r).asInstanceOf[Row]).toSeq
  }

  /** [[unpivot]] over collected rows of `schema`, on the driver: the same
    * rows in the same order (each input row, then `spec.aggs` in order) and
    * the same schema, nullability included. A category value becomes its
    * string through Catalyst's own `Cast` in `timeZone`, as the plan casts
    * it. */
  private[ops] def unpivotRows(rows: Seq[Row], schema: StructType, spec: Spec,
      prefix: String, timeZone: String): (Seq[Row], StructType) = {
    val cats = spec.cats.map { case (c, label) =>
      (schema.fieldIndex(flag(c)), label, schema.fieldIndex(c), castToString(schema(c).dataType, timeZone))
    }
    val cells = spec.aggs.map(a => a.name -> spec.metrics.map { case (_, out) =>
      schema.fieldIndex(s"$prefix${a.name}__$out") })
    val out = for {
      r <- rows
      (division, category) = cats.find { case (f, _, _, _) => r.getAs[Number](f).intValue == 0 }
        .map { case (_, label, c, str) => (label, str(r.get(c))) }
        .getOrElse(("All", "All"))
      (agg, is) <- cells
    } yield Row.fromSeq(division +: category +: agg +: is.map(r.get))
    // the plan's nullability: its `when` chains are nullable only through a
    // nullable category column, and the exploded struct array merges each
    // metric's nullability over the aggregations
    val metricFields = spec.metrics.map { case (_, out) =>
      StructField(out, DoubleType,
        spec.aggs.exists(a => schema(s"$prefix${a.name}__$out").nullable))
    }
    (out, StructType(
      StructField("Division", StringType, nullable = false) +:
      StructField("DivisionCategory", StringType, spec.cats.exists(c => schema(c._1).nullable)) +:
      StructField("aggregation", StringType, nullable = false) +: metricFields))
  }

  /** An external value of type `dt` → `cast(value AS STRING)`. */
  private def castToString(dt: DataType, timeZone: String): Any => String = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val cast = Cast(BoundReference(0, dt, nullable = true), StringType, Some(timeZone))
    v => Option(cast.eval(InternalRow(toCatalyst(v)))).map(_.toString).orNull
  }

  private[ops] def flag(c: String) = s"__grouping__$c"

  /** Every (agg, metric) cell of `spec`, cast to double so the unpivot
    * unions type-uniform columns (count:Long vs sum:Double etc.). */
  private def cells(spec: Spec, prefix: String): Seq[Column] =
    for { a <- spec.aggs; (m, out) <- spec.metrics }
      yield a.fn(m).cast("double").as(s"$prefix${a.name}__$out")

  /** `GROUPING SETS ((), (cat1), (cat2), …)` with a grouping() flag per
    * category, which tells "category value is NULL" from "column not in
    * this grouping set". `cube`/`rollup` would be wrong — the reference
    * never produces cross-category combinations, only single-category
    * sets. */
  private def aggregate(df: DataFrame, catNames: Seq[String], cells: Seq[Column]): DataFrame = {
    val exprs = cells ++ catNames.map(c => grouping(col(c)).as(flag(c)))
    // the empty set = the reference's global "All" branch (utils.scala:211-218)
    if (catNames.isEmpty) df.agg(exprs.head, exprs.tail: _*)
    else df.groupingSets(Seq.empty[Column] +: catNames.map(c => Seq(col(c))),
      catNames.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** `Division, DivisionCategory, aggregation, <metrics>` over an aggregate
    * carrying `spec`'s cells under `prefix` and its categories' flags. */
  private[ops] def unpivot(grouped: DataFrame, spec: Spec, prefix: String): DataFrame = {
    val division =
      spec.cats.foldRight(lit("All")) { case ((c, label), rest) =>
        when(col(flag(c)) === 0, lit(label)).otherwise(rest)
      }.as("Division")
    val divisionCategory =
      spec.cats.foldRight(lit("All")) { case ((c, _), rest) =>
        when(col(flag(c)) === 0, col(c).cast("string")).otherwise(rest)
      }.as("DivisionCategory")

    // unpivot aggregation names via explode — ONE projection over the
    // aggregated frame (a union of per-agg projections would re-execute the
    // grouping-sets subplan once per aggregation unless exchange reuse
    // happens to kick in)
    val structs = spec.aggs.map { a =>
      struct(lit(a.name).as("aggregation") +:
        spec.metrics.map { case (_, out) => col(s"$prefix${a.name}__$out").as(out) }: _*)
    }
    grouped
      .select(division, divisionCategory, explode(array(structs: _*)).as("__r"))
      .select(col("Division") +: col("DivisionCategory") +:
        col("__r.aggregation").as("aggregation") +:
        spec.metrics.map { case (_, out) => col(s"__r.$out").as(out) }: _*)
  }
}
