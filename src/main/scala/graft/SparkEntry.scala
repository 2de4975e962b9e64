package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{AggSpec, Cleaning, Cohort, Quality, Summarize}
import graft.dedup.Dedup
import graft.sim.Embeddings
import graft.stats.{AssociationRules, FDR, Fisher, PermutationTest, Roc}
import graft.text.TextOps

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` where the operator is
  * SQL-expressible (non-expressible ops get a weaker rows-only check).
  *
  * Hash-match discipline (driver compares value hashes after sorting columns
  * by name): every aggregate/computed column is aliased identically on both
  * sides; money sums go through DECIMAL(18,2) so both engines sum exactly and
  * cast the same exact value to double; medians use exact interpolating
  * `percentile` ≡ DuckDB `quantile_cont`; every query ORDER BYs its keys.
  */
object SparkEntry {

  /** Exact sum for 2-decimal money columns: decimal accumulate (order-
    * independent, no FP drift) then cast to double and round — both engines
    * produce bit-identical results. */
  private def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 2)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Cent-long derivation for a 2-decimal money/value column — integral
    * doubles keep Summarize sums exact across engines (the q10 doctrine). */
  private def centsOf(c: Column): Column =
    (c.cast("decimal(12,2)") * 100).cast("long")

  /** g-family output shape: the Summarize frame projected to
    * (Division, DivisionCategory, aggregation, round(metric, 3)…),
    * fully ordered — the q2 hash-match discipline. */
  private def gProject(res: DataFrame, outs: Seq[String]): DataFrame =
    res.select(col("Division") +: col("DivisionCategory") +: col("aggregation") +:
        outs.map(o => round(col(o), 3).as(o)): _*)
      .orderBy(col("Division"), col("DivisionCategory"), col("aggregation"))

  /** DuckDB GROUPING-SETS replay builder for the g-family — the SQL twin
    * of [[graft.ops.Summarize.summarize]] over a derived FROM clause.
    * `metrics` are (column-in-`from`, outName) pairs; `cats` are
    * (column-in-`from`, divisionLabel). Single-category sets plus the
    * global () set, agg names unpivoted as UNION ALL arms, everything
    * CAST to DOUBLE and rounded to 3 like the Spark projection. */
  private def summarizeOracleSql(from: String, aggs: Seq[String],
      metrics: Seq[(String, String)], cats: Seq[(String, String)]): String = {
    def cell(a: String, e: String): String = a match {
      case "sum"        => s"CAST(sum($e) AS DOUBLE)"
      case "median"     => s"CAST(quantile_cont($e, 0.5) AS DOUBLE)"
      case "min"        => s"CAST(min($e) AS DOUBLE)"
      case "max"        => s"CAST(max($e) AS DOUBLE)"
      case "count"      => s"CAST(count($e) AS DOUBLE)"
      case "countTrues" => s"CAST(count(*) FILTER (WHERE $e) AS DOUBLE)"
      case other        => sys.error(s"no oracle cell for aggregation $other")
    }
    val cellCols = (for { a <- aggs; (e, out) <- metrics }
      yield s"${cell(a, e)} AS ${a}__$out").mkString(",\n                  ")
    val (division, divisionCategory) =
      if (cats.isEmpty) ("'All' AS Division", "'All' AS DivisionCategory")
      else {
        val d = cats.map { case (c, label) =>
          s"WHEN GROUPING($c) = 0 THEN '$label'" }.mkString(" ")
        val dc = cats.map { case (c, _) =>
          s"WHEN GROUPING($c) = 0 THEN CAST($c AS VARCHAR)" }.mkString(" ")
        (s"CASE $d ELSE 'All' END AS Division",
         s"CASE $dc ELSE 'All' END AS DivisionCategory")
      }
    val groupBy =
      if (cats.isEmpty) ""
      else "\n           GROUP BY GROUPING SETS ((), " +
        cats.map("(" + _._1 + ")").mkString(", ") + ")"
    val arms = aggs.map { a =>
      s"SELECT Division, DivisionCategory, '$a' AS aggregation, " +
        metrics.map { case (_, out) => s"${a}__$out AS $out" }.mkString(", ") +
        " FROM g"
    }.mkString("\n           UNION ALL ")
    val outs = metrics.map { case (_, out) => s"round($out, 3) AS $out" }
      .mkString(", ")
    s"""WITH g AS (
           SELECT $division,
                  $divisionCategory,
                  $cellCols
           FROM $from$groupBy)
         SELECT Division, DivisionCategory, aggregation, $outs FROM (
           $arms)
         ORDER BY Division, DivisionCategory, aggregation"""
  }

  /** r73's Bonferroni-adjusted two-sided critical value for m = 10 pairs
    * at α = 0.05: z_{α/(2m)} = Φ⁻¹(1 − 0.0025) — one deterministic JVM
    * constant, identical in the plan and the SQL replay. */
  private val r73CritZ: Double = graft.stats.Normal.quantile(1.0 - 0.05 / 20.0)

  /** Fixed IVF probe centroids (n5): 8 centroids × dim 64, values
    * (((c·13 + j·5) mod 11) − 5)/8 — dyadic rationals whose 3-decimal
    * literals parse to identical doubles in Spark and DuckDB. */
  private lazy val ivfFixedCentroids: Array[(Int, Seq[Double])] =
    Array.tabulate(8)(c => (c, Seq.tabulate(64)(j => (((c * 13 + j * 5) % 11) - 5) / 8.0)))

  /** The same centroids as a DuckDB VALUES list literal. */
  private lazy val ivfCentroidValues: String = ivfFixedCentroids.map {
    case (cid, v) => s"($cid, [${v.map(x => f"$x%.3f").mkString(", ")}])"
  }.mkString(",\n           ")

  /** Fixed MIPS centroids (n24): 8 centroids × dim 65 (the augmented
    * space), same dyadic formula as [[ivfFixedCentroids]]. */
  private lazy val mipsFixedCentroids: Array[(Int, Seq[Double])] =
    Array.tabulate(8)(c => (c, Seq.tabulate(65)(j => (((c * 13 + j * 5) % 11) - 5) / 8.0)))

  private lazy val mipsCentroidValues: String = mipsFixedCentroids.map {
    case (cid, v) => s"($cid, [${v.map(x => f"$x%.3f").mkString(", ")}])"
  }.mkString(",\n           ")

  /** Fixed PQ codebooks (n6): 4 subspaces × 8 centroids × subdim 16,
    * dyadic values (((c·7 + m·3 + j·5) mod 9) − 4)/8 whose 3-decimal
    * literals parse to identical doubles in Spark and DuckDB. */
  private lazy val pqFixedCodebooks: Array[Array[(Int, Seq[Double])]] =
    Array.tabulate(4)(m => Array.tabulate(8)(c =>
      (c, Seq.tabulate(16)(j => (((c * 7 + m * 3 + j * 5) % 9) - 4) / 8.0))))

  /** The same codebooks as a DuckDB VALUES list literal: (m, cid, cvec). */
  private lazy val pqCodebookValues: String =
    (for { m <- 0 until pqFixedCodebooks.length; (cid, v) <- pqFixedCodebooks(m) }
      yield s"($m, $cid, [${v.map(x => f"$x%.3f").mkString(", ")}])")
      .mkString(",\n           ")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Multi-join +
    * aggregation: revenue per nation (broadcast dims, shuffled fact join). */
  def entry(spark: SparkSession): DataFrame =
    revenuePerNation(spark, "/root/testdata/sf0.001")

  private def revenuePerNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        ).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.5 A1-A6: plain grouped aggregation --------------------------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- §2.2 P1/P4: projection + predicate filter ----------------------
    "p1_project_filter" -> ((s, dir) => {
      Cleaning.selectColumns(
        t(s, dir, "orders")
          .where(col("o_orderstatus").isNotNull && col("o_totalprice") > 100000),
        Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.2 P2: advancedCasting (conditional cast-projection) ---------
    "p2_cast_project" -> ((s, dir) => {
      val base = Cleaning.selectColumns(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
      val cast1 = Cleaning.advancedCasting(base, Seq("l_quantity"), "int")
      Cleaning.advancedCasting(cast1, Seq("l_shipdate"), "date")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- §2.2 P3: boolean normalization from strings --------------------
    "p3_boolean_normalize" -> ((s, dir) => {
      val base = Cleaning.selectColumns(t(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus"))
      Cleaning.booleanFromString(base, "o", Seq("o_orderstatus"))
        .withColumnRenamed("o_orderstatus", "is_open")
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.5: the categorized-aggregation summary engine ---------------
    "q2_summary_engine" -> ((s, dir) => {
      val res = Summarize.summarize(
        t(s, dir, "lineitem"),
        aggs = Seq(AggSpec.sum, AggSpec.median, AggSpec.min, AggSpec.max, AggSpec.count),
        metrics = Seq("l_quantity" -> "qty"),
        cats = Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus"))
      res.select(col("Division"), col("DivisionCategory"), col("aggregation"),
          round(col("qty"), 3).as("qty"))
        .orderBy(col("Division"), col("DivisionCategory"), col("aggregation"))
    }),

    // ---- §2.5 the 18 summary-table instantiations (g-family) ------------
    // The reference's actual query corpus (dataSummaries1.scala:96-558):
    // every createTableCategorized spec re-expressed over the testdata
    // tables with the SAME aggregations × metric arity × category sets,
    // each one grouping-sets pass through Summarize (or the cross-cohort
    // rewrite through Cohort.crossCohortAgg), DuckDB GROUPING SETS replay.
    // Metric derivations mirror the reference recipes (when/otherwise
    // indicators, bool→int advancedCasting, datediff intervals, ratio and
    // chained-when deriveds, the lit(1.0) Evrybody column) with
    // integral/2-decimal values so every cell is cross-engine exact.

    // g1 ≡ DatesSummary (dataSummaries1.scala:96-107): median/min/max over
    // two derived date-interval columns, no categories.
    "g1_dates_summary" -> ((s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("daysOrderToShip",
          datediff(col("l_shipdate"), col("o_orderdate")).cast("double"))
        .withColumn("yearsOrderToShip",
          floor(col("daysOrderToShip") / lit(365.25)).cast("double"))
      gProject(Summarize.summarize(j,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("daysOrderToShip" -> "daysOrderToShip",
          "yearsOrderToShip" -> "yearsOrderToShip"),
        Seq.empty), Seq("daysOrderToShip", "yearsOrderToShip"))
    }),

    // g2 ≡ surgeryCouses (dataSummaries1.scala:118-128): sum over four
    // indicator columns by three categories.
    "g2_surgery_causes" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("isHighQty", when(col("l_quantity") > 25, 1).otherwise(0))
        .withColumn("isDiscounted", when(col("l_discount") > 0.05, 1).otherwise(0))
        .withColumn("isTaxed", when(col("l_tax") > 0.04, 1).otherwise(0))
        .withColumn("isBigTicket", when(col("l_extendedprice") > 30000, 1).otherwise(0))
        .withColumn("shipYear", year(col("l_shipdate")))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum),
        Seq("isHighQty" -> "isHighQty", "isDiscounted" -> "isDiscounted",
          "isTaxed" -> "isTaxed", "isBigTicket" -> "isBigTicket"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
          "shipYear" -> "ShipYear")),
        Seq("isHighQty", "isDiscounted", "isTaxed", "isBigTicket"))
    }),

    // g3 ≡ MaterialEtcPerGender (dataSummaries1.scala:144-171): count of
    // when/otherwise-derived indicators by four categories.
    "g3_material_per_gender" -> ((s, dir) => {
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("isUrgent",
          when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
        .withColumn("isHigh",
          when(col("o_orderpriority") === "2-HIGH", 1).otherwise(0))
        .withColumn("orderYear", year(col("o_orderdate")))
      gProject(Summarize.summarize(j, Seq(AggSpec.count),
        Seq("isUrgent" -> "isUrgent", "isHigh" -> "isHigh"),
        Seq("o_orderstatus" -> "OrderStatus", "c_mktsegment" -> "MktSegment",
          "orderYear" -> "OrderYear", "o_orderpriority" -> "Priority")),
        Seq("isUrgent", "isHigh"))
    }),

    // g4 ≡ OtherRiskFactors (dataSummaries1.scala:188-196): countTrues over
    // five boolean columns by three categories.
    "g4_other_risk_factors" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("isReturned", col("l_returnflag") === "R")
        .withColumn("isDiscounted", col("l_discount") > 0.05)
        .withColumn("isTaxed", col("l_tax") > 0.04)
        .withColumn("isHighQty", col("l_quantity") > 25)
        .withColumn("isBigTicket", col("l_extendedprice") > 30000)
        .withColumn("shipYear", year(col("l_shipdate")))
        .withColumn("shipMonth", month(col("l_shipdate")))
      gProject(Summarize.summarize(li, Seq(AggSpec.countTrues),
        Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted",
          "isTaxed" -> "isTaxed", "isHighQty" -> "isHighQty",
          "isBigTicket" -> "isBigTicket"),
        Seq("l_linestatus" -> "LineStatus", "shipYear" -> "ShipYear",
          "shipMonth" -> "ShipMonth")),
        Seq("isReturned", "isDiscounted", "isTaxed", "isHighQty", "isBigTicket"))
    }),

    // g5 ≡ LabolatoryInflammation (dataSummaries1.scala:207-214):
    // median/min/max of two lab metrics by three categories.
    "g5_lab_inflammation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("shipYear", year(col("l_shipdate")))
      gProject(Summarize.summarize(li,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("l_extendedprice" -> "Price", "l_quantity" -> "Qty"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
          "shipYear" -> "ShipYear")),
        Seq("Price", "Qty"))
    }),

    // g6 ≡ MicrobiologicDataStudyGroup (dataSummaries1.scala:224-236): sum
    // over culture-result indicators, no categories.
    "g6_microbiologic" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("isReturned", when(col("l_returnflag") === "R", 1).otherwise(0))
        .withColumn("isDiscounted", when(col("l_discount") > 0.05, 1).otherwise(0))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum),
        Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted"),
        Seq.empty), Seq("isReturned", "isDiscounted"))
    }),

    // g7 ≡ BasicDataTwoPointStudy (dataSummaries1.scala:246-260): count of
    // one threshold-derived when-indicator, no categories.
    "g7_basic_two_point" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("isHighValue", when(col("value") > 50, 1).otherwise(0))
      gProject(Summarize.summarize(e, Seq(AggSpec.count),
        Seq("isHighValue" -> "isHighValue"), Seq.empty), Seq("isHighValue"))
    }),

    // g8 ≡ BasicInControlGroup (dataSummaries1.scala:270-284): sum over
    // three bool→int advancedCasting metrics by two categories.
    "g8_basic_control" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("isPositiveBal", col("c_acctbal") > 0)
        .withColumn("isRich", col("c_acctbal") > 5000)
        .withColumn("isEvenKey", pmod(col("c_custkey"), lit(2)) === 0)
      val casted = Cleaning.advancedCasting(base,
        Seq("isPositiveBal", "isRich", "isEvenKey"), "int")
      gProject(Summarize.summarize(casted, Seq(AggSpec.sum),
        Seq("isPositiveBal" -> "isPositiveBal", "isRich" -> "isRich",
          "isEvenKey" -> "isEvenKey"),
        Seq("c_mktsegment" -> "MktSegment", "n_name" -> "Nation")),
        Seq("isPositiveBal", "isRich", "isEvenKey"))
    }),

    // g9 ≡ ControlGroupDates (dataSummaries1.scala:289-303): median/min/max
    // of a datediff-derived interval by two categories.
    "g9_control_dates" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("daysFromEpochToOrder",
          datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("double"))
      gProject(Summarize.summarize(o,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("daysFromEpochToOrder" -> "daysFromEpochToOrder"),
        Seq("o_orderstatus" -> "OrderStatus", "o_orderpriority" -> "Priority")),
        Seq("daysFromEpochToOrder"))
    }),

    // g10 ≡ StudyGroupLoc (dataSummaries1.scala:329-342): sum over four
    // location-band indicators by three categories.
    "g10_study_loc" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("isSmall", when(col("p_size") < 10, 1).otherwise(0))
        .withColumn("isMedium",
          when(col("p_size") >= 10 && col("p_size") <= 25, 1).otherwise(0))
        .withColumn("isLarge", when(col("p_size") > 25, 1).otherwise(0))
        .withColumn("isPricey", when(col("p_retailprice") > 1500, 1).otherwise(0))
        .withColumn("sizeBand", expr("p_size DIV 10"))
      gProject(Summarize.summarize(p, Seq(AggSpec.sum),
        Seq("isSmall" -> "isSmall", "isMedium" -> "isMedium",
          "isLarge" -> "isLarge", "isPricey" -> "isPricey"),
        Seq("p_brand" -> "Brand", "p_type" -> "Type", "sizeBand" -> "SizeBand")),
        Seq("isSmall", "isMedium", "isLarge", "isPricey"))
    }),

    // g11 ≡ StudyGroupSuv (dataSummaries1.scala:360-369): sum + median +
    // min + max over four metrics including the lit(1.0) AllPatients column,
    // by two categories. Money rides cent longs so the sums stay exact.
    "g11_study_suv" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("priceCents", centsOf(col("l_extendedprice")).cast("double"))
        .withColumn("discountCents", centsOf(col("l_discount")).cast("double"))
        .withColumn("AllPatients", lit(1.0))
      gProject(Summarize.summarize(li,
        Seq(AggSpec.sum, AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("l_quantity" -> "Qty", "priceCents" -> "PriceCents",
          "discountCents" -> "DiscountCents", "AllPatients" -> "AllPatients"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")),
        Seq("Qty", "PriceCents", "DiscountCents", "AllPatients"))
    }),

    // g12 ≡ StudyGroupImageCharacteristic (dataSummaries1.scala:380-400):
    // sum over three bool→int advancedCasting columns by three categories
    // (the :382-383 advancedCasting recipe).
    "g12_image_characteristic" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .withColumn("isReturned", col("l_returnflag") === "R")
        .withColumn("isDiscounted", col("l_discount") > 0.05)
        .withColumn("isTaxed", col("l_tax") > 0.04)
        .withColumn("shipYear", year(col("l_shipdate")))
        .withColumn("shipMonth", month(col("l_shipdate")))
      val casted = Cleaning.advancedCasting(base,
        Seq("isReturned", "isDiscounted", "isTaxed"), "int")
      gProject(Summarize.summarize(casted, Seq(AggSpec.sum),
        Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted",
          "isTaxed" -> "isTaxed"),
        Seq("l_linestatus" -> "LineStatus", "shipYear" -> "ShipYear",
          "shipMonth" -> "ShipMonth")),
        Seq("isReturned", "isDiscounted", "isTaxed"))
    }),

    // g13 ≡ SuvVsVisualScales (dataSummaries1.scala:411-420): sum + median
    // over four metrics including Evrybody, by two scale categories.
    "g13_suv_vs_scales" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("valueCents", centsOf(col("value")).cast("double"))
        .withColumn("hourOfDay", hour(col("ts")))
        .withColumn("minuteOfHour", minute(col("ts")))
        .withColumn("Evrybody", lit(1.0))
        .withColumn("userBucket", pmod(col("user_id"), lit(4)))
      gProject(Summarize.summarize(e, Seq(AggSpec.sum, AggSpec.median),
        Seq("valueCents" -> "ValueCents", "hourOfDay" -> "HourOfDay",
          "minuteOfHour" -> "MinuteOfHour", "Evrybody" -> "Evrybody"),
        Seq("event_type" -> "EventType", "userBucket" -> "UserBucket")),
        Seq("ValueCents", "HourOfDay", "MinuteOfHour", "Evrybody"))
    }),

    // g14 ≡ SuvTwoPointStudy (dataSummaries1.scala:434-445): median/min/max
    // over four metrics, no categories.
    "g14_suv_two_point" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("priceCents", centsOf(col("l_extendedprice")).cast("double"))
        .withColumn("discountCents", centsOf(col("l_discount")).cast("double"))
        .withColumn("taxCents", centsOf(col("l_tax")).cast("double"))
      gProject(Summarize.summarize(li,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("priceCents" -> "PriceCents", "l_quantity" -> "Qty",
          "discountCents" -> "DiscountCents", "taxCents" -> "TaxCents"),
        Seq.empty), Seq("PriceCents", "Qty", "DiscountCents", "TaxCents"))
    }),

    // g15 ≡ SuvVsVisualScalesControlGroup (dataSummaries1.scala:458-469):
    // sum + median over two metrics including the :461 ratio-derived TBR,
    // by two categories. The ratio floors to integer milli-units so the
    // row value and its sums are cross-engine exact.
    "g15_suv_scales_control" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("tbrMilli",
          floor(col("l_extendedprice") / col("l_quantity") * lit(1000.0))
            .cast("double"))
        .withColumn("priceCents", centsOf(col("l_extendedprice")).cast("double"))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum, AggSpec.median),
        Seq("tbrMilli" -> "TbrMilli", "priceCents" -> "PriceCents"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")),
        Seq("TbrMilli", "PriceCents"))
    }),

    // g16 ≡ SuvStudyVsCrontrol (dataSummaries1.scala:478-491): six metrics
    // across cross-joined cohorts — the per-side-aggregate crossJoin
    // rewrite (duplication-invariant aggs only, §4).
    "g16_suv_study_vs_control" -> ((s, dir) => {
      Cohort.crossCohortAgg(
        t(s, dir, "part"),
        Seq((AggSpec.median, "p_retailprice", "partPriceMedian"),
          (AggSpec.min, "p_retailprice", "partPriceMin"),
          (AggSpec.max, "p_retailprice", "partPriceMax")),
        t(s, dir, "lineitem"),
        Seq((AggSpec.median, "l_extendedprice", "itemPriceMedian"),
          (AggSpec.min, "l_extendedprice", "itemPriceMin"),
          (AggSpec.max, "l_extendedprice", "itemPriceMax")))
        .select(round(col("partPriceMedian"), 3).as("partPriceMedian"),
          col("partPriceMin"), col("partPriceMax"),
          round(col("itemPriceMedian"), 3).as("itemPriceMedian"),
          col("itemPriceMin"), col("itemPriceMax"))
    }),

    // g17 ≡ CtDoneBefore (dataSummaries1.scala:507-537): sum of the
    // chained-when "any finding" column (:511-519), no categories.
    "g17_ct_done_before" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("anyFlag",
          when(col("l_returnflag") === "R", 1)
            .when(col("l_discount") > 0.05, 1)
            .when(col("l_tax") > 0.04, 1)
            .otherwise(0))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum),
        Seq("anyFlag" -> "anyFlag"), Seq.empty), Seq("anyFlag"))
    }),

    // g18 ≡ TechnicalDataInStudyAndControlGroup (dataSummaries1.scala:
    // 547-558): four medians across cross-joined cohorts, the same
    // per-side-aggregate rewrite.
    "g18_technical_cross" -> ((s, dir) => {
      Cohort.crossCohortAgg(
        t(s, dir, "orders").withColumn("orderYear", year(col("o_orderdate"))),
        Seq((AggSpec.median, "o_totalprice", "orderPriceMedian"),
          (AggSpec.median, "orderYear", "orderYearMedian")),
        t(s, dir, "events").withColumn("eventHour", hour(col("ts"))),
        Seq((AggSpec.median, "value", "valueMedian"),
          (AggSpec.median, "eventHour", "hourMedian")))
        .select(round(col("orderPriceMedian"), 3).as("orderPriceMedian"),
          round(col("orderYearMedian"), 3).as("orderYearMedian"),
          round(col("valueMedian"), 3).as("valueMedian"),
          round(col("hourMedian"), 3).as("hourMedian"))
    }),

    // ---- §2 quality operator family (fused single-pass checks) ----------
    "q3_quality_report" -> ((s, dir) => {
      Quality.report(t(s, dir, "lineitem"), Seq(
        Quality.RangeCheck(Seq("l_quantity"), 1, 50),
        Quality.RangeCheck(Seq("l_discount"), 0, 0.08),
        Quality.NotNullCheck(Seq("l_quantity", "l_returnflag")),
        Quality.ZScoreCheck(Seq("l_extendedprice"), 3.0)))
        .orderBy(col("description"), col("columnName"))
    }),

    // ---- §2.3 J1: cross-cohort aggregate (agg-then-crossjoin rewrite) ---
    "j1_cross_agg" -> ((s, dir) => {
      Cohort.crossCohortAgg(
        t(s, dir, "customer"),
        Seq((AggSpec.median, "c_acctbal", "cust_median"),
            (AggSpec.min, "c_acctbal", "cust_min"),
            (AggSpec.max, "c_acctbal", "cust_max")),
        t(s, dir, "supplier"),
        Seq((AggSpec.median, "s_acctbal", "supp_median"),
            (AggSpec.min, "s_acctbal", "supp_min"),
            (AggSpec.max, "s_acctbal", "supp_max")))
        .select(round(col("cust_median"), 3).as("cust_median"), col("cust_min"),
          col("cust_max"), round(col("supp_median"), 3).as("supp_median"),
          col("supp_min"), col("supp_max"))
    }),

    // ---- §2.3 J2: tagged union for cohort comparison --------------------
    "j2_tagged_union" -> ((s, dir) => {
      Cohort.taggedUnion(
        t(s, dir, "customer"),
        Seq(col("c_name") -> "name", col("c_acctbal") -> "acctbal"),
        t(s, dir, "supplier"),
        Seq(col("s_name") -> "name", col("s_acctbal") -> "acctbal"),
        tagCol = "is_customer")
        .orderBy(col("name"), col("is_customer"))
    }),

    // ---- §2.6 W1: window aggregate as group-by substitute (+ distinct) --
    "w1_window_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          sum(col("l_quantity")).over(Window.partitionBy(col("l_returnflag")))
            .as("qty_total"))
        .distinct()
        .orderBy(col("l_returnflag"))
    }),

    // ---- §2.7 date functions + events hourly rollup ---------------------
    "e1_events_hourly" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_ts"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
        .orderBy(col("hour_ts"))
    }),

    // ---- multi-join + aggregation (scale path: broadcast dims) ----------
    "q5_join_agg" -> ((s, dir) => revenuePerNation(s, dir)),

    // ---- §2.4 U4: distinct ----------------------------------------------
    "u4_distinct" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // ---- sketch aggregates: HLL distinct + t-digest percentile ----------
    // (rows-only: sketch estimates are engine-specific by construction; the
    // exact twins q1/q2 carry the oracle burden)
    // ---- sketch suite with an EARNED oracle: each engine runs ITS OWN
    // sketches (Spark: datasketches HLL, approx_count_distinct,
    // percentile_approx; DuckDB: approx_count_distinct, approx_quantile)
    // and tests them in-query against the SHARED exact values with the
    // same published tolerance bands — the hash match certifies both
    // engines' estimators landed inside the guarantees, no literal TRUEs
    // (a10 keeps the literal-TRUE twin for the Spark-only sketch set) ------
    "a9_sketches" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).as("__hll"),
          approx_count_distinct(col("l_partkey"), 0.02).as("__acd"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("__p95a"),
          percentile(col("l_extendedprice"), lit(0.94)).as("__p94x"),
          percentile(col("l_extendedprice"), lit(0.96)).as("__p96x"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("__hll") - col("exact_orders")) <=
            col("exact_orders") * 0.05).as("hll_in_band"),
          (abs(col("__acd") - col("exact_parts")) <=
            col("exact_parts") * 0.06).as("acd_in_band"),
          (col("__p95a") >= col("__p94x") && col("__p95a") <= col("__p96x"))
            .as("p95_in_band"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- sketch error bounds, driver-verifiable twin of a9: the exact side
    // is computed in the same query and each estimate is checked against its
    // published guarantee (HLL lgK=12 ≈ 1.6% rsd → 5% ≥ 3σ; ACD rsd=0.02 →
    // 6% = 3σ; percentile_approx accuracy=1000 → rank error ≤ 0.001, bounded
    // by the exact 0.94/0.96 quantiles). The oracle replays the exact side
    // and asserts the booleans literally TRUE — a hash match certifies every
    // sketch landed inside its bound. SketchAccuracySpec keeps tighter ones.
    "a10_sketch_bounds" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).as("__hll"),
          approx_count_distinct(col("l_partkey"), 0.02).as("__acd"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("__p95a"),
          percentile(col("l_extendedprice"), lit(0.94)).as("__p94x"),
          percentile(col("l_extendedprice"), lit(0.96)).as("__p96x"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("__hll") - col("exact_orders")) <=
            col("exact_orders") * 0.05).as("hll_within_eps"),
          (abs(col("__acd") - col("exact_parts")) <=
            col("exact_parts") * 0.06).as("acd_within_eps"),
          (col("__p95a") >= col("__p94x") && col("__p95a") <= col("__p96x"))
            .as("p95_within_bounds"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- Misra–Gries two-pass heavy hitters: pass 1 bounds per-partition
    // state at 64 counters (only sketches shuffle — the scale path where
    // Partitioning.hotKeys' exact groupBy would shuffle one row per
    // distinct key), pass 2 counts only the surviving candidates exactly.
    // The key is engineered skewed: line numbers 1–2 map onto 7 hot keys
    // (~4k rows each), the rest stay per-(order,line) singletons (~30k
    // distinct), so eviction actually runs. The in-query require pins the
    // exactness certificate (kth·counters > n); output = exact counts →
    // full hash oracle against DuckDB's plain top-k. ----------------------
    // ---- sketches: sketch-bracketed EXACT quantiles (a12) — one MRL
    // sketch pass (bounded state, certified ±err rank envelope), exact
    // certificate + bracket-cell read in a second pass; output is the
    // exact type-1 quantile on any partitioning, no global sort, no
    // corpus-sized value shuffle. ----------------------------------------
    "a12_sketch_quantiles" -> ((s, dir) => {
      graft.ops.SketchQuantiles.quantiles(t(s, dir, "lineitem"),
        "l_extendedprice", Seq((1, 2), (19, 20), (99, 100)), k = 256)
    }),

    "a11_heavy_hitters" -> ((s, dir) => {
      val keyed = t(s, dir, "lineitem").withColumn("hot_key",
        when(col("l_linenumber") <= 2,
          concat(lit("hot_"), col("l_orderkey") % 7))
          .otherwise(concat(lit("cold_"), col("l_orderkey"), lit("_"),
            col("l_linenumber"))))
      val r = graft.ops.HeavyHitters.topKExact(keyed, "hot_key",
        k = 5, counters = 64)
      require(r.provablyExact,
        s"certificate must hold on the engineered skew (n=${r.totalRows})")
      r.rows.orderBy(col("n_rows").desc, col("key").asc)
    }),

    // ================= training-data pipeline extensions =================

    // ---- text analysis: stopword-vote language ID -----------------------
    "t1_langid" -> ((s, dir) => {
      TextOps.withLangId(Tables.spread(t(s, dir, "documents")), "text", "lang_pred")
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),

    // ---- text analysis: heuristic quality score -------------------------
    "t2_quality_score" -> ((s, dir) => {
      TextOps.withQualityScore(Tables.spread(t(s, dir, "documents")), "text", "quality")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: Flesch reading-ease census (t19) — integer
    // regex-run counts (words / sentence runs / vowel-group syllables),
    // one fixed double tree per doc; row-local, nothing shuffles. --------
    "t19_readability" -> ((s, dir) => {
      TextOps.withReadability(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"), col("flesch"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: token / char counting ---------------------------
    "t3_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: document fingerprint. The md5 twin carries the
    // DuckDB oracle (md5 is md5 everywhere); the xxhash64 fast path and
    // simhash are spec-tested (TextOpsSpec/ExpressionSpec) and exercised by
    // d3's bench query ----------------------------------------------------
    "t4_fingerprint" -> ((s, dir) => {
      Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextOps.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus: concat-then-chunk packing provenance map ----------------
    // ---- end-to-end extension pipeline capstone -------------------------
    // quality gate → exact dedup survivors → deterministic content-hash
    // sample → per-language corpus stats: each stage is an operator whose
    // oracle is already proven (t2 / d1 / s3 / t3), composed, and the WHOLE
    // chain hash-verifies as one SQL WITH-chain — the composability check
    // the per-operator queries can't give.
    "t14_pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val scored = graft.text.TextOps.withQualityScore(docs, "text", "quality")
        .where(col("quality") >= 0.5)
        .select(col("doc_id"), col("text"), col("lang"), col("quality"))
      val deduped = graft.dedup.Dedup.exactDedup(scored, "text", "doc_id")
      val sampled = graft.ops.Sampling.hashSample(deduped, col("doc_id"), rate = 0.5)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.text.TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          round(avg(col("quality")), 6).as("avg_quality"))
        .orderBy(col("lang"))
    }),

    // ---- tokenizer vocab + id encoding ----------------------------------
    // top-256 corpus vocabulary (freq desc, token asc ties), ids = ranks,
    // every token position encoded (OOV = -1). The vocab is bounded by
    // construction -> driver collect + literal-map lookup is the scale
    // design; the corpus explode never shuffles.
    "t13_vocab_encode" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val vocab = graft.text.Vocab.buildVocab(docs, "text", topN = 256)
      graft.text.Vocab.encodeTokens(docs, "doc_id", "text",
          vocab.map(v => (v._1, v._2)).toMap)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- BPE tokenizer training (canonical Sennrich merges) + corpus
    // encoding: ONE corpus-sized word-frequency job, driver merge loop on
    // the capped dict (bounded protocol), then k chained codegen replace
    // calls over DISTINCT words. The trained merges export as literals and
    // the oracle replays seed→merge-chain→token-count relationally — the
    // two-space delimiter format makes replace-all EXACTLY the BPE
    // leftmost-greedy merge in both engines. --------------------------------
    "t17_bpe_encode" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val wf = graft.text.Bpe.wordFrequencies(docs, "text")
      val merges = graft.text.Bpe.train(wf, numMerges = 48, dictSize = 2048)
      t17TrainedMerges = Some(merges)
      graft.text.Bpe.encodeCounts(wf, merges).orderBy(col("token"))
    }),

    // ---- chunk materialization: overlapping sliding token windows -------
    "t12_chunk_explode" -> ((s, dir) => {
      graft.text.Corpus.chunkExplode(Tables.spread(t(s, dir, "documents")),
          "doc_id", "text", size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "t8_chunk_map" -> ((s, dir) => {
      graft.text.Corpus.chunkMap(t(s, dir, "documents"), "doc_id", "text",
          budget = 512)
        .orderBy(col("doc_id"))
    }),

    // ---- corpus: benchmark decontamination — 5-gram overlap vs an eval
    // slice, eval side broadcast so the corpus scan never shuffles ---------
    "t9_contamination" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      graft.text.Corpus.contamination(
          docs.where(col("doc_id") >= 20), "doc_id",
          docs.where(col("doc_id") < 20), "doc_id", "text",
          n = 5, minShared = 2)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // ---- corpus: bigram-LM self-perplexity quality signal (the KenLM-
    // filter recipe as exact counts; every probability SQL-replayable) -----
    "t10_ngram_lm" -> ((s, dir) => {
      graft.text.LanguageModel.scoreBigram(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text", k = 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- corpus: BM25 keyword top-k (lexical complement of n1 ANN) -------
    "n4_bm25" -> ((s, dir) => {
      graft.text.Search.bm25TopK(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          queryTerms = Seq("dup", "spark", "merge"), k = 20)
    }),

    // ---- corpus: span-level exact dedup (C4 line-dedup for a corpus with
    // no line structure — duplicated 8-token spans stripped everywhere) ----
    "d10_span_dedup" -> ((s, dir) => {
      graft.text.Corpus.spanDedup(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          span = 8, minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // ---- corpus: C4-style line-level exact dedup. The synthetic corpus has
    // no newlines, so each doc is wrapped in a shared export header + a
    // per-lang footer: the header dedups out of every doc, the footer out of
    // every same-lang doc, and the body survives unless the raw text itself
    // is an exact duplicate (the d1 dup pairs) ----------------------------
    "d11_line_dedup" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), concat_ws("\n",
          lit("generated corpus export v1"),
          col("text"),
          concat(lit("language: "), col("lang"))).as("text"))
      graft.text.Corpus.lineDedup(docs, "doc_id", "text", sep = "\n", minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // ---- corpus: one-pass health dashboard (counts/tokens/quality/dup
    // rate per CUBE cell of source × lang) ---------------------------------
    "t11_corpus_report" -> ((s, dir) => {
      graft.text.Corpus.healthReport(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          dims = Seq("source", "lang"))
        .orderBy(col("gid"), col("source"), col("lang"))
    }),

    // ---- dedup: exact hash-groupBy --------------------------------------
    "d1_dedup_exact" -> ((s, dir) => {
      Dedup.exactDupGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("content_hash"))
    }),

    // ---- dedup: MinHash + LSH banding (rows-only: engine-specific hash) -
    "d2_minhash_neardup" -> ((s, dir) => {
      Dedup.minHashNearDups(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: SimHash Hamming-distance (rows-only) --------------------
    "d3_simhash_neardup" -> ((s, dir) => {
      Dedup.simHashNearDups(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: exact n-gram Jaccard on a bounded window ----------------
    "d4_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          n = 3, window = 25)
        .where(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: asymmetric n-gram containment (d17) — the quotation /
    // subset detector Jaccard misses: inter / min(|A|,|B|), same banded
    // join, score rounds before the threshold. ---------------------------
    "d17_containment" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(Tables.spread(t(s, dir, "documents")),
          "doc_id", "text", n = 3, window = 25, minContain = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: best-of-cluster survivorship (d18) — each near-dup
    // cluster keeps its highest-QUALITY member (t2's score, rounded
    // before ranking), not the min id; singletons keep themselves. -------
    "d18_best_of_cluster" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val scored = TextOps.withQualityScore(docs, "text", "q")
        .withColumn("quality", round(col("q"), 6))
        .select(col("doc_id"), col("quality"))
      val pairs = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      Dedup.bestOfCluster(scored, "doc_id", pairs, "id_a", "id_b", "quality")
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: embedding-cosine near-dup CLOSURE — LSH pairs → connected
    // components → one component id per vector (planted dups as in n2; the
    // oracle brute-forces exact pairs and closes them with a recursive CTE) --
    "d7_embedding_dedup" -> ((s, dir) => {
      // base feeds both union branches; allv feeds the LSH pipeline AND
      // the final left join — pin both so the scan+spread and the planted
      // transform run once each (guide §2.4)
      val base = Tables.spread(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint()
      val planted = base.select(
          (col("vec_id") + lit(1000000L)).as("pid"),
          transform(col("embedding"), (x, i) =>
            x + (((col("vec_id") * 31 + i.cast("long") * 7) % 17) - 8) / lit(800.0))
            .as("pemb"))
        .select(col("pid").as("vec_id"), col("pemb").as("embedding"))
      val allv = base.unionAll(planted).localCheckpoint()
      val pairs = Embeddings.lshNearDupPairs(allv, "vec_id", "embedding",
        minCosine = 0.9, nBits = 12, dim = 64, tables = 8)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      allv.select(col("vec_id"))
        .join(comps.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- dedup: MinHash md5 twin — the cross-engine-verifiable variant of
    // d2 (one md5 per shingle sliced into 8 16-bit minima; integer slot
    // agreement), hash-matched against a full SQL replay -------------------
    "d8_minhash_md5" -> ((s, dir) => {
      Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: Fellegi–Sunter probabilistic record linkage (d20) —
    // the PROBABILISTIC verify stage: the d8 md5-LSH candidate stream at
    // minAgree=1 (true near-dups + chance collisions = a real mixture),
    // five field comparators, ONE groupBy to the ≤2^5-row agreement-
    // pattern frame, EM driver-side on the bounded cells (r37 doctrine),
    // per-pattern weight/posterior as literal trees (no in-engine ln). --
    "d20_record_linkage" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val cand = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 1)
      val meta = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), substring(col("text"), 1, 16).as("pfx"))
      val pairs = cand
        .join(meta.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
          col("source").as("src_a"), col("n_chars").as("nc_a"),
          col("pfx").as("pfx_a")), "id_a")
        .join(meta.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
          col("source").as("src_b"), col("n_chars").as("nc_b"),
          col("pfx").as("pfx_b")), "id_b")
      val comparators = Seq(
        "g_sig" -> (col("agree") >= 4),
        "g_lang" -> (col("lang_a") === col("lang_b")),
        "g_src" -> (col("src_a") === col("src_b")),
        "g_len" -> (abs(col("nc_a") - col("nc_b")) * 10 <=
          greatest(col("nc_a"), col("nc_b"))),
        "g_pfx" -> (col("pfx_a") === col("pfx_b")))
      // the ≤2^5-row pattern frame feeds the EM collect AND the score
      // output — pin it so the minhash+meta-join pipeline runs once
      val pat = graft.dedup.Linkage.agreementPatternDF(pairs, comparators)
        .localCheckpoint()
      val fit = graft.dedup.Linkage.emFit(pat, comparators.map(_._1))
      d20FsFit = Some(fit)
      graft.dedup.Linkage.scoreDF(pat, comparators.map(_._1), fit)
    }),

    // ---- dedup: edit-distance VERIFICATION of the d8 LSH candidates —
    // the propose/dispose two-stage a near-dup pipeline actually ships.
    // Spark's thresholded levenshtein caps the DP band (O(t·len), not
    // O(len²)) and runs only on candidate pairs; the whole chain (md5
    // MinHash → banded join → bounded exact distance) replays in SQL. ----
    "d12_edit_verify" -> ((s, dir) => {
      Dedup.editVerifiedPairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4, maxDist = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: incremental cross-corpus dedup (d13) — a delta batch
    // deduped against the existing base corpus: bloom-prefiltered EXACT
    // anti-join on the content hash (definitely-new rows skip the shuffle
    // entirely), then first-id-wins within the delta. Cross-corpus and
    // within-delta duplicates are PLANTED from the corpus itself so the
    // whole chain replays relationally. -----------------------------------
    "d13_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = docs.where(col("doc_id") < 400)
      val fresh = docs.where(col("doc_id") >= 400)
      val crossCopies = base.where(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      val deltaCopies = fresh.where(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 20000L)
      val delta = fresh.unionByName(crossCopies).unionByName(deltaCopies)
      Dedup.incrementalDedup(delta, base, "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: leakage-free train/eval split (d14) — near-dup clusters
    // (components of the d8 md5-MinHash pairs) land entirely on one side,
    // keyed by the cluster representative through the s3 md5 hash rule;
    // the preventive form of the t9 contamination check. ------------------
    "d14_leakage_split" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val pairs = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      Dedup.clusterAwareSplit(docs.select(col("doc_id"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b", evalRate = 0.2)
        .select(col("doc_id"), col("n_chars"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: near-dup graph structure census (d15) — per-node degree,
    // triangle count, clustering coefficient over the d8 pair graph:
    // clique-like clusters (high cc) are true dup groups, chain-shaped
    // bridges (low cc) are what connectedComponents would over-glue. -----
    "d15_graph_stats" -> ((s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.triangleStats(pairs, "id_a", "id_b")
    }),

    // ---- dedup: integer PageRank over the near-dup graph (d16) — hub
    // census / canonical-representative ranking; every step LONG floor
    // arithmetic so 3 power iterations replay bit-exactly as chained
    // CTEs. ---------------------------------------------------------------
    "d16_pagerank" -> ((s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.pageRank(pairs, "id_a", "id_b", iters = 3)
    }),

    // ---- dedup: LSH threshold calibration sweep (d22) — candidate count
    // and edit-verified precision at every agreement cutoff (the tuning
    // table behind "why minAgree=4"): one candidate pass at minAgree=1,
    // one bounded verify, reverse cumulative chain over the ≤8-row agree
    // frame. ---------------------------------------------------------------
    "d22_lsh_threshold_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(t(s, dir, "documents"))
      val cand = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 1)
      val txt = docs.select(col("doc_id"), col("text"))
      val verified = cand
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
        .withColumn("ok", levenshtein(col("__ta"), col("__tb"), 64) >= 0)
      val runW = Window.partitionBy().orderBy(col("agree").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      verified.groupBy(col("agree"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("ok").cast("long")).as("n_true"))
        .withColumn("n_ge", sum(col("n_pairs")).over(runW))
        .withColumn("v_ge", sum(col("n_true")).over(runW))
        .select(col("agree").cast("long").as("agree"), col("n_pairs"),
          col("n_true"), col("n_ge"), col("v_ge"),
          round(col("v_ge").cast("double") / col("n_ge").cast("double"), 6)
            .as("precision_ge"))
        .orderBy(col("agree"))
    }),

    // ---- dedup: normalization-robust near-dup (d23) — the d8 MinHash
    // chain over STOPWORD-STRIPPED text (token filter, both engines),
    // with a flag for whether raw-text dedup already caught the pair:
    // false rows are the recall the normalization buys. -------------------
    "d23_normalized_dedup" -> ((s, dir) => {
      // docs feeds the normalized AND the raw minhash pipelines — pin so
      // the scan + spread shuffle of full text runs once (guide §2.4)
      val docs = Tables.spread(t(s, dir, "documents")).localCheckpoint()
      val norm = docs.select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          tk => !tk.isin("a", "the")), " ").as("text"))
      val pairsN = Dedup.minHashMd5Pairs(norm, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      val pairsR = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4)
        .select(col("id_a"), col("id_b"), lit(true).as("found_raw"))
      pairsN.join(pairsR, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("agree"),
          coalesce(col("found_raw"), lit(false)).as("found_raw"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: per-edge neighborhood Jaccard over the near-dup graph
    // (d21) — the bridge detector: Jaccard-0 edges chain unrelated
    // clusters, high-Jaccard edges sit inside true dup cliques. ----------
    "d21_node_jaccard" -> ((s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.edgeJaccard(pairs, "id_a", "id_b")
    }),

    // ---- dedup: SimHash md5 twin — cross-engine-verifiable variant of d3's
    // fingerprint (per-token md5 bits vote ±1), hash-matched ---------------
    "d9_simhash_md5" -> ((s, dir) => {
      Dedup.simHashMd5(Tables.spread(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("id"))
    }),

    // ---- similarity: exact brute-force cosine top-k via the custom
    // bounded-heap aggregate (rows-only) ----------------------------------
    "n1_ann_topk" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      Embeddings.bruteForceTopKAgg(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: MMR diversity re-rank (n10) — distributed top-24
    // relevance pool, bounded driver greedy (λ·rel − (1−λ)·max-sim,
    // ties → smallest id); the oracle replays the pool AND all 8 greedy
    // steps as chained argmax CTEs — no runtime export, the whole
    // selection is relational. ------------------------------------------
    "n10_mmr_rerank" -> ((s, dir) => {
      Embeddings.mmrSelect(Tables.spread(t(s, dir, "embeddings")),
          "vec_id", "embedding", queryId = 0L, candidates = 24, k = 8,
          lambda = 0.5)
        .select(col("pick"), col("corpus_id"), round(col("mmr"), 6).as("mmr"))
        .orderBy(col("pick"))
    }),

    // ---- similarity: per-dim int8 quantization profile (n11) — the
    // embedding-storage compression census: two passes over the vectors,
    // stats broadcast back, codes/error exact (floor-based rounding, no
    // engine round() convention in the chain). ---------------------------
    "n11_embed_quantize" -> ((s, dir) => {
      graft.sim.Quantize.int8ProfileDF(t(s, dir, "embeddings"), "embedding")
    }),

    // ---- similarity: LSH-bucketed approximate pairs ----------------------
    // The synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.55),
    // so near-dups are PLANTED: each vector gets a copy shifted by an
    // integer-rational perturbation (((id·31 + i·7) mod 17) − 8)/800 — no
    // libm, so DuckDB rebuilds the identical doubles and the brute-force
    // all-pairs oracle hash-matches. nBits=12 (4096 buckets/table) keeps
    // expected bucket occupancy O(1) — the honest scale parameterization
    // (nBits=6 was r2's flagged scale-killer); planted pairs sit at
    // cos ≈ 0.9988, whose 8-table miss probability is ~1e-6.
    "n2_ann_lsh" -> ((s, dir) => {
      val base = Tables.spread(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      // distinct output names ("pid"/"pemb"): aliasing the shifted id back to
      // "vec_id" in the SAME select would lateral-alias-capture it inside the
      // lambda, perturbing by the wrong id
      val planted = base.select(
          (col("vec_id") + lit(1000000L)).as("pid"),
          transform(col("embedding"), (x, i) =>
            x + (((col("vec_id") * 31 + i.cast("long") * 7) % 17) - 8) / lit(800.0))
            .as("pemb"))
        .select(col("pid").as("vec_id"), col("pemb").as("embedding"))
      Embeddings.lshNearDupPairs(base.unionAll(planted), "vec_id", "embedding",
          minCosine = 0.9, nBits = 12, dim = 64, tables = 8)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity: IVF probe with FIXED centroids — the k-means stage of
    // n3 is engine-specific, but with centroids pinned to literals the
    // assign→probe→rank pipeline is pure relational math, so THIS entry
    // carries the DuckDB oracle for the IVF probe path (n3 stays the
    // end-to-end demo). Dyadic-rational centroids rebuild identical doubles
    // from the same decimal literals in both engines. ---------------------
    "n5_ivf_probe" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val assigned = Embeddings.assignFixedCentroids(emb, "embedding", ivfFixedCentroids)
      Embeddings.ivfTopK(assigned, "vec_id", "embedding",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          ivfFixedCentroids, nProbe = 3, k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: FILTERED vector search (n23) — the production "where
    // label = X" ANN query: the metadata predicate applies BEFORE the
    // probe ranks (exact filtered semantics, no post-filter recall hole),
    // pushed to the corpus scan; same partition-pruned IVF chain as n5. --
    "n23_filtered_ann" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val corpus = emb.where(col("label") % 2 === 0)
      val assigned = Embeddings.assignFixedCentroids(corpus, "embedding",
        ivfFixedCentroids)
      Embeddings.ivfTopK(assigned, "vec_id", "embedding",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          ivfFixedCentroids, nProbe = 3, k = 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: max-inner-product search (n24) — the recommender
    // retrieval shape: the classic augmented-vector reduction
    // x → [x; √(M²−|x|²)], q → [q; 0] turns MIPS into cosine search, so
    // the SAME IVF machinery serves it (per-query cosine order in the
    // augmented space ≡ inner-product order). ----------------------------
    "n24_mips" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val nn = emb.select(col("vec_id"), col("v"),
        Embeddings.dot(col("v"), col("v")).as("nsq"))
      val mrow = nn.agg(max(sqrt(col("nsq"))).as("__m"))
      val aug = nn.crossJoin(broadcast(mrow))
        .select(col("vec_id"), concat(col("v"),
          array(sqrt(greatest(lit(0.0),
            col("__m") * col("__m") - col("nsq"))))).as("va"))
      val assigned = Embeddings.assignFixedCentroids(aug, "va",
        mipsFixedCentroids)
      val qaug = nn.where(col("vec_id") < 8)
        .select(col("vec_id"), concat(col("v"), array(lit(0.0))).as("va"))
      Embeddings.ivfTopK(assigned, "vec_id", "va", qaug, "vec_id", "va",
          mipsFixedCentroids, nProbe = 3, k = 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: recall@k / MRR evaluation harness (n12) — the exact
    // brute-force ranks as ground truth, the n5 IVF probe as the index
    // under test, per-query recall and reciprocal-rank-of-true-NN; both
    // legs and the eval join replay relationally. -------------------------
    "n12_ann_recall" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 8)
      val truth = Embeddings.bruteForceTopKAgg(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      val assigned = Embeddings.assignFixedCentroids(emb, "embedding", ivfFixedCentroids)
      val approx = Embeddings.ivfTopK(assigned, "vec_id", "embedding",
        queries, "vec_id", "embedding", ivfFixedCentroids, nProbe = 3, k = 5)
      Embeddings.annEvalDF(truth, approx, k = 5)
    }),

    // ---- similarity: hard-negative mining (n13) — for each query, the
    // top-k most-similar vectors with a DIFFERENT label (the closest
    // wrong answers contrastive training learns from); n1's bounded-heap
    // plan with the label-mismatch filter pre-aggregate. -----------------
    "n13_hard_negatives" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      Embeddings.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("query_label"), col("corpus_id"),
          col("neg_label"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: dimension-truncation retrieval eval (n14) — the
    // Matryoshka question "how much recall do the first 16 of 64 dims
    // keep?" answered with the n12 harness: truth = full-dim brute force,
    // approx = prefix-dim brute force, both legs relational. -------------
    "n14_trunc_eval" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 8)
      val truth = Embeddings.bruteForceTopKAgg(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      val half = emb.withColumn("emb16", slice(col("embedding"), 1, 16))
      val approx = Embeddings.bruteForceTopKAgg(
        half, "vec_id", "emb16",
        half.where(col("vec_id") < 8), "vec_id", "emb16", k = 5)
      Embeddings.annEvalDF(truth, approx, k = 5)
    }),

    // ---- ANN: product quantization + ADC probe, fully replayed ----------
    // The remaining classic ANN scale technique after brute force (n1),
    // LSH (n2), IVF (n3/n5): vectors compress to M small codes against
    // fixed dyadic codebooks, queries scan CODES ONLY via per-query lookup
    // tables (explicit M-term sums so FP association matches the SQL
    // replay bit-for-bit). Codes + ranks hash-verify end-to-end in DuckDB.
    "n6_pq_probe" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val coded = Embeddings.pqAssign(emb, "embedding", pqFixedCodebooks)
      Embeddings.pqTopK(coded, "vec_id",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          pqFixedCodebooks, k = 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: TRAINED product quantization (n3's doctrine applied to
    // n6): k-means fits one codebook per subspace at runtime, the fitted
    // centers export as exact Double.toString literals, and the whole
    // assignment + ADC ranking replays in DuckDB against the pipeline's
    // OWN trained codebooks — the oracle certifies the trained artifact,
    // not a fixture. ------------------------------------------------------
    "n7_pq_trained" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val books = Embeddings.pqTrain(emb, "embedding",
        numSubspaces = 4, k = 8, dim = 64, seed = 42L)
      n7TrainedCodebooks = Some(books)
      val coded = Embeddings.pqAssign(emb, "embedding", books)
      Embeddings.pqTopK(coded, "vec_id",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          books, k = 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: IVF-PQ composed probe (n21) — the production IVFADC
    // shape: the index is (centroid_id, corpus_id, pq_code) only, so a
    // query reads nProbe/N of the CODES (partition pruning × 32×
    // compression in one scan); coarse cells from n5's unit argmax, ADC
    // from n6's codebooks, both fixed → fully static oracle. -------------
    "n21_ivfpq" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          ivfFixedCentroids, pqFixedCodebooks, nProbe = 3, k = 5)
        .select(col("query_id"), col("centroid_id").cast("long").as("centroid_id"),
          col("corpus_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- §2.6 Mondrian group-conditional conformal (m18): ONE global
    // model, PER-GROUP calibration quantile — coverage holds within every
    // returnflag class (a marginal interval over-covers easy groups and
    // under-covers hard ones); rank windows partitioned by group, no
    // global window, fully static oracle. --------------------------------
    "m18_mondrian_conformal" -> ((s, dir) =>
      graft.ml.Conformal.mondrianConformalDF(t(s, dir, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")),
        col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))),

    // ---- §2.9 PCA over embeddings (m19): ONE exact-integer moment pass
    // (floor-quantized coordinates, decimal second moments), driver-side
    // Jacobi eigen on the bounded 16×16 covariance, exported loadings;
    // the per-component eigenvalue replays as the quadratic form over the
    // relational moment row and projections fold as exact floor-long sums
    // per (component, label). ---------------------------------------------
    "m19_pca" -> ((s, dir) => {
      val dim = 16; val k = 4
      val emb = Tables.spread(t(s, dir, "embeddings"))
      // two consumers (moment aggregate, projection scan) — pin the
      // quantized frame so the array decode + spread shuffle run once
      val qdf = emb.select((col("label") +:
        graft.ml.Pca.quantCols("embedding", dim)): _*)
        .localCheckpoint()
      val moments = graft.ml.Pca.momentAgg(qdf, dim)
      val fit = graft.ml.Pca.fitFromMoments(moments, dim, k)
      m19PcaFit = Some(fit)
      val mo2 = moments.select(
        (0 until k).map(c => graft.ml.Pca.quadformExpr(fit, c).as(s"qf$c")) :+
          graft.ml.Pca.traceExpr(dim, fit.n).as("tr"): _*)
      val lam = mo2.selectExpr(
        "stack(4, " + (0 until k).map(c =>
          s"$c, round(qf$c / 1000000000000.0, 6), round(qf$c / tr, 6)")
          .mkString(", ") + ") AS (comp, lambda, evr)")
      val proj = qdf.select(col("label") +: (0 until k).map(c =>
        floor(graft.ml.Pca.projExpr(fit, c) / lit(1000.0)).as(s"z$c")): _*)
      val stacked = proj.selectExpr("label",
        "stack(4, " + (0 until k).map(c => s"$c, z$c").mkString(", ") +
          ") AS (comp, zq)")
      stacked.groupBy(col("comp"), col("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("zq")).as("szq"))
        .join(broadcast(lam), Seq("comp"))
        .select(col("comp"), col("label"), col("n_vecs"), col("szq"),
          col("lambda"), col("evr"))
        .orderBy(col("comp"), col("label"))
    }),

    // ---- ANN: IVF-PQ recall/MRR eval (n22) — the n12 harness pointed at
    // the composed index with TRAINED codebooks (n7's fit, exported for
    // the runtime oracle): exact brute-force truth vs the pruned+coded
    // path, per-query recall@5 and reciprocal rank IN-BAND — the
    // compression/pruning quality is measured, never assumed. ------------
    "n22_ivfpq_recall" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 8)
      val truth = Embeddings.bruteForceTopKAgg(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      val books = Embeddings.pqTrain(emb, "embedding",
        numSubspaces = 4, k = 16, dim = 64, seed = 42L)
      n22TrainedCodebooks = Some(books)
      val approx = Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        ivfFixedCentroids, books, nProbe = 4, k = 5)
      Embeddings.annEvalDF(truth, approx, k = 5)
    }),

    // ---- curation: SemDeDup — k-means cluster blocking, within-cluster
    // cosine dominance (drop a row when a LOWER-id same-cluster row is
    // >= minCosine similar). Same planted near-dups as d7/n2; the fitted
    // centers export as literals and the oracle replays clustering,
    // blocking, and the keep rule relationally (the n3/n7 doctrine). ------
    "n8_semantic_dedup" -> ((s, dir) => {
      val base = Tables.spread(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.select(
          (col("vec_id") + lit(1000000L)).as("pid"),
          transform(col("embedding"), (x, i) =>
            x + (((col("vec_id") * 31 + i.cast("long") * 7) % 17) - 8) / lit(800.0))
            .as("pemb"))
        .select(col("pid").as("vec_id"), col("pemb").as("embedding"))
      val allv = base.unionAll(planted)
      // auto-k (k = n/target clamped at 8 — = 8 at sf0.01, so the oracle
      // output is the fixed-k one; at bench scale k grows with the corpus
      // and the within-cluster pair cost stays linear)
      val (kept, centers) = Embeddings.semanticDedupAuto(allv, "vec_id",
        "embedding", minCosine = 0.9, targetClusterSize = 500L, seed = 42L)
      n8FittedCenters = Some(centers)
      kept.select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- ANN: Johnson–Lindenstrauss ±1 projection prefilter — rank all
    // pairs in the 16-dim PROJECTED space (4× cheaper per pair), keep 24
    // candidates per query, exact-rerank those by true cosine. The sign
    // matrix is a pure function of the seed, so the oracle rebuilds the
    // identical matrix and replays both stages exactly; recall vs brute
    // force is spec-measured, never assumed. --------------------------
    "n9_rp_prefilter" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      Embeddings.rpPrefilterTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 8), "vec_id", "embedding",
          inDim = 64, outDim = 16, seed = 42L, candidates = 24, k = 5)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- §2.2 P7-P9 rename/drop batch -----------------------------------
    "p4_rename_drop" -> ((s, dir) => {
      val renamed = Cleaning.renameByMap(
        Cleaning.dropColumns(t(s, dir, "nation"), Seq("n_regionkey")),
        Map("n_nationkey" -> "id", "n_name" -> "nation_name"))
      Cleaning.selectRenamed(renamed, Seq("nation_name" -> "name", "id" -> "id"))
        .orderBy(col("id"))
    }),

    // ---- §2.4 U2: n-ary tagged union ------------------------------------
    "u2_union_tagged" -> ((s, dir) => {
      Cohort.unionAll(
        Seq(
          t(s, dir, "region").select(col("r_name").as("name")),
          t(s, dir, "nation").select(col("n_name").as("name")),
          t(s, dir, "customer").select(col("c_mktsegment").as("name")).distinct()),
        Some("src"), Seq("region", "nation", "segment"))
        .orderBy(col("src"), col("name"))
    }),

    // ---- §2.6 W2 / §2.5 A7: whole-table window aggregates (z-score) -----
    "w2_global_window" -> ((s, dir) => {
      val w = Window.partitionBy()
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          round((col("s_acctbal") - avg(col("s_acctbal")).over(w)) /
            stddev_pop(col("s_acctbal")).over(w), 6).as("z"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- §2.7 date functions --------------------------------------------
    "d5_datefuncs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).as("days_since"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.1 S1/S6: TSV sink + source round-trip -----------------------
    "s1_tsv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val sample = t(s, dir, "region")
      // per-process fixed path (writeTsv overwrites): repeated invocations in
      // one JVM reuse a directory instead of leaking one per run, while
      // concurrent Verify/Bench processes never race on the same files
      val tmp = sys.props("java.io.tmpdir") +
        s"/graft-s1-${ProcessHandle.current().pid()}/region_tsv"
      graft.sources.Sources.writeTsv(sample, tmp)
      graft.sources.Sources.readTsv(s, tmp, Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
        .orderBy(col("r_regionkey"))
    }),

    // ============ statistical operators (reference's R stage) ============

    // ---- §2.8 R1: two-sample permutation test (seeded MC, distributed) --
    // The explicit 2^18 subsample gate is the scale story: below it (sf0.01
    // Verify, 60k rows) the full cohort runs — the rows-only value is
    // unchanged; above it (sf1+) the deterministic content-hash subsample
    // caps the collect AND the per-draw O(n) sweep, so cost stops growing
    // with data size — at sf100 an ungated run would collect ~600M rows
    // and sweep them 999 times. The ungated driver protocol stays as the
    // spec-pinned twin (StatsSpec); exact enumeration is ★r12.
    "r1_perm_test" -> ((s, dir) => {
      import s.implicits._
      // the PK rides along as gate-hash salt so duplicate prices gate
      // independently (row-level subsample, not duplicate-class-level)
      val li = t(s, dir, "lineitem")
        .select((col("l_returnflag") === "R").as("is_return"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val p = PermutationTest.onColumnsDistributed(li, "is_return",
        "l_extendedprice", nPerm = 999, seed = 42L, maxRows = 1 << 18,
        hashCols = Seq("l_orderkey", "l_linenumber"))
      Seq(("price_by_returnflag", p)).toDF("test", "p_value")
    }),

    // ---- §2.8 R1 exact twin: full C(16,k) enumeration on a FIXED cohort
    // (nation is constant at every SF; name lengths are integers, so every
    // subset sum is exact in double and the oracle can replay the whole
    // enumeration with a recursive CTE) ------------------------------------
    "r12_perm_exact" -> ((s, dir) => {
      import s.implicits._
      val nat = t(s, dir, "nation").where(col("n_nationkey") < 16)
        .select((length(col("n_name")) % 2 === 0).as("grp"),
          col("n_nationkey").cast("double").as("v"))
      val p = PermutationTest.onColumns(nat, "grp", "v")
      Seq(("nationkey_by_name_len_parity", p)).toDF("test", "p_value")
        .select(col("test"), round(col("p_value"), 6).as("p_value"))
    }),

    // ---- §2.8 R2: Fisher exact test (oracle: hypergeometric sum in SQL) -
    "r2_fisher" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .select((col("o_orderstatus") === "F").as("x"),
          (col("o_totalprice") > 100000).as("y"))
      val (a, b, c, d, p) = Fisher.test(o, "x", "y")
      Seq((a, b, c, d, p)).toDF("tt", "tf", "ft", "ff", "p_value")
        .select(col("tt"), col("tf"), col("ft"), col("ff"),
          round(col("p_value"), 6).as("p_value"))
    }),

    // ---- §2.8 R3a: pure BH over deterministic per-stratum rates ---------
    "r6_bh" -> ((s, dir) => {
      import s.implicits._
      val ps = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg((count(when(col("o_orderstatus") === "F", 1)).cast("double") /
          count(lit(1)) / 3).as("p"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      val rejected = FDR.benjaminiHochberg(ps.map(_._2), alpha = 0.05)
      ps.zipWithIndex.map { case ((stratum, p), i) =>
        (stratum, p, rejected.contains(i))
      }.toSeq.toDF("stratum", "p_value", "bh_reject").orderBy(col("stratum"))
    }),

    // ---- streaming batch-twin: mapGroupsWithState sessionization --------
    "e2_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      graft.streaming.EventStream.sessionize(ev).toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"))
    }),

    // ---- §2.7 extension: JSON column extraction -------------------------
    "e4_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_value"))
        .groupBy(col("k_value")).agg(count(lit(1)).as("n"))
        .orderBy(col("k_value"))
    }),

    // ---- as-of join (composed: tagged union + running last) -------------
    "e3_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.ops.AsOfJoin.asofBackward(clicks, errors, Seq("user_id"),
          "ts", "ts", Seq("event_id" -> "error_event_id"))
        .select(col("user_id"), col("event_id"), col("error_event_id"))
        .orderBy(col("event_id"))
    }),

    // ---- similarity: IVF ANN, k-means-trained, OUTCOME-oracled ----------
    // The k-means FIT stays engine-specific (rows-only was its old status),
    // but the fitted centers are exported and everything downstream —
    // L2 assignment (assignEuclidean, k-means' own assignment step as
    // relational math), probe selection, scoring, ranking — replays
    // bit-for-bit in a runtime-generated SQL oracle, the m4/m5 doctrine
    // applied to clustering.
    "n3_ann_ivf" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val (_, centers) = Embeddings.ivfIndex(emb, "embedding",
        nCentroids = 8, seed = 42L)
      n3FittedCenters = Some(centers)
      val assigned = Embeddings.assignEuclidean(emb, "embedding", centers)
      Embeddings.ivfTopK(assigned, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          centers, nProbe = 2, k = 3)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- §2.8 R3: BH + SABHA FDR over per-stratum Fisher p-values -------
    "r3_fdr" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          (col("o_orderstatus") === "F").as("x"),
          (col("o_totalprice") > 100000).as("y"))
      // ONE grouped pass for all strata's 2×2 tables (vs a scan per stratum)
      val perGroup = Fisher.testPerGroup(o, "o_orderpriority", "x", "y")
      val priorities = perGroup.map(_._1).toArray
      val ps = perGroup.map(_._2._5).toArray
      val bh = FDR.benjaminiHochberg(ps, alpha = 0.05)
      val sabhaLabels = FDR.sabhaSelect(ps, priorities).toSet
      priorities.zip(ps).zipWithIndex.map { case ((label, p), i) =>
        (label, p, bh.contains(i), sabhaLabels.contains(label))
      }.toSeq.toDF("stratum", "p_value", "bh_reject", "sabha_reject")
        .orderBy(col("stratum"))
    }),

    // ---- §2.8 R6: cost-optimal ROC threshold — distributed ρ-cost sweep,
    // exact LONG-arithmetic argmin so the result is engine-reproducible.
    // (The driver-collect thres2Equal/empiricalThreshold protocols mirror
    // the reference's R call shape and live on in MedicalPipeline/StatsSpec;
    // r10 is the binormal variant's hash-matched decimal-power-sum twin.) --
    "r4_roc_threshold" -> ((s, dir) => {
      // driver-side candidate sweep (bounded by distinct scores) — the
      // windowed empiricalCostThresholdDF stays as the spec-pinned twin
      Roc.empiricalCostThresholdDriver(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"),
        rhoNum = 1, rhoDen = 100)
    }),

    // ---- §2.8 R5: association rules (boolean contingency fast path; ≡
    // FP-Growth per StatsSpec, and exactly replicable in SQL) --------------
    "r5_assoc_rules" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_returnflag") === "R").as("is_return"),
        (col("l_quantity") > 25).as("high_qty"),
        (col("l_discount") >= 0.05).as("discounted"),
        (col("l_tax") > 0).as("taxed"),
        (col("l_extendedprice") > 50000).as("big_order"))
      AssociationRules.mineBoolean(li,
          Seq("is_return", "high_qty", "discounted", "taxed", "big_order"),
          minSupport = 0.05, minConfidence = 0.3, minLen = 2, maxLen = 5,
          minLift = 0.0)
        .select(col("antecedent"), col("consequent"),
          round(col("support"), 6).as("support"),
          round(col("confidence"), 6).as("confidence"),
          round(col("lift"), 6).as("lift"))
        .orderBy(col("antecedent"), col("consequent"))
    }),

    // ---- §2.8 R4: PERMANOVA (optional in reference, implemented) --------
    "r7_permanova" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").limit(200).select(
        col("l_returnflag"),
        (col("l_quantity") > 25).as("high_qty"),
        (col("l_discount") >= 0.05).as("discounted"),
        (col("l_tax") > 0.04).as("taxed"))
      val res = graft.stats.Permanova.test(li, "l_returnflag",
        Seq("high_qty", "discounted", "taxed"), nPerm = 199, seed = 42L)
      Seq((res.pseudoF, res.pValue, res.dispersionPValue))
        .toDF("pseudo_f", "p_value", "dispersion_p")
    }),

    // ---- §2.8 R4 exact twin: distributed PERMANOVA pseudo-F — the observed
    // Anderson statistic from pairwise squared Jaccard distances, all
    // integer arithmetic until the final divisions (oracle replays the
    // triangular self-join) ------------------------------------------------
    "r13_permanova_stat" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 150)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("f_pos"),
          (col("c_acctbal") > 5000).as("f_rich"),
          (col("c_nationkey") < 12).as("f_west"),
          (length(col("c_name")) % 2 === 0).as("f_even"))
      graft.stats.Permanova.pseudoFDF(c, "c_custkey", "c_mktsegment",
        Seq("f_pos", "f_rich", "f_west", "f_even"))
    }),

    // ---- §2.8 rank-test extensions: Mann–Whitney U (r17) and two-sample
    // KS (r18), both over value-level counts + the integer-exact sharded
    // prefix sum (no global sort). r17's outputs are exact LONGs plus one
    // closed-form z whose expression tree the oracle mirrors; r18's D is
    // an exact integer numerator over n_a·n_b — no float in the extremum
    // search at all. ------------------------------------------------------
    // ---- §2.8 chi-squared independence (r19): corpus → R×C cells in one
    // groupBy, margins + contributions as cell-level windows, chi² as a
    // RUNNING sum in (row, col) order so the FP association is a fixed
    // chain both engines reproduce. ---------------------------------------
    "r19_chi2" -> ((s, dir) => {
      graft.stats.ChiSquare.contingencyDF(
          t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .select(col("l_returnflag"), col("l_linestatus"), col("o"),
          round(col("expected"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"),
          round(col("chi2_running"), 6).as("chi2_running"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "r17_mannwhitney" -> ((s, dir) => {
      graft.stats.RankTests.mannWhitneyDF(
          t(s, dir, "lineitem"), "l_quantity", col("l_returnflag") === "R")
        .select(col("n_a"), col("n_b"), col("u2"), col("tie_term"),
          round(col("z"), 6).as("z"))
    }),

    // ---- §2.8 Brunner–Munzel (r74): the variance-robust replacement for
    // r17 — P(A<B)+½P(A=B) with studentized statistic and Satterthwaite
    // df; doubled-midrank integer moments off the same sharded prefix. ---
    "r74_brunner_munzel" -> ((s, dir) => {
      graft.stats.RankTests.brunnerMunzelDF(
        t(s, dir, "lineitem"), "l_quantity", col("l_discount") >= 0.05)
    }),

    "r18_ks_test" -> ((s, dir) => {
      graft.stats.RankTests.ksDF(
        t(s, dir, "lineitem"), "l_extendedprice", col("l_returnflag") === "R")
    }),

    // ---- §2.8 Kruskal–Wallis (r20): k-group generalization of r17 —
    // integer doubled rank sums per group via the same sharded prefix,
    // H as the r19-style fixed running chain over the k-row group frame. -
    "r20_kruskal" -> ((s, dir) => {
      graft.stats.RankTests.kruskalWallisDF(
        t(s, dir, "lineitem"), "l_quantity", "l_returnflag")
    }),

    // ---- §2.8 Spearman rank correlation (r21): two value-level rank
    // maps (sharded prefix each), two row-level equi-joins, five exact
    // DECIMAL power sums over integer doubled ranks, one closed-form ρ. --
    "r21_spearman" -> ((s, dir) => {
      graft.stats.RankTests.spearmanDF(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice")
    }),

    // ---- §2.8 Welch's t-test (r22): the parametric sibling of r1's
    // permutation test — the corpus reduces to six exact aggregates in
    // ONE map-side-combined pass; t and the Welch–Satterthwaite df are a
    // fixed expression tree over them. ------------------------------------
    "r22_welch" -> ((s, dir) => {
      graft.stats.TTest.welchDF(
        t(s, dir, "lineitem"), "l_extendedprice", col("l_returnflag") === "R")
    }),

    // ---- §2.8 one-way ANOVA (r23): k-group parametric sibling — exact
    // decimal power sums per group in one pass, SS chains + F as fixed
    // running windows over the k-row group frame. ------------------------
    "r23_anova" -> ((s, dir) => {
      graft.stats.Anova.onewayDF(
        t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag")
    }),

    // ---- §2.8 Cramér's V (r25): the [0,1] effect size over the r19
    // chi² chain — max(chi2_running) IS the final link (contributions
    // are non-negative), V one fixed tree over it. ------------------------
    "r25_cramers_v" -> ((s, dir) => {
      graft.stats.ChiSquare.cramersVDF(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    }),

    // ---- §2.8 Kaplan–Meier (r26): time-to-ship survival with returns as
    // right-censoring — value-level (distinct day) frame via the sharded
    // prefix, survival as the running log-sum product (t13 precedent). ---
    "r26_kaplan_meier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierDF(cohort, "ship_days", col("kept"))
    }),

    // ---- §2.8 KM Greenwood bands (r66): r26's curve with the Greenwood
    // variance chain — one more running sum of exact-long divisions over
    // the same distinct-time frame; 95% linear band clamped to [0,1]. ----
    "r66_km_greenwood" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierGreenwoodDF(cohort, "ship_days", col("kept"))
    }),

    // ---- §2.8 stratified KM (r67): one curve per priority class with
    // every window PARTITIONED by stratum — no global window, no sharded
    // prefix; one groupBy + one shuffle by group (the preferred 100 TB
    // survival shape when a stratification key exists). -----------------
    "r67_km_stratified" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .where(col("o_orderpriority").isNotNull)
        .select(substring(col("o_orderpriority"), 1, 1).as("prio"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierByGroupDF(
        cohort, "prio", "ship_days", col("kept"))
    }),

    // ---- §2.8 restricted mean survival time (r68): area under the KM
    // step curve to a 60-day horizon — lag/lead rides on r26's
    // distinct-time frame, exact integer day spans × previous raw
    // survival, running chain whose last row is the estimate. ------------
    "r68_rmst" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.rmstDF(cohort, "ship_days", col("kept"), tau = 60L)
    }),

    // ---- §2.8 competing risks CIF (r69): Aalen–Johansen cumulative
    // incidence for returnflag A vs N with R as censoring — the all-cause
    // ln-chain, its lag, one running chain per cause;
    // cif1 + cif2 + survival = 1 row-wise. -------------------------------
    "r69_competing_risks" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), col("l_returnflag"))
        .where(col("l_returnflag").isNotNull)
      graft.stats.Survival.cumulativeIncidenceDF(cohort, "ship_days",
        col("l_returnflag") === "A", col("l_returnflag") === "N")
    }),

    // ---- §2.8 log-rank test (r27): does order priority shift the
    // time-to-ship curve? Two sharded prefixes (per-arm risk sets), all
    // integer until the per-time division, running chains to the stat. ---
    "r27_logrank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("urgent"))
      graft.stats.Survival.logRankDF(cohort, "ship_days", col("kept"), col("urgent"))
    }),

    // ---- §2.8 Wilcoxon signed-rank (r28): PAIRED quantities — line 1 vs
    // line 2 of the same order; |d| ranks via the sharded prefix, three
    // exact longs + one closed-form z. ------------------------------------
    "r28_signed_rank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("x"))
      val l2 = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("y"))
      graft.stats.RankTests.signedRankDF(l1.join(l2, "k"), "x", "y")
    }),

    // ---- §2.8 paired sign test (r41) — the distribution-free sibling of
    // r28 that only needs the SIGN of each paired difference: three longs
    // and one fixed z tree (continuity-corrected normal approximation). --
    "r41_sign_test" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("x"))
      val l2 = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("y"))
      val d = l1.join(l2, "k")
        .agg(sum(when(col("x") > col("y"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("x") < col("y"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("x") === col("y"), 1L).otherwise(0L)).as("n_tie"))
      val m = (col("n_pos") + col("n_neg")).cast("double")
      d.select(col("n_pos"), col("n_neg"), col("n_tie"),
        when(col("n_pos") + col("n_neg") > 0,
          round((abs(col("n_pos").cast("double") - m / lit(2.0)) - lit(0.5)) /
            sqrt(m / lit(4.0)), 6)).as("z"))
    }),

    // ---- §2.8 Mantel–Haenszel (r29): discount→return association
    // adjusted for ship-year strata — 2×2 cells per stratum in one
    // groupBy, per-stratum OR/RR + pooled MH/CMH running chains. ----------
    "r29_mantel_haenszel" -> ((s, dir) => {
      graft.stats.Epi.mantelHaenszelDF(
        t(s, dir, "lineitem").withColumn("ship_year",
          year(col("l_shipdate")).cast("string")),
        "ship_year", col("l_discount") >= 0.05, col("l_returnflag") === "R")
    }),

    // ---- §2.8 mutual information / NMI (r30): the feature-relevance
    // score over the r19 cell frame — one corpus groupBy, running chains
    // for MI and both marginal entropies, 1-row cross joins to combine. --
    "r30_mutual_info" -> ((s, dir) => {
      graft.stats.ChiSquare.mutualInformationDF(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    }),

    // ---- §2.8 Cochran–Armitage trend (r31): does the return rate move
    // with the discount dose? One map-side aggregate to five exact longs,
    // one closed-form z — no shuffle beyond the 1-row reduction. ----------
    "r31_trend_test" -> ((s, dir) => {
      graft.stats.Epi.cochranArmitageDF(
        t(s, dir, "lineitem").withColumn("dose",
          floor(col("l_discount") * 100 + lit(0.5))),
        "dose", col("l_returnflag") === "R")
    }),

    // ---- §2.8 Friedman test (r32): repeated measures — do the first
    // three line positions of an order differ in quantity? In-block ranks
    // via two PARTITIONED windows (no corpus sort), k-row running chain. -
    "r32_friedman" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("blk"),
          col("l_linenumber").cast("string").as("trt"),
          col("l_quantity").cast("long").as("v"))
        .where(col("v").isNotNull)
      // completeness as a count window over the SAME blk partitioning the
      // rank windows need — one shuffle, no groupBy+self-join (identical
      // rows kept: count-per-blk == 3)
      val wBlk = org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))
      val complete3 = li.withColumn("__c", count(lit(1)).over(wBlk))
        .where(col("__c") === 3).drop("__c")
      graft.stats.RankTests.friedmanDF(complete3, "blk", "trt", "v")
    }),

    // ---- §2.8 Cohen's kappa (r33): chance-corrected agreement between
    // the return flag and a discount-rule prediction over the same label
    // space — three exact longs, one division, no chains. -----------------
    "r33_cohen_kappa" -> ((s, dir) => {
      graft.stats.ChiSquare.cohenKappaDF(
        t(s, dir, "lineitem").withColumn("pred",
          when(col("l_discount") >= 0.06, "R")
            .when(col("l_discount") >= 0.03, "N").otherwise("A")),
        "l_returnflag", "pred")
    }),

    // ---- §2.8 incidence-rate ratio (r34): returns per shipping-day
    // across priority arms — person-time = inclusive ship days, one
    // map-side aggregate to four longs, IRR + conditional score z. -------
    "r34_rate_ratio" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          + lit(1)).as("days"), (col("l_returnflag") === "R").as("ret"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("urgent"))
      graft.stats.Epi.rateRatioDF(cohort, col("urgent"), col("ret"), "days")
    }),

    // ---- events: CUSUM drift detection (e15) — the stateful
    // max(0, S+(c−k)) recurrence as TWO partitioned running windows via
    // the reflection identity; doubled-unit integers end to end. ----------
    "e15_cusum" -> ((s, dir) => {
      graft.ops.Resample.cusumDetect(Tables.events(s, dir),
          "event_type", "ts", "hour", target2 = 5L, threshold2 = 40L)
        .select(col("key"), col("bucket_ts").cast("long").as("bucket_ts"),
          col("c"), col("cusum2"), col("alarm"))
        .orderBy(col("key"), col("bucket_ts"))
    }),

    // ---- events: cohort retention triangle (e16) — users cohorted by
    // first active day; distinct (user, day) activity, one user-keyed
    // join, count(*) over unique pairs IS the distinct-user count. -------
    "e16_retention" -> ((s, dir) => {
      graft.ops.Resample.retentionCohorts(
          Tables.events(s, dir), "user_id", "ts", horizon = 14)
        .select(col("cohort").cast("string").as("cohort"),
          col("k").cast("long").as("k"), col("n_users"), col("cohort_size"),
          col("pct"))
        .orderBy(col("cohort"), col("k"))
    }),

    // ---- data quality: Benford first-digit audit (q13) — the fraud /
    // entry-error screen: decimal-string digit census vs log10(1+1/d),
    // χ² as the r19 running chain over the 9-digit frame. ----------------
    "q13_benford" -> ((s, dir) => {
      graft.ops.Profile.benfordDF(t(s, dir, "lineitem"), "l_extendedprice")
    }),

    // ---- data quality: functional-dependency discovery (q14) — the
    // key/normalization census over every ordered column pair: one
    // stacked explode, one dedup shuffle, pure distinct-count integers. --
    "q14_fd_discovery" -> ((s, dir) => {
      graft.ops.Profile.fdDiscovery(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
    }),

    // ---- feature selection: information-gain census (q15) — r30's MI
    // swept across many features vs one label in ONE stacked job; every
    // window PARTITIONED by feature, nothing global. ---------------------
    "q15_info_gain" -> ((s, dir) => {
      graft.stats.ChiSquare.featureInfoGainDF(
        t(s, dir, "lineitem"), col("l_returnflag"),
        Seq("l_linestatus" -> col("l_linestatus"),
          "l_linenumber" -> col("l_linenumber"),
          "ship_year" -> year(col("l_shipdate"))))
    }),

    // ---- monitoring: population stability index (q16) — input-drift
    // census between two cohorts over row-local fixed-width bins;
    // Laplace-smoothed shares, the r19/q13 running chain. ----------------
    "q16_psi" -> ((s, dir) => {
      graft.ops.Profile.psiDF(t(s, dir, "orders"), "o_totalprice",
        year(col("o_orderdate")) <= 1995, binWidth = 50000.0)
    }),

    // ---- monitoring: PSI drift matrix (q24) — q16 swept across order
    // years vs the first year; period×bin grid, Laplace shares, every
    // window PARTITIONED by period. ---------------------------------------
    "q24_psi_drift" -> ((s, dir) => {
      graft.ops.Profile.psiByPeriodDF(t(s, dir, "orders"), "o_totalprice",
        year(to_date(col("o_orderdate"))), binWidth = 50000.0)
    }),

    // ---- profiling: Pearson correlation matrix (q17) — every column
    // pair's exact CENT-long power sums in ONE aggregate pass, pairwise-
    // complete convention, one fixed double tree per pair. ---------------
    "q17_corr_matrix" -> ((s, dir) => {
      graft.ops.Profile.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }),

    // ---- joins: point-in-interval bracket lookup (j10) — the IP-geo /
    // rate-card shape: broadcast sorted interval starts, per-row codegen
    // binary search, index equi-join back to the dim; zero shuffle on
    // the fact side, no BETWEEN nested loop. -----------------------------
    "j10_bracket_lookup" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(
        (0L, 9999999L, "lt_100k"),
        (10000000L, 24999999L, "100k_250k"),
        (25000000L, 39999999L, "250k_400k")).toDF("lo", "hi", "bracket")
      val pts = t(s, dir, "orders").select(
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("cents"))
      graft.ops.IntervalJoin.pointLookup(pts, "cents", dim, "lo", "hi",
          Seq("bracket" -> "bracket"))
        .groupBy(coalesce(col("bracket"), lit("none")).as("bracket"),
          col("in_range"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy(col("bracket"), col("in_range"))
    }),

    // ---- ML: confusion-matrix evaluation report (m10) — the fitted m4
    // tree scored on the held-out half; tp/fp/fn/tn integers, accuracy /
    // precision / recall / F1 as guarded fixed trees (the exported-
    // artifact oracle replays the scoring). ------------------------------
    "m10_confusion" -> ((s, dir) => {
      // pinned: fit + test scan over one materialization (m21/m22 pin
      // doctrine — fit-safe, see m4)
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey")).localCheckpoint()
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val spec = graft.ml.CohortClassifier.fitTreeSpec(
        o.where(!isTest), Seq("o_totalprice", "is_urgent", "order_year"),
        "label", maxDepth = 4)
      m10ConfusionSpec = Some(spec)
      val scored = o.where(isTest)
        .withColumn("pred",
          (graft.ml.TreeScorer.compile(spec) >= 0.5).cast("int"))
      val cells = scored.agg(
        count(lit(1)).as("n"),
        sum(when(col("label") === 1.0 && col("pred") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("label") === 0.0 && col("pred") === 1, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("label") === 1.0 && col("pred") === 0, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("label") === 0.0 && col("pred") === 0, 1L)
          .otherwise(0L)).as("tn"))
      val tpd = col("tp").cast("double"); val fpd = col("fp").cast("double")
      val fnd = col("fn").cast("double")
      cells.select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")).cast("double") /
          col("n").cast("double"), 6).as("accuracy"),
        when(col("tp") + col("fp") > 0,
          round(tpd / (col("tp") + col("fp")).cast("double"), 6)).as("prec"),
        when(col("tp") + col("fn") > 0,
          round(tpd / (col("tp") + col("fn")).cast("double"), 6)).as("rec"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * tpd / (lit(2.0) * tpd + fpd + fnd), 6)).as("f1"))
    }),

    // ---- §2.8 Wilson 95% CI per group (r39) — the proportion interval
    // that stays inside [0,1]; one fixed double tree per group row. ------
    "r39_wilson" -> ((s, dir) => {
      graft.stats.Proportion.wilsonDF(t(s, dir, "orders"),
        "o_orderpriority", col("o_orderstatus") === "F")
    }),

    // ---- §2.8 Kendall's τ-b (r40) — concordant/discordant pair census
    // on the DIMENSION-SIZED cell frame (never an O(n²) row join), tie
    // corrections from exact margins, one double tree. -------------------
    "r40_kendall" -> ((s, dir) => {
      graft.stats.RankTests.kendallTauDF(
        t(s, dir, "lineitem"), "l_quantity", "l_discount")
    }),

    // ---- events: gaps-and-islands segmentation (e20) — maximal
    // consecutive-bucket runs per key via the idx − row_number constant;
    // sparse high-value events make real gaps. ---------------------------
    "e20_islands" -> ((s, dir) => {
      graft.ops.Resample.activityIslands(
        Tables.events(s, dir).where(col("value") >= 19.0),
        "event_type", "ts", "hour")
    }),

    // ---- events: per-(type, day) latency bands (e17) — exact type-1
    // p50/p95/max from the q10 cent-cell cumsum, keyed shuffle only. -----
    "e17_latency_bands" -> ((s, dir) => {
      graft.ops.Quality.quantileBands(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")).cast("string")),
        Seq("event_type", "day"), "value")
    }),

    // ---- events: integer-exact autocorrelation (e18) — the seasonality
    // detector: r_k scaled through by n² so every sum is integer, one
    // division per (key, lag). -------------------------------------------
    "e18_acf" -> ((s, dir) => {
      graft.ops.Resample.acfCounts(Tables.events(s, dir), "event_type", "ts",
        "hour", maxLag = 6)
    }),

    // ---- §2.8 Breslow–Day homogeneity (r35): is r29's pooling valid?
    // Pooled ψ from the MH chains' last link, per-stratum expected a-cell
    // from the closed-form OR quadratic, harmonic variance, BD chain. ----
    "r35_breslow_day" -> ((s, dir) => {
      graft.stats.Epi.breslowDayDF(
        t(s, dir, "lineitem").withColumn("ship_year",
          year(col("l_shipdate")).cast("string")),
        "ship_year", col("l_discount") >= 0.05, col("l_returnflag") === "R")
    }),

    // ---- §2.8 DerSimonian–Laird random-effects meta-analysis (r71): the
    // per-site pooling MH can't license under heterogeneity — per-nation
    // log-OR of high-priority vs returned, Haldane-corrected, Q/τ², fixed
    // AND random-effects running chains over the 25-study frame. ----------
    "r71_meta_dl" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val src = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .where(col("l_returnflag").isNotNull && col("o_orderpriority").isNotNull)
      graft.stats.Epi.dersimonianLairdDF(src, "n_name",
        substring(col("o_orderpriority"), 1, 1).isin("1", "2"),
        col("l_returnflag") === "R")
    }),

    // ---- §2.8 IPW average treatment effect (r72): the causal-inference
    // readout — logistic propensity e(x) on the covariate CELL frame
    // (exported-β oracle), Hájek-normalized inverse-propensity sums vs
    // the confounded naive difference, running chains over the 4-cell
    // frame so the last row carries both estimates. ----------------------
    "r72_ipw_ate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").where(col("l_discount").isNotNull &&
        col("l_tax").isNotNull && col("l_shipdate").isNotNull &&
        col("l_quantity").isNotNull)
      val treat = col("l_discount") >= 0.05
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "tax_hi" -> (col("l_tax") >= 0.04),
        "month_hi" -> (month(to_date(col("l_shipdate"))) >= 7))
      val fit = graft.ml.Logistic.irlsFitCells(li, treat, feats)
      r72PsFit = Some(fit)
      val cells = li
        .groupBy((col("l_tax") >= 0.04).cast("int").as("tax_hi"),
          (month(to_date(col("l_shipdate"))) >= 7).cast("int").as("month_hi"))
        .agg(count(lit(1)).as("n"),
          sum(treat.cast("long")).as("nt"),
          sum(when(treat, col("l_quantity").cast("long")).otherwise(0L)).as("sy_t"),
          sum(when(!treat, col("l_quantity").cast("long")).otherwise(0L)).as("sy_c"))
      val e = lit(1.0) / (lit(1.0) + exp(-graft.ml.Logistic.margin(fit)))
      val runW = Window.partitionBy()
        .orderBy(col("tax_hi").asc, col("month_hi").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("__e", e)
        .withColumn("__swt", sum(col("nt").cast("double") / col("__e")).over(runW))
        .withColumn("__swy", sum(col("sy_t").cast("double") / col("__e")).over(runW))
        .withColumn("__sct", sum((col("n") - col("nt")).cast("double") /
          (lit(1.0) - col("__e"))).over(runW))
        .withColumn("__scy", sum(col("sy_c").cast("double") /
          (lit(1.0) - col("__e"))).over(runW))
        .withColumn("__ntr", sum(col("nt")).over(runW))
        .withColumn("__nr", sum(col("n")).over(runW))
        .withColumn("__sytr", sum(col("sy_t")).over(runW))
        .withColumn("__sycr", sum(col("sy_c")).over(runW))
        .select(col("tax_hi"), col("month_hi"), col("n"), col("nt"),
          col("sy_t"), col("sy_c"), round(col("__e"), 6).as("e_hat"),
          round(col("__swy") / col("__swt") - col("__scy") / col("__sct"), 6)
            .as("ate_run"),
          round(col("__sytr").cast("double") / col("__ntr").cast("double") -
            col("__sycr").cast("double") /
              (col("__nr") - col("__ntr")).cast("double"), 6).as("naive_run"))
        .orderBy(col("tax_hi"), col("month_hi"))
    }),

    // ---- §2.8 two-way ANOVA (r76): Type-I sequential decomposition of
    // o_totalprice over priority × status with interaction — four nested
    // exact-moment OLS fits off ONE moment pass, SS/F per term; raw-double
    // SS (the r23 large-magnitude rule), exported βs replay the trees. ---
    "r76_two_way_anova" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_totalprice").isNotNull &&
        col("o_orderpriority").isNotNull && col("o_orderstatus").isNotNull)
      val y = col("o_totalprice")
      val xsA = Seq("1", "2", "3", "4").map(l => (s"a_$l",
        (substring(col("o_orderpriority"), 1, 1) === l).cast("int")))
      val xsB = Seq("F", "O").map(l => (s"b_$l",
        (col("o_orderstatus") === l).cast("int")))
      val xsAB = for { (an, ac) <- xsA; (bn, bc) <- xsB }
        yield (s"${an}_$bn", (ac * bc))
      val xsFull = xsA ++ xsB ++ xsAB
      val R = graft.stats.Regression
      // ONE moment pass serves all three nested fits AND the output trees
      // (bit-identical to per-model passes: subset sums are the same
      // exact aggregates); the 1-row localCheckpoint stops the output
      // select from re-running the corpus aggregate
      val mo = R.olsMoments(o, y, xsFull).localCheckpoint()
      val moRow = mo.head()
      val fitA = R.olsFitFromMomentsRow(moRow, xsA.map(_._1), 0 until 4)
      val fitAB = R.olsFitFromMomentsRow(moRow,
        (xsA ++ xsB).map(_._1), 0 until 6)
      val fitF = R.olsFitFromMomentsRow(moRow, xsFull.map(_._1), 0 until 14)
      r76AnovaFits = Some((fitA.beta, fitAB.beta, fitF.beta))
      val nd = col("n").cast("double")
      val sse0 = col("s_yy").cast("double") -
        col("s_y").cast("double") * col("s_y").cast("double") / nd
      val st = mo.select(col("n"), sse0.as("sse0"),
        R.nestedSseExpr(fitA.beta, 0 until 4).as("sse_a"),
        R.nestedSseExpr(fitAB.beta, 0 until 6).as("sse_ab"),
        R.nestedSseExpr(fitF.beta, 0 until 14).as("sse_f"))
      val rows = st.selectExpr("n", "sse_f",
        "stack(3, 'A', 4L, sse0 - sse_a, 'B', 2L, sse_a - sse_ab, " +
          "'AxB', 8L, sse_ab - sse_f) AS (term, df1, ss)")
      rows.select(col("term"), col("df1"), col("n"), col("ss"),
          round((col("ss") / col("df1").cast("double")) /
            (col("sse_f") / (col("n").cast("double") - lit(15.0))), 4).as("f"))
        .orderBy(col("term"))
    }),

    // ---- §2.8 pairwise Welch post-hoc (r73): WHERE the r23 ANOVA's
    // difference lives — all 10 priority pairs, exact power-sum cells,
    // Bonferroni z_{α/(2m)} as a JVM literal both sides. -----------------
    "r73_pairwise_welch" -> ((s, dir) => {
      graft.stats.TTest.pairwiseWelchDF(t(s, dir, "orders"),
        "o_totalprice", "o_orderpriority", r73CritZ)
    }),

    // ---- §2.8 McNemar's paired test (r36): did the return outcome flip
    // between line 1 and line 2 of the same order? Four cells in one
    // aggregate, the discordant-cell χ² ± continuity correction. ---------
    "r36_mcnemar" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), (col("l_returnflag") === "R").as("r1"))
      val l2 = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("k"), (col("l_returnflag") === "R").as("r2"))
      graft.stats.Epi.mcnemarDF(l1.join(l2, "k"), col("r1"), col("r2"))
    }),

    // ---- §2.8 Brown–Forsythe homogeneity of variance (r38): the robust
    // Levene test — exact type-1 group medians off the half-cent cell
    // cumsum, |dev| stays integer, W as the r23 running-chain ANOVA tree. -
    "r38_levene" -> ((s, dir) => {
      graft.stats.Anova.brownForsytheDF(
        t(s, dir, "orders"), "o_totalprice", "o_orderpriority")
    }),

    // ---- §2.9 logistic regression via IRLS on the cell frame (r37):
    // binomial cells are sufficient statistics, so ONE groupBy feeds a
    // bounded deterministic driver Newton loop; β exports as literals and
    // the per-cell scores replay relationally (the m4/m5 doctrine). ------
    "r37_logistic" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "disc_hi" -> (col("l_discount") >= 0.05),
        "qty_hi" -> (col("l_quantity") >= 25),
        "tax_hi" -> (col("l_tax") >= 0.04))
      val fit = graft.ml.Logistic.irlsFitCells(
        li, col("l_returnflag") === "R", feats)
      r37LogisticFit = Some(fit)
      val cells = li.where(col("l_discount").isNotNull &&
          col("l_quantity").isNotNull && col("l_tax").isNotNull &&
          col("l_returnflag").isNotNull)
        .groupBy((col("l_discount") >= 0.05).cast("int").as("disc_hi"),
          (col("l_quantity") >= 25).cast("int").as("qty_hi"),
          (col("l_tax") >= 0.04).cast("int").as("tax_hi"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_returnflag") === "R").cast("int")).as("y"))
      cells.withColumn("eta", graft.ml.Logistic.margin(fit))
        .select(col("disc_hi"), col("qty_hi"), col("tax_hi"), col("n"),
          col("y"), round(col("eta"), 6).as("eta"),
          round(lit(1.0) / (lit(1.0) + exp(-col("eta"))), 6).as("p_hat"))
        .orderBy(col("disc_hi"), col("qty_hi"), col("tax_hi"))
    }),

    // ---- decade (log-scale) histogram (h4) — order-of-magnitude census
    // without log10 in the chain (the q13 decimal-string doctrine): the
    // decade IS the integer-digit count of the DECIMAL(18,2) string. -----
    "h4_log_histogram" -> ((s, dir) => {
      val sdec = col("l_extendedprice").cast("decimal(18,2)").cast("string")
      t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull &&
          col("l_extendedprice") >= 1.0)
        .select((instr(sdec, ".") - 2).cast("long").as("decade"),
          col("l_extendedprice").cast("decimal(18,2)").as("v"))
        .groupBy(col("decade"))
        .agg(count(lit(1)).as("n"), min(col("v")).cast("double").as("vmin"),
          max(col("v")).cast("double").as("vmax"))
        .orderBy(col("decade"))
    }),

    // ---- 2-D equi-width heatmap (h3): the joint-density frame — in-query
    // extrema, one integer bin expression per dim, ≤ nx·ny cells shuffle. -
    "h3_heatmap" -> ((s, dir) => {
      graft.ops.Histogram.heatmap2d(
        t(s, dir, "lineitem"), "l_extendedprice", "l_quantity", nx = 8, ny = 8)
    }),

    // ---- equi-depth histogram (h2): k ≈n/k-row buckets via the sharded
    // prefix rank — bucket = (cum·k) DIV n, pure integer arithmetic. -----
    "h2_histogram_depth" -> ((s, dir) => {
      graft.ops.Histogram.equiDepth(
        t(s, dir, "lineitem"), "l_extendedprice", k = 16)
    }),

    // ---- IDENTITY assignment (s33): dense sequential ids over the
    // doc_id order via the sharded prefix (no global sort); the append's
    // start comes from fastStats' metadata-only MAX — no high-water scan.
    "s33_identity" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s33-$pid/doc_ids_$sfx"
      val S = graft.sources.SnapshotTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      if (S.latestVersion(root) == 0) {
        S.write(graft.ops.Identity.assignIds(
            docs.where(col("doc_id") < 250), "doc_id", "row_id", start = 1000L)
            .coalesce(1),
          root, statsCols = Seq("row_id"))
        val next = S.fastStats(root, Seq("row_id")).get._2("row_id")._2.toLong + 1
        S.write(graft.ops.Identity.assignIds(
            docs.where(col("doc_id") >= 250), "doc_id", "row_id", start = next)
            .coalesce(1),
          root, mode = "append", statsCols = Seq("row_id"))
      }
      S.read(s, root).select(col("doc_id"), col("row_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- §2.8 Jarque–Bera normality (r24): the moment sanity check the
    // parametric tests assume — cent-integer power sums in one pass, the
    // statistic as one fixed double tree. ---------------------------------
    "r24_jarque_bera" -> ((s, dir) => {
      graft.stats.TTest.jarqueBeraDF(t(s, dir, "lineitem"), "l_extendedprice")
    }),

    // ---- data-quality: per-group Tukey-fence outlier census (q10) over
    // EXACT type-1 rank quantiles — half-cent integer scaling makes the
    // quantiles, fences, and outlier comparisons pure LONG arithmetic. ----
    "q10_iqr_outliers" -> ((s, dir) => {
      graft.ops.Quality.iqrOutliers(
          t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag")
        .orderBy(col("grp"))
    }),

    // ---- column profiling census (q11): the ANALYZE-TABLE surface — one
    // conditional-agg pass for counts/extrema, one stacked-cell pass for
    // exact distincts and deterministic modes (ties → smallest value). ---
    "q11_profile" -> ((s, dir) => {
      graft.ops.Profile.profile(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))
    }),

    // ---- §2.8 R4 distributed beta-dispersion twin: the betadisper leg of
    // PERMANOVA over the same pair stream as r13 — per-point mean Jaccard
    // distance to own-group members, per-group mean/max, all-integer sums
    // (scale = lcm(1..4) = 12 turns every distance into an integer) so the
    // DuckDB replay is bit-exact. Removes the last O(n²)-driver stat. ----
    "r16_dispersion" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 150)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("f_pos"),
          (col("c_acctbal") > 5000).as("f_rich"),
          (col("c_nationkey") < 12).as("f_west"),
          (length(col("c_name")) % 2 === 0).as("f_even"))
      graft.stats.Permanova.dispersionDF(c, "c_custkey", "c_mktsegment",
        Seq("f_pos", "f_rich", "f_west", "f_even"))
        .orderBy(col("grp"))
    }),

    // ---- §2.5 explicit rollup (subtotals + grand total) -----------------
    "q7_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- §2.5 explicit cube (all dimension subsets) ---------------------
    "q8_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    }),

    // ---- explicit GROUPING SETS (q9): the arbitrary-subset form rollup/
    // cube can't express — (status, priority) detail, per-status, per-
    // priority, but NO grand total. One pass, grouping_id disambiguates. --
    "q9_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("__q9_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(1) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS total,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        FROM __q9_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority""")
    }),

    // ---- text analysis: URL/domain extraction + per-domain stats (t16) —
    // the C4-style link census. documents carry no natural URLs, so
    // deterministic synthetic links are appended per row on BOTH sides (the
    // t5 PII pattern); the regex chain + domain normalization is what's
    // under test. regexp_extract_all is native in both engines. ----------
    "t16_domain_stats" -> ((s, dir) => {
      val augmented = t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" see https://site"), col("doc_id") % 7,
          lit(".example.com/p/"), col("doc_id"),
          lit(" and http://mirror"), col("doc_id") % 3,
          lit(".example.org/x")).as("text"))
      augmented
        .select(col("doc_id"), explode(expr(
          """regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1)"""))
          .as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // ---- text: TF-IDF top terms per document (t18) — the keyword-
    // extraction census: one explode→tf aggregate, broadcast df/N stats,
    // a partitioned top-k window; score rounds before ranking so the
    // order is engine-reproducible. --------------------------------------
    "t18_tfidf" -> ((s, dir) => {
      graft.text.Search.tfIdfTopTerms(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text", topK = 3)
    }),

    // ---- deterministic content-hash sampling (layout-independent) -------
    "s3_hash_sample" -> ((s, dir) => {
      graft.ops.Sampling.hashSample(
          t(s, dir, "documents"), col("doc_id"), rate = 0.25)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- data-mixing mixture sample: per-source token budgets → keep
    // rates from one aggregation, content-hash row decisions. Budgets span
    // rate≥1 (src0 kept whole), mid rates, and a tiny budget (src4) ------
    "s6_mixture_sample" -> ((s, dir) => {
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents"), col("source"), col("doc_id"), col("n_chars"),
          Map("src0" -> 1000000L, "src1" -> 4000L, "src2" -> 2000L,
            "src3" -> 6000L, "src4" -> 500L))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-stratum rate sampling: content-hash decisions, unlisted
    // strata dropped (the sampleBy contract, layout-independent) ----------
    "s7_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedHashSample(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          col("source"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 1.0, "src2" -> 0.1, "src3" -> 0.02))
        .orderBy(col("doc_id"))
    }),

    // ---- weighted systematic sample: PPS without replacement on the
    // exact cumulative char-weight line (sharded prefix sum, long-only
    // DIV arithmetic) — k equal buckets, keep each boundary-completing
    // row. Deterministic, RNG-free, layout-independent. ------------------
    "s30_systematic_sample" -> ((s, dir) => {
      graft.ops.Sampling.systematicSample(
          t(s, dir, "documents"), "doc_id", "n_chars", k = 40)
        .orderBy(col("doc_id"))
    }),

    // ---- Efraimidis–Spirakis weighted reservoir (s37): top-k sampling
    // without replacement, inclusion ∝ o_totalprice; u from the content
    // hash (52 md5 bits), rank key ln(u)/w, TakeOrdered plan (no global
    // sort, no RNG). -----------------------------------------------------
    "s37_weighted_sample" -> ((s, dir) => {
      graft.ops.Sampling.weightedReservoir(
        t(s, dir, "orders"), "o_orderkey", "o_totalprice", k = 100)
    }),

    // ---- column-mapping RENAME (s31): one metadata commit, zero file
    // rewrites — writes before and after the rename, a keyed merge under
    // the new name, head + time-traveled summaries. The oracle replays
    // the whole lifecycle relationally; the rename itself is invisible to
    // it, which is exactly the contract (same data, new logical name). --
    "s31_column_mapping" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s31-$pid/cust_cm_$sfx"
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 300).coalesce(1), root,
          mode = "overwrite", statsCols = Seq("c_acctbal"))          // v1
        S.renameColumn(root, "c_acctbal", "balance")                 // v2
        S.write(cust.where(col("c_custkey").between(301, 500))
            .withColumnRenamed("c_acctbal", "balance").coalesce(1),
          root, mode = "append", statsCols = Seq("balance"))         // v3
        S.merge(cust.where(col("c_custkey").between(250, 350))
            .select(col("c_custkey"),
              round(col("c_acctbal") + 1000, 2).as("balance"),
              col("c_mktsegment")),
          root, Seq("c_custkey"))                                    // v4
      }
      def summary(df: org.apache.spark.sql.DataFrame, bal: String, v: Int) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            round(sum(col(bal).cast("decimal(18,2)"))
              .cast("double"), 2).as("bal_sum"))
          .withColumn("version", lit(v))
      summary(S.read(s, root, Some(1)), "c_acctbal", 1)
        .unionByName(summary(S.read(s, root), "balance", 4))
        .orderBy(col("version"), col("c_mktsegment"))
    }),

    // ---- GENERATED columns (s32): price_bucket GENERATED ALWAYS AS an
    // integer-exact bucket expression — one append omits the column
    // (auto-materialized), one supplies it (validated). The oracle
    // replays the expression relationally over the same slices; the
    // invariant "stored ≡ formula" is what makes them identical. ---------
    "s32_generated_cols" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s32-$pid/ord_gen_$sfx"
      val S = graft.sources.SnapshotTable
      val bucketExpr =
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 5000000"
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 400)
            .withColumn("price_bucket", expr(bucketExpr)).coalesce(1), root)  // v1
        S.addGeneratedColumn(s, root, "price_bucket", bucketExpr)
        S.write(ord.where(col("o_orderkey").between(401, 800)).coalesce(1),
          root, mode = "append")                             // v2: materialized
        S.write(ord.where(col("o_orderkey").between(801, 1200))
            .withColumn("price_bucket", expr(bucketExpr)).coalesce(1),
          root, mode = "append")                             // v3: validated
      }
      S.read(s, root).groupBy(col("price_bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("turnover"))
        .orderBy(col("price_bucket"))
    }),

    // ---- multimodal: binary payload → REAL ImageIO decode → features -----
    // Each document renders to a genuine 16×16 gray PNG (pixel = char code),
    // then the feature pass decodes it with javax.imageio and grid-pools the
    // DECODED luminances. Gray PNG is lossless and the 32-pixel bin means
    // are exact dyadic rationals, so this hash-matches a SQL oracle that
    // recomputes the bin mean from the char codes directly.
    // ---- multimodal AUDIO: text-derived samples → real PCM16 WAV →
    // genuine javax.sound AudioSystem decode → integer energy bins. The
    // whole path is Long arithmetic (sum of squared int16 samples), so
    // the oracle replays bin 0 exactly from the char codes — the x1
    // doctrine applied to the audio modality. -----------------------------
    "x2_audio_features" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "audio", Multimodal.textToWavPayload(text),
            Multimodal.MediaMeta("wav", 0, 0, 1, 64L))
        }
      Multimodal.extractAudioFeatures(media, dim = 8)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          element_at(col("energy"), 1).as("e0"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal AUDIO VAD (x6): real WAV decode → 64-sample frame
    // energies (pure Long) → threshold at the all-space baseline →
    // partition-local islands run. The oracle replays frame energies from
    // the char codes and the islands relationally (the e20 doctrine). ----
    "x6_voiced_segments" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "audio", Multimodal.textToWavPayload(text),
            Multimodal.MediaMeta("wav", 0, 0, 1, 64L))
        }
      // threshold = a full frame of padding spaces: 64 · (32−64)² · 256²
      Multimodal.voicedSegments(media, frameSize = 64,
          threshold = 64L * 1024L * 65536L)
        .toDF().orderBy(col("media_id"))
    }),

    "x1_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      Multimodal.extractImageFeatures(media, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal image RESIZE (x4): 16×16 PNGs → deterministic
    // integer nearest-neighbor downscale to 8×8 → REAL PNG re-encode →
    // real decode + features. The oracle recomputes the resized bin mean
    // straight from the char codes (nearest-neighbor at 2:1 keeps the
    // even-indexed pixels), certifying decode→resize→encode→decode
    // in-band. Payloads never shuffle (map → map → mapPartitions). -------
    "x4_image_resize" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      val resized = Multimodal.resizeImages(media, maxDim = 8)
      Multimodal.extractImageFeatures(resized, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal ViT patchify (x8): 16×16 PNGs → 4×4 grid of 4×4
    // tiles, each re-encoded as its own PNG token and RE-DECODED through
    // the real codec for its mean — decode→patchify→encode→decode
    // certified in-band; payloads stay partition-local. -------------------
    "x8_patch_grid" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      val patches = Multimodal.patchGrid(media, patch = 4)
      Multimodal.extractImageFeatures(patches, dim = 1)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal video (x3): deterministic 4-frame PNG containers
    // built from document text chunks, stride-sampled at 2 of 4 frames
    // (duration 4000 ms, every 2000 ms → frames 0 and 2), each sampled
    // frame decoded through the REAL ImageIO path and featurized like x1.
    // The oracle recomputes the sampled chunks' pixel means from the text
    // — container split, frame selection, and decode all certified by the
    // hash. Payload bytes never shuffle (flatMap → map → mapPartitions). --
    "x3_video_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val padded = text.replaceAll("[^ -~]", "").padTo(1024, ' ').mkString
          val frames = (0 until 4).map(j =>
            Multimodal.textToPngPayload(padded.substring(256 * j, 256 * j + 256)))
          Multimodal.MediaRow(id, "video", frames.reduce(_ ++ _),
            Multimodal.MediaMeta("png", 16, 16, 3, 4000L))
        }
      val frameMedia = Multimodal.sampleFrames(media, everyMs = 2000L)
        .map(fs => Multimodal.MediaRow(fs.media_id * 10 + fs.frame_index,
          "image", fs.frame, Multimodal.MediaMeta("png", 16, 16, 3, 0L)))
      Multimodal.extractImageFeatures(frameMedia, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    }),

    // ---- §2.9 M1-M8: decision-tree classification pipeline, with an
    // EARNED oracle (round-8): the test split is an md5 content-hash (m4's
    // engine-reproducible pattern, also the layout-independent 100 TB
    // shape), the fitted tree is exported twice — class predictions
    // (fromModel) and raw class-1 counts (fromModelRawCount, the exact
    // score metricsOf ranks AUC by) — and the oracle (built at runtime
    // from the exports, see m1OracleEntry) recomputes accuracy and the
    // exact-LONG trapezoid AUC in DuckDB from the artifact + data. A hash
    // match therefore certifies the PIPELINE's own reported metrics, not
    // literals. Importance values stay spec-asserted (CohortClassifierSpec
    // ≡ pipeline fit); in-query they are checked as earned booleans
    // against the exported tree's split-feature set. --------------------
    "m1_decision_tree" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        (col("o_orderstatus") === "F").cast("int").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey"))
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      // direct fit path: the orders cohort is null-free, so the imputer and
      // scaler fits would change nothing (spec-asserted metric equality) —
      // assemble once and fit the tree directly, ~1/3 the jobs
      val res = graft.ml.CohortClassifier.trainEvaluateDirectSplit(
        o.where(!isTest), o.where(isTest),
        graft.ml.CohortClassifier.Config(
          labelCol = "label",
          numericCols = Seq("o_totalprice", "order_year"),
          binaryCols = Seq("is_urgent"),
          maxDepth = 5, minInstancesPerNode = 7, minInfoGain = 5e-5))
      val tree = res.model.stages.last
        .asInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel]
      val features = Seq("o_totalprice", "order_year", "is_urgent")
      val specCls = graft.ml.TreeScorer.fromModel(tree.rootNode, features)
      val specRaw = graft.ml.TreeScorer.fromModelRawCount(tree, features)
      m1FittedSpecs = Some((specCls, specRaw))
      // earned importance booleans: non-negative, normalized (or all-zero
      // on a stump), and zero on features the exported tree never splits on
      val imp = res.featureImportances
      val inTree = graft.ml.TreeScorer.splitFeatures(specCls)
      val impSum = imp.map(_._2).sum
      s.range(1).select(
        lit(graft.ml.TreeScorer.depth(specCls)).as("tree_depth"),
        round(lit(res.accuracy), 6).as("accuracy"),
        round(lit(res.auc), 6).as("auc"),
        lit(imp.forall(_._2 >= 0.0)).as("imp_nonneg"),
        lit(math.abs(impSum - 1.0) < 1e-9 || (inTree.isEmpty && impSum == 0.0))
          .as("imp_normalized"),
        lit(imp.forall { case (f, v) => inTree.contains(f) || v == 0.0 })
          .as("imp_split_features_only"))
    }),

    // ---- ML: fixed-tree batch inference, the ★ twin of m1/m2 — the FIT is
    // engine-specific (rows-only m1), but INFERENCE through the TreeScorer
    // compiler is a codegen'd when-chain, pure relational algebra: the same
    // literal tree scores in DuckDB as CASE WHEN, and accuracy + exact
    // trapezoid AUC (empiricalRoc) replay bit-for-bit --------------------
    "m3_tree_score" -> ((s, dir) => {
      import graft.ml.TreeScorer._
      val o = t(s, dir, "orders").select(
        (col("o_orderstatus") === "F").as("lbl"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"))
      val tree: TreeSpec = SplitLE("o_totalprice", 150000.0,
        SplitLE("is_urgent", 0.5, Leaf(0.35), Leaf(0.65)),
        SplitLE("order_year", 1995.5, Leaf(0.55), Leaf(0.25)))
      // no cache: the two aggregation branches each re-scan the pruned
      // orders columns, which is cheaper than pinning a cache for the rest
      // of an 81-query session
      val scored = o.withColumn("score", compile(tree))
      val acc = scored.agg(count(lit(1)).as("n"),
        round(avg(((col("score") >= 0.5) === col("lbl")).cast("double")), 6)
          .as("accuracy"))
      val roc = graft.stats.Roc.empiricalRoc(scored, col("lbl"), col("score"))
        .select(col("auc"), col("n_pos"), col("n_neg"))
      acc.crossJoin(roc)
    }),

    // ---- ML: Bayesian-sampling hyperparameter search (reference
    // BayesianParameterSampling, 50 runs) as a deterministic TPE over the
    // same discrete space — with an EARNED oracle (round 8, the m1
    // pattern): md5 content-hash trainFit/valid/test splits, the WINNING
    // tree exported twice (class predictions + raw class-1 counts) along
    // with the fitted MinMaxScaler's min/range per feature, and the
    // runtime-built oracle recomputes the tune's reported accuracy/AUC in
    // DuckDB by re-scaling the raw columns and replaying the tree — the
    // trial TRAJECTORY stays engine-specific (that is the search), but the
    // reported OUTCOME is hash-verified, not asserted. ------------------
    "m2_bayes_tune" -> ((s, dir) => {
      // deterministic 10% cohort (the reference's Bayesian sweep ran on a
      // small medical cohort; the search semantics, not the corpus size,
      // are what this query demonstrates)
      val o = t(s, dir, "orders").where(col("o_orderkey") % 10 === 0).select(
        (col("o_orderstatus") === "F").cast("int").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey"))
      val h = md5(col("o_orderkey").cast("string"))
      val isTest = substring(h, 1, 1) < lit("5")
      val isValid = substring(h, 2, 1) < lit("4")
      val trainAll = o.where(!isTest)
      val (res, featModel, bestTree, _) = graft.ml.CohortClassifier.tuneBayesianSplit(
        trainAll.where(!isValid), trainAll.where(isValid), o.where(isTest),
        graft.ml.CohortClassifier.Config(
          labelCol = "label",
          numericCols = Seq("o_totalprice", "order_year"),
          binaryCols = Seq("is_urgent"), fitPartitions = 4),
        budget = 10, parallelism = 5, nWarmup = 5)
      val scaler = featModel.stages.last
        .asInstanceOf[org.apache.spark.ml.feature.MinMaxScalerModel]
      // scaled-feature names in VectorAssembler order (numerics ++ binaries)
      val scaledNames = Seq("sx_price", "sx_year", "sx_urgent")
      m2TunedArtifacts = Some((
        scaler.originalMin.toArray, scaler.originalMax.toArray,
        graft.ml.TreeScorer.fromModel(bestTree.rootNode, scaledNames),
        graft.ml.TreeScorer.fromModelRawCount(bestTree, scaledNames),
        res.bestParams))
      s.range(1).select(
        lit(res.bestParams("maxDepth").asInstanceOf[Int]).cast("long")
          .as("best_max_depth"),
        lit(res.bestParams("minInstancesPerNode").asInstanceOf[Int]).cast("long")
          .as("best_min_instances"),
        lit(res.bestParams("trials").asInstanceOf[Int]).cast("long").as("trials"),
        round(lit(res.accuracy), 6).as("accuracy"),
        round(lit(res.auc), 6).as("auc"))
    }),

    // ---- ML: the TPE tune's per-trial TRACE, oracled (the m2 search's
    // trajectory, not just its outcome): the SAME m2 tune runs with the
    // trace surfaced, every (trial, params, validation AUC) exports as
    // literals, and BOTH engines independently replay the selection —
    // argmax with the lexicographic tie-break — plus the TPE adaptive
    // concentration (how much of each phase's budget landed on the
    // winner's depth) and the best-so-far chain. --------------------------
    "m24_tune_trace" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").where(col("o_orderkey") % 10 === 0).select(
        (col("o_orderstatus") === "F").cast("int").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey"))
      val h = md5(col("o_orderkey").cast("string"))
      val isTest = substring(h, 1, 1) < lit("5")
      val isValid = substring(h, 2, 1) < lit("4")
      val trainAll = o.where(!isTest)
      val (_, _, _, trace) = graft.ml.CohortClassifier.tuneBayesianSplit(
        trainAll.where(!isValid), trainAll.where(isValid), o.where(isTest),
        graft.ml.CohortClassifier.Config(
          labelCol = "label",
          numericCols = Seq("o_totalprice", "order_year"),
          binaryCols = Seq("is_urgent"), fitPartitions = 4),
        budget = 10, parallelism = 5, nWarmup = 5)
      val rows = trace.zipWithIndex.map { case (((d, m, g), auc), i) =>
        (i.toLong, d.toLong, m.toLong, g, auc) }
      m24TuneTrace = Some(rows)
      import s.implicits._
      val df = rows.toDF("trial", "max_depth", "min_instances",
        "min_info_gain", "val_auc")
      val winner = df
        .orderBy(col("val_auc").desc, col("max_depth"), col("min_instances"),
          col("min_info_gain"))
        .limit(1)
        .select(col("max_depth").as("wd"), col("min_instances").as("wm"),
          col("min_info_gain").as("wg"))
      val chainW = Window.orderBy(col("trial"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val phaseW = Window.partitionBy(col("is_warmup"))
      df.crossJoin(broadcast(winner))
        .withColumn("is_best", col("max_depth") === col("wd") &&
          col("min_instances") === col("wm") && col("min_info_gain") === col("wg"))
        .withColumn("best_so_far", max(col("val_auc")).over(chainW))
        .withColumn("is_warmup", col("trial") < 5)
        .withColumn("n_winner_depth_phase",
          sum(when(col("max_depth") === col("wd"), 1L).otherwise(0L)).over(phaseW))
        .withColumn("n_phase", count(lit(1)).over(phaseW))
        .select(col("trial"), col("max_depth"), col("min_instances"),
          col("min_info_gain"), col("val_auc"), col("is_best"),
          col("best_so_far"), col("is_warmup"),
          col("n_winner_depth_phase"), col("n_phase"))
        .orderBy(col("trial"))
    }),

    // ---- ML: fit→export→score replay. A tree is FITTED in-engine on a
    // content-hash train split, exported as a literal TreeSpec, compiled to
    // a codegen when-chain, and scores the held-out split; the oracle (built
    // at runtime from the SAME exported spec — see oracleSql) replays the
    // scoring + metrics as SQL CASE, so the fitted tree's inference is
    // hash-verified, not just a hand-written fixed tree (m3). The split is
    // md5-based, not randomSplit, so any engine reproduces it exactly ------
    "m4_fit_score" -> ((s, dir) => {
      // the label carries an interaction (price XOR urgency) the synthetic
      // o_orderstatus lacks, so the fit finds real structure and the export
      // carries DATA-DEPENDENT split thresholds (spark.ml bin midpoints),
      // which is exactly what the cross-engine replay must survive.
      // Pinned: the bare fitTreeSpec evaluates its input RDD 2-3× inside
      // one fit (findSplits sample + treePoint conversion) and the test
      // scan re-reads it again — the m21/m22 pin doctrine (fit-safe:
      // partitions and row order preserved; PinnedFitSpec).
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey")).localCheckpoint()
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val spec = graft.ml.CohortClassifier.fitTreeSpec(
        o.where(!isTest), Seq("o_totalprice", "is_urgent", "order_year"),
        "label", maxDepth = 4)
      m4FittedSpec = Some(spec)
      val scored = o.where(isTest)
        .withColumn("score", graft.ml.TreeScorer.compile(spec))
      scored.agg(
        count(lit(1)).as("n"),
        sum((col("score") >= 0.5).cast("long")).as("n_pred_pos"),
        round(sum(((col("score") >= 0.5) === (col("label") === 1.0))
          .cast("long")).cast("double") / count(lit(1)), 6).as("accuracy"))
        .withColumn("tree_depth", lit(graft.ml.TreeScorer.depth(spec)))
    }),

    // ---- ML: learning curve (m21) — the "is more data still helping?"
    // readout: the m4 tree refit on md5-gated 25/50/100% slices of the
    // train fold, each scored on the SAME held-out fold; three exported
    // trees replay relationally per fraction. -----------------------------
    "m21_learning_curve" -> ((s, dir) => {
      // o feeds FIVE consumers (three fits, train counts, test scoring) —
      // pin it so the scan + md5 gating runs once (guide §2.4). The pin
      // is fit-safe: localCheckpoint materializes the SAME partitions in
      // the SAME row order, and MLlib's findSplits sampling is a pure
      // function of (seed, partitionIndex, row order) — PinnedFitSpec
      // pins all three trees bit-identical pinned vs not.
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey")).localCheckpoint()
      val h1 = substring(md5(col("o_orderkey").cast("string")), 1, 1)
      val h2 = substring(md5(col("o_orderkey").cast("string")), 2, 1)
      val isTest = h1 < lit("5")
      val fractions = Seq((25, h2 < lit("4")), (50, h2 < lit("8")),
        (100, lit(true)))
      // the three subset fits are independent MLlib protocols — run them
      // as concurrent jobs (guide §2.6). Each fit's input lineage and
      // partitioning are untouched, so all three trees are bit-identical
      // to the sequential run; only the wall-clock overlaps.
      val fits = Tables.concurrently(fractions.map { case (pct, gate) => () =>
        (pct, gate, graft.ml.CohortClassifier.fitTreeSpec(
          o.where(!isTest && gate),
          Seq("o_totalprice", "is_urgent", "order_year"), "label",
          maxDepth = 4))
      })
      m21CurveSpecs = Some(fits.map { case (pct, _, spec) => (pct, spec) })
      // one train scan (conditional counts) + one test scan (all three
      // trees score side by side) — values identical to per-slice passes
      val trains = o.where(!isTest).agg(
        sum((h2 < lit("4")).cast("long")).as("nt25"),
        sum((h2 < lit("8")).cast("long")).as("nt50"),
        count(lit(1)).as("nt100"))
      val scored = o.where(isTest).select(col("label") +:
        fits.map { case (pct, _, spec) =>
          graft.ml.TreeScorer.compile(spec).as(s"sc$pct") }: _*)
      val accs = scored.agg(count(lit(1)).as("n_test"),
        fits.map { case (pct, _, _) =>
          round(sum(((col(s"sc$pct") >= 0.5) === (col("label") === 1.0))
            .cast("long")).cast("double") / count(lit(1)), 6).as(s"acc$pct")
        }: _*)
      val depths = fits.map { case (_, _, spec) =>
        graft.ml.TreeScorer.depth(spec) }
      accs.crossJoin(broadcast(trains))
        .selectExpr("n_test",
          s"stack(3, 25, nt25, acc25, ${depths(0)}, " +
            s"50, nt50, acc50, ${depths(1)}, " +
            s"100, nt100, acc100, ${depths(2)}) " +
            "AS (pct, n_train, accuracy, tree_depth)")
        .select(col("pct"), col("n_train"), col("n_test"), col("accuracy"),
          col("tree_depth"))
        .orderBy(col("pct"))
    }),

    // ---- ML: permutation feature importance (m22) — accuracy drop when
    // one feature's values are deterministically PERMUTED among test rows
    // (cyclic shift within md5 buckets: a real permutation, no RNG, all
    // windows partitioned); the m4 tree scores original vs broken. -------
    "m22_perm_importance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // o feeds the fit AND the windowed test scan — pin like m21
      // (fit-safe: partitions and row order preserved)
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey")).localCheckpoint()
      val h1 = substring(md5(col("o_orderkey").cast("string")), 1, 1)
      val isTest = h1 < lit("5")
      val feats = Seq("o_totalprice", "is_urgent", "order_year")
      val spec = graft.ml.CohortClassifier.fitTreeSpec(
        o.where(!isTest), feats, "label", maxDepth = 4)
      m22PermSpec = Some(spec)
      val test = o.where(isTest)
        .withColumn("__h", md5(col("o_orderkey").cast("string")))
        .withColumn("__bkt", substring(col("__h"), 2, 1))
      val wOrd = Window.partitionBy(col("__bkt"))
        .orderBy(col("__h").asc, col("o_orderkey").asc)
      val wAll = Window.partitionBy(col("__bkt"))
        .orderBy(col("__h").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // ONE test scan: the baseline score and all three permuted scores
      // ride side by side (compile-with-resolver swaps just the broken
      // feature per arm); values identical to per-arm scans
      def accOf(scoreCol: String): Column =
        round(sum(((col(scoreCol) >= 0.5) === (col("label") === 1.0))
          .cast("long")).cast("double") / count(lit(1)), 6)
      val shiftedCols = feats.map { f =>
        coalesce(lead(col(f), 1).over(wOrd), first(col(f)).over(wAll))
          .as(s"__p_$f")
      }
      val scored = test.select(Seq(col("label")) ++ feats.map(col) ++
          shiftedCols: _*)
        .select(col("label") +:
          graft.ml.TreeScorer.compile(spec).as("sc_base") +:
          feats.map { f =>
            graft.ml.TreeScorer.compile(spec,
              name => if (name == f) col(s"__p_$f") else col(name))
              .as(s"sc_$f")
          }: _*)
      val one = scored.agg(count(lit(1)).as("n_test"),
        (accOf("sc_base").as("accuracy_base") +:
          feats.map(f => accOf(s"sc_$f").as(s"ap_$f"))): _*)
      one.selectExpr("n_test", "accuracy_base",
          "stack(3, " + feats.map(f => s"'$f', ap_$f").mkString(", ") +
            ") AS (feature, accuracy_perm)")
        .select(col("feature"), col("n_test"), col("accuracy_base"),
          col("accuracy_perm"),
          round(col("accuracy_base") - col("accuracy_perm"), 6).as("importance"))
        .orderBy(col("feature"))
    }),

    // ---- ML: two-model ensemble (m23) — the m4 tree and an interaction
    // logistic score the SAME held-out scan side by side; the averaged
    // score's accuracy lands next to each base model's (stacking's
    // sanity row). Both artifacts export; one test scan. -----------------
    "m23_ensemble" -> ((s, dir) => {
      // o feeds THREE consumers (two concurrent fits via train, test
      // scoring) — pin like m21; fit-safe for the same reason (the
      // checkpoint preserves partitions and row order; PinnedFitSpec
      // pins the tree, and the IRLS cells are aggregates)
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        (col("o_totalprice") > 250000).cast("int").as("price_hi"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent_i"),
        ((col("o_totalprice") > 250000) &&
          (col("o_orderpriority") === "1-URGENT")).cast("int").as("pxu"),
        col("o_orderkey")).localCheckpoint()
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val train = o.where(!isTest)
      // tree fit and logistic IRLS are independent protocols over the
      // same (re-scanned) train frame — concurrent jobs (guide §2.6),
      // bit-identical results (neither touches the other's partitioning)
      val (tree, logit) = Tables.concurrently(Seq(
        () => Left(graft.ml.CohortClassifier.fitTreeSpec(train,
          Seq("o_totalprice", "is_urgent", "order_year"), "label",
          maxDepth = 4)),
        () => Right(graft.ml.Logistic.irlsFitCells(train,
          col("label") === 1.0,
          Seq[(String, org.apache.spark.sql.Column)](
            "price_hi" -> col("price_hi"), "urgent_i" -> col("urgent_i"),
            "pxu" -> col("pxu")))))) match {
        case Seq(Left(tr), Right(lg)) => (tr, lg)
        case other => throw new IllegalStateException(s"unexpected $other")
      }
      m23Ensemble = Some((tree, logit))
      val pLog = lit(1.0) / (lit(1.0) + exp(-graft.ml.Logistic.margin(logit)))
      val scored = o.where(isTest).select(col("label"),
        graft.ml.TreeScorer.compile(tree).as("sc_tree"), pLog.as("sc_logit"))
        .withColumn("sc_ens", (col("sc_tree") + col("sc_logit")) / lit(2.0))
      def accOf(c: String): Column =
        round(sum(((col(c) >= 0.5) === (col("label") === 1.0))
          .cast("long")).cast("double") / count(lit(1)), 6)
      scored.agg(count(lit(1)).as("n_test"),
          accOf("sc_tree").as("a_tree"), accOf("sc_logit").as("a_logit"),
          accOf("sc_ens").as("a_ens"))
        .selectExpr("n_test",
          "stack(3, 'ensemble', a_ens, 'logit', a_logit, 'tree', a_tree) " +
            "AS (model, accuracy)")
        .select(col("model"), col("n_test"), col("accuracy"))
        .orderBy(col("model"))
    }),

    // ---- ML: lift/gains chart (m7) — the model-evaluation frame a
    // targeting pipeline reads: the m4 cohort's fitted tree scores the
    // test split, scores reduce to leaf-level cells, and cumulative
    // response/lift ride integer running sums in score order. The tree
    // exports for the replay (the m4 runtime-oracle contract). -----------
    "m7_lift_chart" -> ((s, dir) => {
      // pinned: fit + test scan over one materialization (m21/m22 pin
      // doctrine — fit-safe, see m4)
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey")).localCheckpoint()
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val spec = graft.ml.CohortClassifier.fitTreeSpec(
        o.where(!isTest), Seq("o_totalprice", "is_urgent", "order_year"),
        "label", maxDepth = 4)
      m7LiftSpec = Some(spec)
      val cells = o.where(isTest)
        .withColumn("score", graft.ml.TreeScorer.compile(spec))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n_k"),
          sum((col("label") === 1.0).cast("long")).as("pos_k"))
      val runW = Window.partitionBy().orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val aw = Window.partitionBy()
      // leaf-level frame (≤ 2^maxDepth rows): the deliberate
      // dimension-sized windows
      cells
        .withColumn("cum_n", sum(col("n_k")).over(runW))
        .withColumn("cum_pos", sum(col("pos_k")).over(runW))
        .withColumn("tot_n", sum(col("n_k")).over(aw))
        .withColumn("tot_pos", sum(col("pos_k")).over(aw))
        .select(col("score"), col("n_k"), col("pos_k"),
          col("cum_n"), col("cum_pos"),
          round((col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double"), 6).as("lift"),
          round(col("cum_pos").cast("double") / col("tot_pos").cast("double"), 6)
            .as("gain"))
        .orderBy(col("score").desc)
    }),

    // ---- ML: fit→export→replay for a LINEAR model — logistic regression
    // fit in-engine on the m4 cohort, exported as (intercept,
    // coefficients), scored WITHOUT the ML runtime as an explicit
    // left-assoc arithmetic chain whose doubles replay bit-for-bit in
    // DuckDB (margin > 0 classification, n6's explicit-sum doctrine). ----
    "m6_linear_score" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey"))
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val spec = graft.ml.LinearScorer.fitLogistic(
        o.where(!isTest), Seq("o_totalprice", "is_urgent", "order_year"),
        "label", maxIter = 50)
      m6LinearSpec = Some(spec)
      val m = graft.ml.LinearScorer.margin(spec)
      o.where(isTest)
        .agg(
          count(lit(1)).as("n"),
          sum((m > 0).cast("long")).as("n_pred_pos"),
          round(sum(((m > 0) === (col("label") === 1.0)).cast("long"))
            .cast("double") / count(lit(1)), 6).as("accuracy"))
        .withColumn("n_features", lit(spec.coefs.size.toLong))
    }),

    // ---- ML: the m2 tune's OUTCOME, oracled. The TPE search runs over
    // trees fit on RAW assembled features (fitTreeSpec regime, m2's search
    // machinery), the winning tree is exported as a TreeSpec, and its
    // held-out inference + winning params are hash-replayed in SQL exactly
    // as m4 does for a single fit. The tune trajectory stays engine-specific
    // (that's m2, rows-only); the tuned ARTIFACT is now verified. ----------
    "m5_tune_score" -> ((s, dir) => {
      // m2's 10% cohort and m4's interaction label + md5 content-hash
      // splits: first hex char <'5' = held-out test, second <'4' = the
      // tune's validation quarter — all engine-reproducible
      val o = t(s, dir, "orders").where(col("o_orderkey") % 10 === 0).select(
        ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        col("o_orderkey"))
      val h = md5(col("o_orderkey").cast("string"))
      val isTest = substring(h, 1, 1) < lit("5")
      val isValid = substring(h, 2, 1) < lit("4")
      val trainAll = o.where(!isTest)
      val (spec, params, _) = graft.ml.CohortClassifier.tuneTreeSpec(
        trainAll.where(!isValid), trainAll.where(isValid),
        Seq("o_totalprice", "is_urgent", "order_year"), "label",
        budget = 8, parallelism = 4, nWarmup = 4)
      m5TunedSpec = Some((spec, params))
      val scored = o.where(isTest)
        .withColumn("score", graft.ml.TreeScorer.compile(spec))
      scored.agg(
          count(lit(1)).as("n"),
          sum((col("score") >= 0.5).cast("long")).as("n_pred_pos"),
          round(sum(((col("score") >= 0.5) === (col("label") === 1.0))
            .cast("long")).cast("double") / count(lit(1)), 6).as("accuracy"))
        .withColumn("best_max_depth",
          lit(params("maxDepth").asInstanceOf[Int].toLong))
        .withColumn("best_min_instances",
          lit(params("minInstancesPerNode").asInstanceOf[Int].toLong))
        .withColumn("trials", lit(params("trials").asInstanceOf[Int].toLong))
    }),

    // ---- exact-sum higher moments: corr/stddev/skewness, bit-reproducible
    // (all power sums accumulate in DECIMAL — order-independent — and the
    // double arithmetic on top is the same expression tree as the oracle) --
    "q6_moments" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(12,2)")
      val y = col("l_extendedprice").cast("decimal(12,2)")
      val agg = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx0"), sum(y).as("sy0"),
          sum(x * x).as("sxx0"), sum(y * y).as("syy0"),
          sum(x * y).as("sxy0"),
          sum((x * x).cast("decimal(24,4)") * x).as("sxxx0"))
      val n = col("n")
      val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
      val sxx = col("sxx0").cast("double"); val syy = col("syy0").cast("double")
      val sxy = col("sxy0").cast("double"); val sxxx = col("sxxx0").cast("double")
      val sdX = sqrt(sxx / n - (sx / n) * (sx / n))
      agg.select(col("l_returnflag"), n,
          round((n * sxy - sx * sy) /
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr_xy"),
          round(sdX, 6).as("stddev_pop_x"),
          round((sxxx / n - lit(3) * (sx / n) * (sxx / n)
            + lit(2) * (sx / n) * (sx / n) * (sx / n)) / (sdX * sdX * sdX), 6).as("skew_x"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- histogram binning (shared exact bucket arithmetic) -------------
    "h1_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
        .orderBy(col("bucket"))
    }),

    // ---- text hygiene: Unicode NFC normalization (native expression) ----
    // synthetic combining-accent suffix appended on BOTH sides — the
    // normalizer is what's under test (corpus text is ASCII)
    "t7_nfc" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.NfcNormalizeExpr.nfc(
            concat(col("text"), lit(" café"))).as("normalized"))
        .orderBy(col("doc_id"))
    }),

    // ---- §2.8 R6 (distributed twin #2): binormal threshold from decimal
    // power sums — no driver collect, engine-reproducible doubles ----------
    "r10_binormal_threshold" -> ((s, dir) => {
      Roc.binormalThresholdDF(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"), rho = 0.01)
    }),

    // ---- §2.8 R3 (distributed twin): BH + Storey adjusted p over rows ---
    "r9_fdr_distributed" -> ((s, dir) => {
      val ps = t(s, dir, "orders").groupBy(col("o_orderpriority").as("stratum"))
        .agg((count(when(col("o_orderstatus") === "F", 1)).cast("double")
          / count(lit(1)) / 3).as("p"))
      FDR.adjustDF(ps, "p", col("stratum"))
        .select(col("stratum"), round(col("p"), 6).as("p"),
          round(col("bh_adj"), 6).as("bh_adj"),
          round(col("storey_pi0"), 6).as("storey_pi0"),
          round(col("storey_adj"), 6).as("storey_adj"))
        .orderBy(col("stratum"))
    }),

    // ---- R3 scale path: distributed SABHA with the clamped feasible block
    // projection — closed-form q̂, so the whole selection is SQL-replayable
    // (the exact ADMM solver stays driver-side in r3; spec-equal when the
    // projection is feasible) ----------------------------------------------
    "r11_sabha_distributed" -> ((s, dir) => {
      // per-nation threshold spreads p over [0, 1): small-p strata reject,
      // p > tau strata mask — a discriminating selection, not all-or-nothing
      val ps = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("block"), col("c_nationkey").as("nation"))
        .agg((count(when(col("c_acctbal") <
            ((col("c_nationkey") % 11) - 1) * 1000, 1)).cast("double")
          / count(lit(1))).as("p"))
      graft.stats.FDR.sabhaSelectDF(ps, "p", "block",
          struct(col("nation"), col("block")), alpha = 0.05, tau = 0.5, eps = 0.1)
        .select(col("block"), col("nation"), round(col("p"), 6).as("p"),
          round(col("qhat"), 6).as("qhat"), col("rejected"))
        .orderBy(col("block"), col("nation"))
    }),

    // ---- R3 SABHA TV variant: distributed 1-d chain TV projection — the
    // edge-space water-filling step of solveQTV as windowed DataFrame math
    // (StatsSpec proves ≡ the driver solver's l1Projection on chain diffs).
    // y is the SABHA censoring estimate (P>τ)/(1−τ); its chain differences
    // (all ±2/0 here) make the tie-heavy water level a sharp cross-engine
    // test of the ranking/threshold math -------------------------------
    "r14_tv_projection" -> ((s, dir) => {
      val ps = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("block"), col("c_nationkey").as("nation"))
        .agg((count(when(col("c_acctbal") <
            ((col("c_nationkey") % 11) - 1) * 1000, 1)).cast("double")
          / count(lit(1))).as("p"))
        .withColumn("y", when(col("p") > 0.5, lit(2.0)).otherwise(lit(0.0)))
      // driver-side water-filling over the hypothesis-sized chain — the
      // windowed tvChainProjectDF stays as the spec-pinned twin
      graft.stats.FDR.tvChainProjectDriver(ps, "y",
          Seq(col("block"), col("nation")), tvBound = 3.0)
        .select(col("block"), col("nation"), round(col("p"), 6).as("p"),
          round(col("y_tv"), 6).as("y_tv"))
        .orderBy(col("block"), col("nation"))
    }),

    // ---- R3 per-family distributed FDR: every window partitioned by the
    // test family, so the adjustment parallelizes across families with no
    // global sort — the distributed-hypothesis-count shape -----------------
    "r15_fdr_family" -> ((s, dir) => {
      val ps = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("family"), col("c_nationkey").as("stratum"))
        .agg((count(when(col("c_acctbal") <
            ((col("c_nationkey") % 11) - 1) * 1000, 1)).cast("double")
          / count(lit(1))).as("p"))
      graft.stats.FDR.adjustDFPerFamily(ps, "p", Seq("family"), col("stratum"))
        .select(col("family"), col("stratum"), round(col("p"), 6).as("p"),
          round(col("bh_adj"), 6).as("bh_adj"),
          round(col("storey_pi0"), 6).as("storey_pi0"),
          round(col("storey_adj"), 6).as("storey_adj"))
        .orderBy(col("family"), col("stratum"))
    }),

    // ---- S-ops: JSON-lines sink + source roundtrip ----------------------
    // ---- ORC source/sink roundtrip: the engine's second columnar format —
    // write the fact projection as ORC, read it back, aggregate; a hash
    // match against the parquet-side replay certifies the roundtrip is
    // value-exact (types, nulls, doubles) not just row-complete. ----------
    "s21_orc_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val tmp = sys.props("java.io.tmpdir") +
        s"/graft-s21-${ProcessHandle.current().pid()}/lineitem_orc"
      graft.sources.Sources.writeOrc(li, tmp, singleFile = false)
      graft.sources.Sources.readOrc(s, tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    "s2_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val sample = t(s, dir, "region")
      val tmp = sys.props("java.io.tmpdir") +
        s"/graft-s2-${ProcessHandle.current().pid()}/region_jsonl"
      graft.sources.Sources.writeJsonl(sample, tmp)
      graft.sources.Sources.readJsonl(s, tmp, Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
        .orderBy(col("r_regionkey"))
    }),

    // ---- S3: Excel ingest — region → xlsx → minimal OOXML reader → rows.
    // The oracle is the untouched region table: a lossless round-trip is
    // exactly the Copy-activity contract (values as text, typing later) -----
    "s4_excel_roundtrip" -> ((s, dir) => {
      val sample = t(s, dir, "region")
        .select(col("r_regionkey").cast("string").as("r_regionkey"), col("r_name"))
      val tmp = sys.props("java.io.tmpdir") +
        s"/graft-s4-${ProcessHandle.current().pid()}/region.xlsx"
      graft.sources.Xlsx.write(sample, tmp, sheetName = "Liczba odpowiedzi 1")
      graft.sources.Xlsx.read(s, tmp, "Liczba odpowiedzi 1", firstRowAsHeader = true)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    }),

    // ---- S5 transactional sink: snapshot-table roundtrip — overwrite v1
    // with half the rows, append the rest (v2), read the latest snapshot;
    // oracle is the untouched source table (lossless ACID roundtrip) -------
    // ---- S5 extension: replaceWhere — Delta's dynamic-partition-overwrite
    // backfill: the 300-599 slice of a range-clustered table is atomically
    // replaced by a RECOMPUTED slice (only odd keys survive, prices
    // adjusted) in one commit; stats pruning keeps the other range files
    // untouched. The oracle replays the slice swap relationally; row-level
    // output so every kept/replaced/dropped row value is in the hash. ------
    "s24_replace_where" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s24-$pid/ord_rw_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1200)
            .repartitionByRange(4, col("o_orderkey")), root,
          mode = "overwrite", statsCols = Seq("o_orderkey"))           // v1
        val backfill = ord
          .where(col("o_orderkey").between(300, 599) &&
            col("o_orderkey") % 2 === 1)
          .withColumn("o_totalprice", round(col("o_totalprice") + 50, 2))
        S.replaceWhere(backfill, root,
          col("o_orderkey").between(300, 599),
          pruneHint = Some(("o_orderkey", 300.0, 599.0)))              // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: zero-copy CLONE (s27) — the source (with a merge
    // in its history) is cloned via hard links, the clone diverges with a
    // delete, then the source is OVERWRITTEN and vacuumed to zero
    // retention: if the clone shared the source's directory entries (the
    // manifest-reference shallow-clone design), the vacuum would corrupt
    // it and this query would error — the hard-link contract keeps both
    // lineages independent. The oracle replays both heads relationally. --
    "s27_clone" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val src = sys.props("java.io.tmpdir") + s"/graft-s27-$pid/src_$sfx"
      val cln = sys.props("java.io.tmpdir") + s"/graft-s27-$pid/cln_$sfx"
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(cln) == 0) {
        S.write(cust.where(col("c_custkey") <= 500).coalesce(1), src)   // src v1
        S.merge(cust.where(col("c_custkey").between(300, 600))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          src, Seq("c_custkey"))                                        // src v2
        S.clone(src, cln)                                               // cln v1
        S.deleteWhere(s, cln, col("c_custkey") <= 200)                  // cln v2
        S.write(cust.where(col("c_custkey") <= 50).coalesce(1), src)    // src v3
        S.vacuum(src, keepVersions = 1, orphanRetentionMs = 0L)
      }
      def side(root: String, tag: String) = S.read(s, root)
        .select(lit(tag).as("side"), col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
      side(src, "source").unionByName(side(cln, "clone"))
        .orderBy(col("side"), col("c_custkey"))
    }),

    // ---- S5 extension: DESCRIBE HISTORY (s28) — the commit chain as a
    // queryable frame; a deterministic op sequence (overwrite, append,
    // pruned delete, restore) pins version, operation, and live-file
    // count against a literal replay. -------------------------------------
    "s28_history" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s28-$pid/hist_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 500).coalesce(1), root,
          statsCols = Seq("o_orderkey"))                               // v1: 1 file
        S.write(ord.where(col("o_orderkey").between(501, 900)).coalesce(1),
          root, mode = "append", statsCols = Seq("o_orderkey"))        // v2: 2 files
        S.deleteWhere(s, root, col("o_orderkey").between(600, 700),
          pruneHint = Some(("o_orderkey", 600.0, 700.0)))              // v3: 2 files
        S.restore(root, 1)                                             // v4: 1 file
      }
      S.history(s, root).orderBy(col("version"))
    }),

    // ---- S5 extension: metadata-only aggregates (s29) — COUNT/MIN/MAX
    // answered from the manifest's per-file envelopes + exact __rows
    // footer counts, NO data scan (the Delta answer-from-the-log
    // optimization), and still exact after a copy-on-write delete because
    // the rewrite re-derived its envelopes. The hash match certifies the
    // metadata arithmetic against the relational truth. -------------------
    "s29_metadata_agg" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s29-$pid/meta_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000)
            .repartitionByRange(3, col("o_orderkey")), root,
          statsCols = Seq("o_orderkey", "o_totalprice"))               // v1
        S.write(ord.where(col("o_orderkey").between(1001, 1500)).coalesce(1),
          root, mode = "append",
          statsCols = Seq("o_orderkey", "o_totalprice"))               // v2
        S.deleteWhere(s, root, col("o_orderkey").between(200, 400),
          pruneHint = Some(("o_orderkey", 200.0, 400.0)))              // v3
      }
      val fast = S.fastStats(root, Seq("o_orderkey", "o_totalprice"))
      require(fast.nonEmpty, "metadata aggregates unavailable — envelope lost")
      val (n, agg) = fast.get
      s.range(1).select(lit(n).as("n"),
        lit(agg("o_orderkey")._1).cast("long").as("min_key"),
        lit(agg("o_orderkey")._2).cast("long").as("max_key"),
        round(lit(agg("o_totalprice")._1), 2).as("min_price"),
        round(lit(agg("o_totalprice")._2), 2).as("max_price"))
    }),

    // ---- S5 extension: SCHEMA EVOLUTION through the oracle gate (s26) —
    // a widening mergeSchema append: v1 rows lack the new column and the
    // head read must backfill NULL for them (manifest schema, not file
    // schema, drives the scan). The oracle replays the union with an
    // explicit NULL literal, so the hash match certifies evolution + NULL
    // backfill row-for-row. ------------------------------------------------
    "s26_schema_evolution" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s26-$pid/ord_ev_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 400)
          .select(col("o_orderkey"), col("o_orderstatus")), root,
          mode = "overwrite")                                          // v1
        S.write(ord.where(col("o_orderkey").between(401, 800))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
          root, mode = "append", mergeSchema = true)                   // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: CONDITIONAL MERGE (Delta WHEN MATCHED AND cond) —
    // update-if-greater guard (only matched rows whose new price rose
    // replace; the out-of-order-CDC pattern), conditional delete on a key
    // predicate, unmatched inserts. The oracle replays all four clauses
    // relationally; row-level output so every kept/updated/deleted/
    // inserted value is in the hash. ---------------------------------------
    "s22_merge_conditional" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s22-$pid/ord_cm_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        val upd = ord.where(col("o_orderkey").between(700, 1200))
          .withColumn("o_totalprice", round(col("o_totalprice") +
            when(col("o_orderkey") % 3 === 0, 1000).otherwise(-1000), 2))
        S.mergeConditional(upd, root, Seq("o_orderkey"),
          updateWhen = col("src_o_totalprice") > col("o_totalprice"),
          deleteWhen = Some(col("src_o_orderkey") % 7 === 0))          // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: RESTORE — after a merge and a delete corrupt the
    // table, restore(v1) must reproduce the original content EXACTLY as
    // a new auditable commit (history intact). The oracle is simply the
    // v1 relational definition: a hash match proves the rollback is
    // bit-faithful. ------------------------------------------------------
    "s23_restore" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s23-$pid/ord_rs_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 800).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(ord.where(col("o_orderkey").between(500, 900))
            .withColumn("o_totalprice", lit(0.0)),
          root, Seq("o_orderkey"))                                     // v2 (the mistake)
        S.deleteWhere(s, root, col("o_orderkey") <= 200)               // v3 (another)
        S.restore(root, 1)                                             // v4
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: TIME TRAVEL through the oracle gate — after a
    // merge and a delete mutate the table, the pinned v1 read must return
    // the PRE-mutation snapshot bit-exact while the head reflects both
    // mutations; the oracle replays each version's relational definition
    // and a hash match certifies snapshot isolation, not just row counts.
    "s20_time_travel" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s20-$pid/ord_tt_$sfx"
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 500).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(ord.where(col("o_orderkey").between(400, 700))
            .withColumn("o_totalprice", round(col("o_totalprice") + 100, 2)),
          root, Seq("o_orderkey"))                                     // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 100)               // v3
      }
      def summary(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("turnover"))
          .withColumn("version", lit(v))
      summary(S.read(s, root, Some(1)), 1)
        .unionByName(summary(S.read(s, root), 3))
        .orderBy(col("version"), col("o_orderstatus"))
    }),

    "s5_snapshot_roundtrip" -> ((s, dir) => {
      val region = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s5-${ProcessHandle.current().pid()}/region_snap"
      graft.sources.SnapshotTable.write(
        region.where(col("r_regionkey") < 2), root, mode = "overwrite")
      graft.sources.SnapshotTable.write(
        region.where(col("r_regionkey") >= 2), root, mode = "append")
      graft.sources.SnapshotTable.read(s, root)
        .orderBy(col("r_regionkey"))
    }),

    // ---- S5 extension: Delta-style MERGE upsert on the snapshot table.
    // Base rows, then an overlapping update slice merged by key — matched
    // keys replaced, new keys inserted, one committed version. The oracle
    // replays the upsert relationally (updates ∪ base-anti-updates), so
    // the hash match verifies the whole write→merge→read round trip. -----
    "s8_merge_upsert" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s8-${ProcessHandle.current().pid()}/cust_merge"
      graft.sources.SnapshotTable.write(
        cust.where(col("c_custkey") <= 300), root, mode = "overwrite")
      graft.sources.SnapshotTable.merge(
        cust.where(col("c_custkey").between(200, 400))
          .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
        root, Seq("c_custkey"))
      graft.sources.SnapshotTable.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // ---- snapshot version-diff audit (s35): content-level multiset
    // reconciliation between two table versions — what changed,
    // regardless of the commit path (compaction-invariant; the audit
    // sibling of s11's change feed). ------------------------------------
    "s35_version_diff" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s35-${ProcessHandle.current().pid()}/cust_diff"
      // scale-free slices (digit-of-key, not absolute ranges): digits 4–5
      // update, 6–7 insert, at EVERY scale factor — an absolute key range
      // merges nothing at sf0.001 and the diff comes back empty
      graft.sources.SnapshotTable.write(
        cust.where(col("c_custkey") % 10 < 6), root, mode = "overwrite")
      val v1 = graft.sources.SnapshotTable.latestVersion(root)
      graft.sources.SnapshotTable.merge(
        cust.where((col("c_custkey") % 10).between(4, 7))
          .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
        root, Seq("c_custkey"))
      val v2 = graft.sources.SnapshotTable.latestVersion(root)
      graft.sources.SnapshotTable.diffVersions(s, root, v1, v2)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"),
          col("n_before"), col("n_after"), col("delta"))
        .orderBy(col("c_custkey"), col("delta"))
    }),

    // ---- stats-pruned snapshot scan (s9): the round-8 composition —
    // Layout.zorder clusters lineitem on (partkey, suppkey), the
    // SnapshotTable write records each file's min/max envelopes FROM THE
    // PARQUET FOOTERS into the manifest, and readPruned drops files whose
    // envelope misses the predicate before Spark ever lists them — the
    // Iceberg/Delta file-skipping loop closed inside the engine's own
    // table format. Oracle = the raw-table relational replay. ------------
    "s9_stats_pruned_scan" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s9-${ProcessHandle.current().pid()}/li_snap_$sfx"
      if (graft.sources.SnapshotTable.latestVersion(root) == 0)
        graft.sources.SnapshotTable.write(
          graft.ops.Layout.zorder(
            t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity")),
            Seq("l_partkey", "l_suppkey"), bits = 10, outPartitions = 16),
          root, statsCols = Seq("l_partkey", "l_suppkey"))
      val (pruned, _) = graft.sources.SnapshotTable.readPruned(
        s, root, "l_partkey", 50, 180)
      pruned
        .where(col("l_partkey").between(50, 180) && col("l_suppkey").between(1, 5))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- categorical file skipping (s25): string-column envelopes via
    // the order-preserving 6-byte prefix key — documents land lang-
    // clustered (hash repartition on lang → lang-pure files), the write
    // records the string envelopes from the parquet footers, and the
    // pruned read drops every non-'en' file before Spark lists it: the
    // partition-pruning analog without hive directories. The query asserts
    // IN-BAND that pruning really bit (kept < total), so a silently
    // envelope-less write cannot hash-match. Oracle = relational replay. --
    "s25_lang_pruned_scan" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s25-${ProcessHandle.current().pid()}/docs_lang_$sfx"
      val S = graft.sources.SnapshotTable
      if (S.latestVersion(root) == 0)
        S.write(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
            .repartitionByRange(5, col("lang")),
          root, statsCols = Seq("lang"))
      val k = S.prefixKey("en")
      val (pruned, (kept, total)) = S.readPruned(s, root, "lang", k, k)
      require(kept < total,
        s"lang envelopes failed to prune ($kept of $total files kept)")
      pruned.where(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- S5 extension: bin-packing compaction (the OPTIMIZE story for
    // the CDC sink's one-version-per-micro-batch layout). Eight 1-file
    // appends, then compact packs them into target-size files as a NEW
    // committed version with identical content — the oracle reads the
    // same slice relationally, so the hash match certifies the whole
    // append*-compact-read round trip, and the query itself asserts the
    // layout actually shrank (a no-op compact would still hash-match). --
    "s10_compacted_scan" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s10-${ProcessHandle.current().pid()}/cust_compact_$sfx"
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .where(col("c_custkey") <= 800)
      if (graft.sources.SnapshotTable.latestVersion(root) == 0) {
        (0 until 8).foreach { i =>
          graft.sources.SnapshotTable.write(
            cust.where(col("c_custkey") % 8 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("c_custkey"))
        }
        graft.sources.SnapshotTable.compact(s, root, targetBytes = 64L << 20)
      }
      val m = graft.sources.SnapshotTable.readManifest(
        root, graft.sources.SnapshotTable.latestVersion(root))
      require(m.op == "compact" && m.files.size < 8,
        s"compaction inert: op=${m.op} files=${m.files.size}")
      graft.sources.SnapshotTable.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // ---- S5 extension: stats-pruned copy-on-write DELETE + file-diff
    // CHANGE FEED. Three single-file appends partition the key range, so
    // the delete's manifest-envelope prune touches exactly ONE file (the
    // query requires it); a final compact packs the layout and the change
    // feed must report NOTHING for it (dataChange = false). The oracle
    // replays every insert/delete event relationally, so the hash match
    // certifies the whole write→delete→compact→changes round trip. ------
    "s11_changes_read" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s11-${ProcessHandle.current().pid()}/nation_cdc_$sfx"
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val S = graft.sources.SnapshotTable
      if (S.latestVersion(root) == 0) {
        S.write(nat.where(col("n_nationkey") < 10).coalesce(1), root,
          mode = "overwrite", statsCols = Seq("n_nationkey"))        // v1
        S.write(nat.where(col("n_nationkey").between(10, 19)).coalesce(1),
          root, mode = "append", statsCols = Seq("n_nationkey"))     // v2
        S.write(nat.where(col("n_nationkey") >= 20).coalesce(1), root,
          mode = "append", statsCols = Seq("n_nationkey"))           // v3
        val (_, rewritten, _) = S.deleteWhere(s, root,
          col("n_nationkey").between(12, 17),
          pruneHint = Some(("n_nationkey", 12.0, 17.0)))                 // v4
        require(rewritten == 1,
          s"delete should rewrite exactly the one hit file, got $rewritten")
        S.compact(s, root, targetBytes = 64L << 20)                  // v5
      }
      require(S.readManifest(root, S.latestVersion(root)).op == "compact")
      S.readChanges(s, root, fromVersion = 1)
        .orderBy(col("_change_version"), col("_change_type"),
          col("n_nationkey"))
    }),

    // ---- S5 extension: ROW-LEVEL change capture (the Delta CDF
    // contract). A merge and a delete committed with changeCapture=true
    // record their EXACT changed rows as manifest-referenced cdc files
    // (update_preimage / update_postimage / insert; delete); the change
    // feed replays those verbatim instead of the file-diff fallback's
    // rewrite-amplified delete+insert pairs. The query asserts the
    // amplification is gone — the merge rewrote every file of the
    // ~500-row table, yet its feed slice is exactly 2·matched + inserted
    // events — and the oracle replays each commit's changed rows
    // relationally, so the hash match certifies the captured rows, their
    // change types, and their version stamps all at once. --------------
    "s12_cdc_rowlevel" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s12-${ProcessHandle.current().pid()}/cust_cdc_$sfx"
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 500).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(cust.where(col("c_custkey").between(450, 520))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v2
        S.deleteWhere(s, root, col("c_custkey").between(100, 120),
          changeCapture = true)                                        // v3
      }
      val feed = S.readChanges(s, root, fromVersion = 1)
      val nMatch = cust.where(col("c_custkey").between(450, 500)).count()
      val nIns = cust.where(col("c_custkey").between(501, 520)).count()
      val v2Events = feed.where(col("_change_version") === 2).count()
      require(v2Events == 2 * nMatch + nIns,
        s"merge change feed amplified: $v2Events events for " +
          s"$nMatch matched + $nIns inserted rows")
      feed.select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"),
          col("_change_type"), col("_change_version"))
        .orderBy(col("_change_version"), col("_change_type"), col("c_custkey"))
    }),

    // ---- S5 extension: OPTIMIZE ZORDER BY — z-order-preserving
    // compaction. Six appends split by partkey % 6, so EVERY file spans
    // the whole partkey range and plain name-order packing could never
    // restore pruning; the zorderBy compact rewrites the set into
    // key-space hyper-rectangles and the query REQUIRES readPruned to
    // skip files again afterward. targetBytes derives from the observed
    // input (total/4 → 4 packed files) so the shape is scale-proof.
    // Oracle = the raw-table relational replay (content identical). ------
    "s13_zorder_compact" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s13-${ProcessHandle.current().pid()}/li_zcompact_$sfx"
      val S = graft.sources.SnapshotTable
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        .where(col("l_partkey") <= 200)
      if (S.latestVersion(root) == 0) {
        (0 until 6).foreach { i =>
          S.write(li.where(col("l_partkey") % 6 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("l_partkey", "l_suppkey"))
        }
        val m0 = S.readManifest(root, S.latestVersion(root))
        val total = m0.files.map(f => java.nio.file.Files.size(
          java.nio.file.Paths.get(root, "data", f))).sum
        S.compact(s, root, targetBytes = math.max(1L, total / 4),
          smallFraction = 1.0, zorderBy = Seq("l_partkey", "l_suppkey"))
      }
      require(S.readManifest(root, S.latestVersion(root)).op == "compact",
        "z-order compaction was inert")
      val (pruned, (kept, total)) = S.readPruned(s, root, "l_partkey", 20, 60)
      require(kept < total,
        s"z-order compaction restored no pruning: kept $kept of $total")
      pruned.where(col("l_partkey").between(20, 60))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- S5 extension: MERGE-ON-READ DELETE (deletion vectors). The
    // delete records matching row POSITIONS in a sidecar instead of
    // rewriting data files — the query REQUIRES the file set unchanged
    // and vectors present, then reads the table back with the vectors
    // applied transparently. Oracle = the relational remainder, so the
    // hash match certifies position capture + masked read end to end. --
    "s14_mor_delete" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s14-${ProcessHandle.current().pid()}/orders_mor_$sfx"
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 8000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where(col("o_orderkey") % 2 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }
        val filesBefore = S.readManifest(root, S.latestVersion(root)).files
        val (_, touched, deleted) = S.deleteWhereMoR(s, root,
          col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
        require(deleted > 0, "MoR delete matched nothing — bad fixture")
        val mAfter = S.readManifest(root, S.latestVersion(root))
        require(mAfter.files == filesBefore,
          "merge-on-read delete must not rewrite data files")
        require(mAfter.dvs.nonEmpty && touched > 0,
          "deletion vectors missing after MoR delete")
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: MERGE-ON-READ UPDATE — deletion vectors mask
    // the matched rows' old positions, postimage rows append as new
    // files, nothing is rewritten (pinned in-query: every original file
    // survives and carries a vector). The captured feed must hold
    // exactly 2×matched events. Oracle = the relational CASE over the
    // base table. ------------------------------------------------------
    "s16_mor_update" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s16-${ProcessHandle.current().pid()}/orders_morupd_$sfx"
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 8000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where(col("o_orderkey") % 2 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }
        val before = S.readManifest(root, 2).files
        val (_, touched, updated) = S.updateWhereMoR(s, root,
          col("o_orderstatus") === "O" && col("o_orderkey") % 10 === 3,
          Map("o_totalprice" -> (col("o_totalprice") + 5000)),
          changeCapture = true)                                    // v3
        require(updated > 0, "MoR update matched nothing — bad fixture")
        val mAfter = S.readManifest(root, 3)
        require(before.forall(mAfter.files.contains) && touched > 0 &&
          mAfter.dvs.nonEmpty,
          "merge-on-read update must keep originals and add vectors")
        val nCdc = S.readChanges(s, root, fromVersion = 2).count()
        require(nCdc == 2 * updated,
          s"captured update feed must hold 2 events per row, got $nCdc")
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- S5 extension: incremental materialized-view maintenance — a
    // keyed count+sum rollup kept current by FOLDING the base table's
    // row-level change feed into the summary SnapshotTable (inserts/
    // postimages +, deletes/preimages −) instead of recomputing: the
    // 100 TB pattern where the rollup costs O(|changes|) per refresh.
    // Sums ride as DECIMAL end to end so incremental ≡ batch EXACTLY;
    // the in-query require pins that equality against a fresh batch
    // recompute, and the oracle recomputes the same rollup relationally
    // from the mutated base — a hash match certifies the whole chain:
    // capture, delta fold, merge, empty-group deletion. ------------------
    "s17_incremental_agg" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s17-$pid/ord_base_$sfx"
      val sroot = sys.props("java.io.tmpdir") + s"/graft-s17-$pid/ord_sum_$sfx"
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarize(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover")).coalesce(1), sroot,
          mode = "overwrite")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 150,
          changeCapture = true)                                        // v3
        IA.applyChanges(s, root, sroot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"))
        // the maintained view must equal a batch recompute EXACTLY —
        // row set, counts, and decimal sums (group-count-sized collect)
        val inc = S.read(s, sroot)
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSet
        val batch = IA.summarize(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSet
        require(inc == batch,
          s"incremental view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- S5 extension: incremental view WITH exact COUNT(DISTINCT) —
    // the aggregate that is not a commutative group, maintained by the
    // two-level fold: changes maintain a (group, value)→multiplicity
    // detail table (multiplicities DO retract exactly), then touched
    // groups re-read their distinct counts from the detail slice only.
    // The merge inserts new custkeys and the delete retracts custkeys
    // whose only orders die, so both distinct transitions run; the
    // in-query require pins incremental == fresh batch recompute. ------
    "s19_incremental_distinct" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s19-$pid/ord_base_$sfx"
      val sroot = sys.props("java.io.tmpdir") + s"/graft-s19-$pid/ord_sum_$sfx"
      val droot = sys.props("java.io.tmpdir") + s"/graft-s19-$pid/ord_det_$sfx"
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val dc = ("o_custkey", "custs")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getLong(3))).toSet
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarizeWithDistinct(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"), dc).coalesce(1), sroot,
          mode = "overwrite")
        IA.seedDistinctDetail(s, root, droot, Seq("o_orderstatus"),
          "o_custkey")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 150,
          changeCapture = true)                                        // v3
        IA.applyChangesWithDistinct(s, root, sroot, droot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), dc)
        val inc = rows(S.read(s, sroot))
        val batch = rows(IA.summarizeWithDistinct(S.read(s, root),
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), dc))
        require(inc == batch,
          s"distinct view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"),
          col("custs"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- S5 extension: incremental view WITH exact min/max — the
    // retraction hybrid: arrivals fold monotonically, and only groups
    // whose stored extremum was retracted rescan their base slice. The
    // delete removes every row above a price threshold, so group maxes
    // ARE retracted and the rescan path runs for real; the in-query
    // require pins incremental == fresh batch recompute. ----------------
    "s18_incremental_minmax" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-s18-$pid/ord_base_$sfx"
      val sroot = sys.props("java.io.tmpdir") + s"/graft-s18-$pid/ord_sum_$sfx"
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val mm = Seq(("o_totalprice", "tp_min", "tp_max"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getDouble(3), r.getDouble(4))).toSet
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarizeWithMinMax(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"), mm).coalesce(1), sroot,
          mode = "overwrite")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_totalprice") > 350000,
          changeCapture = true)                                        // v3
        IA.applyChangesWithMinMax(s, root, sroot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), mm)
        val inc = rows(S.read(s, sroot))
        val batch = rows(IA.summarizeWithMinMax(S.read(s, root),
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), mm))
        require(inc == batch,
          s"min/max view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"),
          round(col("tp_min"), 2).as("tp_min"),
          round(col("tp_max"), 2).as("tp_max"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- S5 extension: copy-on-write UPDATE ... SET with row-level
    // change capture. Two stats-bounded files; the pruneHint must skip
    // the non-overlapping one (pinned in-query), and the captured feed
    // must hold exactly 2×matched events — preimage rows verbatim,
    // postimage rows with the assignments applied. Oracle = the
    // relational replay of both event classes. --------------------------
    "s15_cow_update" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s15-${ProcessHandle.current().pid()}/orders_upd_$sfx"
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 6000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where((col("o_orderkey") <= 3000) === (i == 0))
            .coalesce(1), root, mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }                                                          // v1, v2
        val (_, rewritten, skipped) = S.updateWhere(s, root,
          col("o_orderkey").between(1000, 2000) &&
            col("o_orderstatus") === "O",
          Map("o_orderstatus" -> lit("U"),
            "o_totalprice" -> (col("o_totalprice") + 1000)),
          pruneHint = Some(("o_orderkey", 1000.0, 2000.0)),
          changeCapture = true)                                    // v3
        require(rewritten == 1 && skipped == 1,
          s"update must rewrite 1 file and stats-skip 1, " +
            s"got rewritten=$rewritten skipped=$skipped")
      }
      val feed = S.readChanges(s, root, fromVersion = 2)
      val nMatch = o.where(col("o_orderkey").between(1000, 2000) &&
        col("o_orderstatus") === "O").count()
      require(nMatch > 0, "update matched nothing — bad fixture")
      require(feed.count() == 2 * nMatch,
        "captured update feed must hold exactly 2 events per matched row")
      feed.select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"), col("_change_type"))
        .orderBy(col("o_orderkey"), col("_change_type"))
    }),

    // ---- §2.3 outer join: customers with/without orders -----------------
    "j4_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // ---- §2.3 semi / anti joins: suppliers with(out) lineitems ----------
    "u6_semi_anti" -> ((s, dir) => {
      val su = t(s, dir, "supplier").select(col("s_suppkey"))
      val li = t(s, dir, "lineitem").select(col("l_suppkey"))
      val withLi = su.join(li, su("s_suppkey") === li("l_suppkey"), "left_semi")
        .withColumn("relation", lit("has_lineitems"))
      val withoutLi = su.join(li, su("s_suppkey") === li("l_suppkey"), "left_anti")
        .withColumn("relation", lit("no_lineitems"))
      withLi.unionByName(withoutLi).orderBy(col("relation"), col("s_suppkey"))
    }),

    // ---- skew-mitigated join (identical results to the plain join) ------
    "j3_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
        col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
        col("o_orderstatus"))
      graft.ops.Partitioning.saltedJoin(li, o, Seq("orderkey"), salts = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- bloom-prefiltered join (identical results to the plain join):
    // a sketch of the selective dim's key set drops non-matching fact rows
    // BEFORE the join's exchange — only might-match rows shuffle; the
    // exact join behind the filter removes the fpp false positives. The
    // membership test is a native codegen expression, never a UDF. ------
    "j8_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.ops.Bloom.prefilteredJoin(li, urgent, "l_orderkey", "o_orderkey",
          expectedItems = 1L << 20, fpp = 0.03)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- hot-key-isolated join (identical results to the plain join):
    // the hotKeys head joins via broadcast of its right slice — hot rows
    // never shuffle — while the tail takes the normal path --------------
    "j6_skew_isolated" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
        col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
        col("o_orderstatus"))
      graft.ops.Partitioning.skewIsolatedJoin(li, o, Seq("orderkey"), hotKeyLimit = 5)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- partitioned layout + dynamic partition pruning -----------------
    // The first IO lever at 100 TB: a date-partitioned fact layout lets a
    // selective dim join read only the matching partitions. The dim filter
    // (days with value-sum above 7/8 of the max day) is NOT statically
    // inferable on the fact side, so the pruning must happen at runtime —
    // DPP reuses the broadcast dim to prune fact partitions before the scan.
    "p7_partition_prune" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-p7-${ProcessHandle.current().pid()}/events_by_day"
      // reuse is gated on the _SUCCESS marker, not bare dir existence: a
      // write that died partway leaves a directory but no marker, and must
      // be rewritten (mode=overwrite), never silently read as complete
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_SUCCESS")))
        ev.withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(root)
      val fact = s.read.parquet(root)
      val daySums = ev.groupBy(to_date(col("ts")).as("event_date"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
      // decimal*integer stays exact on both engines — no FP boundary risk.
      // The max comes from a global window over the (days-sized) dim, not a
      // cross join: a crossJoin+filter would be rewritten into a join
      // condition, leaving no Filter node for DPP's selectivity check.
      val dim = daySums
        .withColumn("max_value",
          max(col("day_value")).over(Window.partitionBy()))
        .where(col("day_value") * 8 > col("max_value") * 7)
        .select(col("event_date"))
      fact.join(broadcast(dim), Seq("event_date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // ---- Z-ORDER layout scan (p8): lineitem re-clustered on the Z-curve
    // of (l_partkey, l_suppkey) so parquet file/row-group stats prune 2-D
    // box predicates — the Delta OPTIMIZE ZORDER BY capability as an
    // operator (ops.Layout; LayoutSpec measures the actual file pruning:
    // 3/32 files touched vs 32/32 under a single-column sort). The oracle
    // replays the box filter + aggregate on the RAW table, so the hash
    // match proves the re-layout changed bytes-on-disk, not content. ------
    "p8_zorder_scan" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-p8-${ProcessHandle.current().pid()}/li_z_$sfx"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_SUCCESS")))
        graft.ops.Layout.zorder(
            t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity"), col("l_extendedprice")),
            Seq("l_partkey", "l_suppkey"), bits = 10, outPartitions = 16)
          .write.mode("overwrite").parquet(root)
      s.read.parquet(root)
        .where(col("l_partkey").between(10, 150) &&
          col("l_suppkey").between(2, 8))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- ordered funnel analysis (e9): view → click → purchase with
    // STRICT event-time ordering per user (a click before the first view
    // doesn't count). Three chained stages, each ONE key-partitioned
    // aggregation + one key join (the stage frames are user-count-sized —
    // broadcast-able dims at scale); no window over the raw event stream,
    // no per-user collect. ------------------------------------------------
    "e9_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"))
      val c = ev.join(v, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(when(col("event_type") === "click" && col("us") > col("t_view")
            && col("us") <= col("t_view") + 604800000000L,
          col("us"))).as("t_click"))
      val p = ev.join(c, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view"), col("t_click"))
        .agg(min(when(col("event_type") === "purchase" && col("us") > col("t_click")
            && col("us") <= col("t_click") + 604800000000L,
          col("us"))).as("t_purchase"))
      p.agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("reached_view"),
        count(col("t_click")).as("reached_click"),
        count(col("t_purchase")).as("reached_purchase"))
    }),

    // ---- interval-overlap join by binned blocking (j7): the range
    // predicate l.s ≤ r.e ∧ r.s ≤ l.e would plan as a nested loop; binning
    // both sides into hour cells turns it into a hash EQUI join on the
    // bin with owning-bin single emission (ops.IntervalJoin; the LSH
    // owning-band contract applied to time). Oracle: DuckDB's native
    // range join evaluates the same predicate directly. ------------------
    "j7_interval_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // parity split works at every SF (sf0.001 has only 15 users)
      def side(parity: Int, mod: Int, lenUs: Long, idName: String) =
        ev.where(col("user_id") % 2 === parity && col("event_id") % mod === 0)
          .select(col("event_id").as(idName),
            unix_micros(col("ts")).as("s"),
            (unix_micros(col("ts")) + lenUs).as("e"))
      val l = side(0, 29, 1800000000L, "l_id")  // 30-min intervals
      val r = side(1, 23, 2700000000L, "r_id")  // 45-min intervals
      graft.ops.IntervalJoin.overlapJoin(l, r, "s", "e",
          binWidth = 3600000000L) // 1-hour bins ≈ interval length
        .select(col("l_id"), col("r_id"),
          (least(col("e"), col("e_r")) - greatest(col("s"), col("s_r")))
            .as("overlap_us"))
        .orderBy(col("l_id"), col("r_id"))
    }),

    // ---- bucketed co-located fact⋈fact join (zero-Exchange SMJ) ---------
    // Both facts persist bucketed+sorted on the join key; the join AND the
    // key-grouped aggregation then plan with no shuffle exchange at all —
    // the layout contract that makes repeated 100 TB fact joins affordable.
    // repartition(8, key) uses the same hash as the bucket spec, so each
    // task writes exactly one bucket file and scans stay sorted.
    "j5_bucketed_join" -> ((s, dir) => {
      // layout tables are per-(session, sfDir): write once, reuse on
      // re-invocation. The dir suffix is a collision-resistant md5 (a
      // 32-bit String.hashCode collision between two dirs in one session
      // would silently serve stale data); both tables are checked so a
      // half-completed first write is retried, not half-reused.
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(16)
      val (liTable, oTable) = (s"graft_j5_lineitem_$sfx", s"graft_j5_orders_$sfx")
      if (!s.catalog.tableExists(liTable) || !s.catalog.tableExists(oTable)) {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        graft.ops.Partitioning.writeBucketed(
          li.repartition(8, col("l_orderkey")), liTable, "l_orderkey", 8)
        graft.ops.Partitioning.writeBucketed(
          o.repartition(8, col("o_orderkey")), oTable, "o_orderkey", 8)
      }
      val lb = s.table(liTable)
      val ob = s.table(oTable)
      // merge hint: at test SF the orders side fits a broadcast, which would
      // bypass the layout being proven; at 100 TB neither fact side
      // broadcasts, so SMJ-over-buckets IS the production plan
      lb.hint("merge").join(ob, lb("l_orderkey") === ob("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"),
          moneySum(col("l_extendedprice")).as("price"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- streaming batch-twin: stream-stream attribution interval join --
    "e5_attributed_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.attributedJoin(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"), "30 minutes")
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          col("l_value"), col("r_value"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    }),

    // ---- streaming LEFT-OUTER attribution (e13): unconverted views emit
    // with null purchase columns — batch form of the watermarked outer
    // stream-stream join (the live null-emission path is spec'd with
    // MemoryStream watermark advancement). -------------------------------
    "e13_attributed_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.attributedJoinOuter(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"), "30 minutes")
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          col("l_value"), col("r_value"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    }),

    // ---- streaming near-dup batch replay: the StreamingNearDup operator's
    // signature/banding/owning-band contract over a static corpus, so the
    // streaming component gets a hash-verified CORRECTNESS row (the live
    // stateful path is spec'd against this exact construction) ------------
    "e7_stream_neardup_replay" -> ((s, dir) => {
      graft.streaming.StreamingNearDup.batchReplay(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("dup_of"))
    }),

    // ---- streaming exact-dedup batch replay: first event per content
    // hash by (event time, id) — streamingExactDedup's closed-corpus
    // contract (the live watermarked path is spec'd ≡ this replay) --------
    "e8_stream_dedup_replay" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.exactDedupReplay(
          ev.select(col("event_id"), col("ts"), col("props")),
          idCol = "event_id", tsCol = "ts", contentCol = "props")
        .select(col("content_hash"), unix_micros(col("ts")).as("first_ts"),
          col("event_id"))
        .orderBy(col("content_hash"))
    }),

    // ---- streaming CUSUM batch replay (e28): StreamingCusum's OWN fold
    // (the shared foldBuckets recurrence) over the closed hourly-count
    // corpus — bit-identical to any micro-batch split since the
    // recurrence is per-bucket. The output additionally pins the final
    // state against e15's ★ batch cusumDetect chain in-band
    // (matches_e15); the oracle replays the doubled-unit reflection
    // chain relationally. ------------------------------------------------
    "e28_stream_cusum_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val counts = ev.where(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type").as("key"),
          date_trunc("hour", col("ts")).as("bts"))
        .agg(count(lit(1)).as("c"))
        .select(col("key"), unix_micros(col("bts")).as("bts"), col("c"))
        .as[(String, Long, Long)]
      val fold = graft.streaming.StreamingCusum.batchReplay(counts, 5L, 40L)
        .toDF()
      val batch = graft.ops.Resample.cusumDetect(ev,
          "event_type", "ts", "hour", target2 = 5L, threshold2 = 40L)
        .groupBy(col("key")).agg(
          count(lit(1)).as("nb"),
          max_by(col("cusum2"), col("bucket_ts")).as("c2b"),
          max_by(col("alarm"), col("bucket_ts")).as("ab"),
          bool_or(col("alarm")).as("everb"))
      fold.join(batch, "key")
        .select(col("key"), col("n_buckets"), col("cusum2"),
          col("alarm_now"), col("alarmed_ever"),
          (col("n_buckets") === col("nb") && col("cusum2") === col("c2b") &&
            col("alarm_now") === col("ab") &&
            col("alarmed_ever") === col("everb")).as("matches_e15"))
        .orderBy(col("key"))
    }),

    // ---- streaming Misra–Gries batch replay (e29): the live operator's
    // OWN foldBatch step over the closed corpus as one batch, then the MG
    // guarantee certified IN-BAND against the exact per-item truth: every
    // counter is a lower bound, counter+spilled an upper bound, the spill
    // mass respects processed/(k+1), and every provably-heavy item
    // (true·(k+1) > processed) is present — n_heavy_found is hash-pinned
    // to the oracle's exact n_heavy_true. --------------------------------
    "e29_stream_hh_replay" -> ((s, dir) => {
      import s.implicits._
      val k = 4
      // ONE corpus pass: the raw keyed frame feeds only the truth
      // aggregate; the MG fold replays over the PRE-SUMMED truth cells
      // (batchReplay's first step is exactly that per-key item sum, so
      // the fold's input multiset — and the sketch — is bit-identical;
      // StreamingHhSpec pins it). This drops the old second corpus-wide
      // shuffle + typed-encoder pass into the fold. truth feeds five
      // consumers (fold, perKey, heavy filter, bounds join, semi join) —
      // pinned. mg is ≤ k rows per key: broadcast it explicitly.
      val keyed = t(s, dir, "lineitem").select(
        col("l_returnflag").as("key"),
        when(col("l_linenumber") <= 3,
          concat(lit("hot_"), col("l_orderkey") % 2))
          .otherwise(concat(lit("cold_"), col("l_orderkey"), lit("_"),
            col("l_linenumber"))).as("item"),
        col("l_quantity").cast("long").as("w"))
      val truth = keyed.groupBy(col("key"), col("item"))
        .agg(sum(col("w")).as("truew"))
        .localCheckpoint()
      val mg = graft.streaming.StreamingHeavyHitters.batchReplay(
        truth.as[(String, String, Long)], k).toDF()
      val perKey = truth.groupBy(col("key")).agg(sum(col("truew")).as("processed"))
      val heavyItems = truth.join(broadcast(perKey), "key")
        .where(lit(k + 1) * col("truew") > col("processed"))
      // MG invariants read in-band: counter is a lower bound, counter +
      // spilled an upper bound, spill mass ≤ processed/(k+1), table ≤ k —
      // mg carries its own exact processed/spilled accounting
      val mgChecked = truth.join(broadcast(mg), Seq("key", "item"))
        .groupBy(col("key")).agg(
          count(lit(1)).as("n_counters"),
          bool_and(col("count_lb") <= col("truew") &&
            col("truew") <= col("count_lb") + col("spilled")).as("all_bounds_hold"),
          bool_and(col("spilled") * (k + 1) <= col("processed")).as("spill_ok"))
      val found = heavyItems
        .join(broadcast(mg.select(col("key"), col("item"))),
          Seq("key", "item"), "left_semi")
        .groupBy(col("key")).agg(count(lit(1)).as("n_heavy_found"))
      perKey
        .join(heavyItems.groupBy(col("key")).agg(count(lit(1)).as("n_heavy_true")),
          Seq("key"), "left")
        .join(found, Seq("key"), "left")
        .join(mgChecked, "key")
        .select(col("key"), col("processed"),
          coalesce(col("n_heavy_true"), lit(0L)).as("n_heavy_true"),
          coalesce(col("n_heavy_found"), lit(0L)).as("n_heavy_found"),
          col("all_bounds_hold"), col("spill_ok"),
          (col("n_counters") <= k).as("table_bounded"))
        .orderBy(col("key"))
    }),

    // ---- streaming SPRT batch replay (e30): StreamingSprt's OWN
    // foldLook step once per day in look order — exactly the
    // one-micro-batch-per-look schedule r70 models, so the latched
    // crossing flags replay the sequential test's look path. Exact totals
    // and the closed-form LLR (JVM constants interpolated) hash-certify
    // against the relational look chain. ---------------------------------
    "e30_stream_sprt_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val counts = ev.where(col("ts").isNotNull)
        .groupBy(when(col("user_id") % 2 === 1, "odd").otherwise("even").as("key"),
          unix_micros(date_trunc("day", col("ts"))).as("look"))
        .agg(count(lit(1)).as("t"),
          count(when(col("event_type") === "purchase", 1)).as("x"))
        .as[(String, Long, Long, Long)]
      graft.streaming.StreamingSprt.batchReplay(counts, p0 = 0.18, p1 = 0.22)
        .toDF()
        .select(col("key"), col("n"), col("x"),
          (round(col("llr"), 6) + lit(0.0)).as("llr"),
          col("crossedUp").as("crossed_up"), col("crossedDn").as("crossed_dn"),
          col("decision"))
        .orderBy(col("key"))
    }),

    // ---- streaming materialized view, batch-replayed (the e7/e8
    // doctrine): four deterministic TIME-ORDERED micro-batches (fixed
    // quartile boundaries on unix_micros(ts), so equal timestamps never
    // straddle batches) run rollupSink's exact per-batch path — newest
    // event per user upserted with capture, captured slice folded into
    // the per-event-type rollup. Time-ordered batches make sequential
    // last-write-wins ≡ global newest-per-user, which is what the oracle
    // replays relationally; the in-query require additionally pins
    // summary == fresh batch recompute engine-side. --------------------
    "e10_stream_rollup" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-e10-$pid/base_$sfx"
      val sroot = sys.props("java.io.tmpdir") + s"/graft-e10-$pid/sum_$sfx"
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 300 && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value"))
      if (S.latestVersion(root) == 0) {
        val mm = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head
        val lo = mm.getLong(0)
        val step = (mm.getLong(1) - lo) / 4 + 1
        (0 until 4).foreach { b =>
          val batch = ev.where(
            expr(s"(unix_micros(ts) - ${lo}L) div ${step}L") === b)
          if (!batch.isEmpty) {
            val others = Seq("ts", "event_type", "value")
            val latest = batch.groupBy(col("user_id"))
              .agg(max(struct(others.map(col): _*)).as("__l"))
              .select(col("user_id") +: others.map(c => col(s"__l.$c").as(c)): _*)
            val pre = S.latestVersion(root)
            S.merge(latest, root, Seq("user_id"), changeCapture = true)
            if (S.latestVersion(sroot) == 0)
              S.write(IA.summarize(S.read(s, root), Seq("event_type"),
                Seq("value" -> "total")).coalesce(1), sroot)
            else
              IA.applyChanges(s, root, sroot, fromVersion = pre,
                Seq("event_type"), Seq("value" -> "total"))
          }
        }
        val inc = S.read(s, sroot).collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
        val batchRe = IA.summarize(S.read(s, root), Seq("event_type"),
          Seq("value" -> "total")).collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
        require(inc == batchRe,
          s"streamed rollup diverged from batch recompute:\n$inc\nvs\n$batchRe")
      }
      S.read(s, sroot)
        .select(col("event_type"), col("n"),
          round(col("total").cast("double"), 2).as("total"))
        .orderBy(col("event_type"))
    }),

    // ---- streaming partition overwrite, batch-replayed (e12): three
    // day-sliced recompute batches with OVERLAPPING coverage run
    // replaceSink's per-batch path — each batch atomically replaces the
    // days it covers, so the final owner of a day is the LAST batch that
    // recomputed it. Batch 3 is then redelivered under a new batchId
    // (executes; content-idempotent by construction) and replayed under
    // the same batchId (skipped by the txn stamp); the in-query require
    // pins the version accounting of both defenses. The oracle assigns
    // each day its final owner relationally via dense_rank. -------------
    "e12_stream_replace" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-e12-$pid/days_$sfx"
      val S = graft.sources.SnapshotTable
      val ES = graft.streaming.EventStream
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 200 && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
          col("value").cast("double").as("value"),
          to_date(col("ts")).cast("string").as("day"))
      if (S.latestVersion(root) == 0) {
        val days = ev.select(col("day")).distinct().orderBy(col("day"))
          .collect().map(_.getString(0)) // bounded: calendar-sized
        def slice(from: Int, until: Int, tag: Int) =
          ev.where(col("day").isin(days.slice(from, until).toSeq: _*))
            .withColumn("loaded_by", lit(tag))
        ES.replaceBatch(slice(0, 12, 1), root, "day", root, 0L)
        ES.replaceBatch(slice(9, 21, 2), root, "day", root, 1L)
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 2L)
        val vAfter = S.latestVersion(root)
        // redelivered content under a NEW id: executes, changes nothing
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 3L)
        // replay under the SAME id: the stamp skips it without a commit
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 3L)
        require(S.latestVersion(root) == vAfter + 1,
          "replay accounting broke: expected exactly one extra commit")
      }
      S.read(s, root)
        .groupBy(col("day"), col("loaded_by"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy(col("day"))
    }),

    // ---- streaming materialized view WITH exact COUNT(DISTINCT),
    // batch-replayed: rollupDistinctSink's per-batch path — newest event
    // per user upserted with capture, captured slice folded through the
    // two-level distinct protocol, windows driven by the foldedThrough
    // watermarks exactly as the sink runs them (not a hand-carried
    // fromVersion). `cohort` = user_id % 10 retracts from a group when a
    // user's newest event changes type, so distinct counts move in both
    // directions; the in-query require pins summary == batch recompute.
    "e11_stream_distinct" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = ProcessHandle.current().pid()
      val root = sys.props("java.io.tmpdir") + s"/graft-e11-$pid/base_$sfx"
      val sroot = sys.props("java.io.tmpdir") + s"/graft-e11-$pid/sum_$sfx"
      val droot = sys.props("java.io.tmpdir") + s"/graft-e11-$pid/det_$sfx"
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val dc = ("cohort", "cohorts")
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 300 && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value"),
          (col("user_id") % 10).as("cohort"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getLong(3))).toSet
      if (S.latestVersion(root) == 0) {
        val mm = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head
        val lo = mm.getLong(0)
        val step = (mm.getLong(1) - lo) / 4 + 1
        (0 until 4).foreach { b =>
          val batch = ev.where(
            expr(s"(unix_micros(ts) - ${lo}L) div ${step}L") === b)
          if (!batch.isEmpty) {
            val others = Seq("ts", "event_type", "value", "cohort")
            val latest = batch.groupBy(col("user_id"))
              .agg(max(struct(others.map(col): _*)).as("__l"))
              .select(col("user_id") +: others.map(c => col(s"__l.$c").as(c)): _*)
            S.merge(latest, root, Seq("user_id"), changeCapture = true)
            if (S.lastTxn(sroot, IA.foldedThroughKey).isEmpty)
              IA.seedSummaryWithDistinct(s, root, sroot, droot,
                Seq("event_type"), Seq("value" -> "total"), dc)
            else
              IA.foldOnceWithDistinct(s, root, sroot, droot,
                Seq("event_type"), Seq("value" -> "total"), dc)
          }
        }
        val inc = rows(S.read(s, sroot))
        val batchRe = rows(IA.summarizeWithDistinct(S.read(s, root),
          Seq("event_type"), Seq("value" -> "total"), dc))
        require(inc == batchRe,
          s"streamed distinct view diverged from batch:\n$inc\nvs\n$batchRe")
      }
      S.read(s, sroot)
        .select(col("event_type"), col("n"),
          round(col("total").cast("double"), 2).as("total"), col("cohorts"))
        .orderBy(col("event_type"))
    }),

    // ---- time-series resample + forward fill (grid ∘ as-of join) --------
    "e6_resample_ffill" -> ((s, dir) => {
      graft.ops.Resample.forwardFillGrid(Tables.events(s, dir),
          "event_type", "ts", "value")
        .select(col("event_type"), col("grid_ts").cast("long").as("grid_ts"),
          col("last_value"))
        .orderBy(col("event_type"), col("grid_ts"))
    }),

    // ---- events: rolling z-score anomaly flags (e14) — hourly counts
    // per type scored against the 24 prior buckets; integer power sums in
    // a PARTITIONED sliding frame, one fixed z tree, flag reads the
    // rounded z. The monitoring twin of q3's global z-score checks. ------
    "e14_rolling_anomaly" -> ((s, dir) => {
      graft.ops.Resample.rollingAnomaly(Tables.events(s, dir),
          "event_type", "ts", "hour", lookback = 24, zThreshold = 3.0)
        .select(col("key"), col("bucket_ts").cast("long").as("bucket_ts"),
          col("c"), col("prior_n"), col("z"), col("is_anomaly"))
        .orderBy(col("key"), col("bucket_ts"))
    }),

    // ---- §2.5 reshaping: pivot (explicit values → static schema) --------
    "p5_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(moneySum(col("l_extendedprice")))
        .orderBy(col("l_returnflag"))
    }),

    // ---- §2.5 reshaping: unpivot / melt ---------------------------------
    "p6_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // ---- §2.8 R6 (distributed twin): empirical ROC, no driver collect ---
    "r8_roc_empirical" -> ((s, dir) => {
      // driver-side curve sweep (bounded by distinct scores) — the windowed
      // empiricalRoc stays as the spec-pinned bit-identical twin
      Roc.empiricalRocDriver(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"))
    }),

    // ---- text analysis: PII redaction -----------------------------------
    // documents carry no natural PII, so deterministic synthetic PII is
    // appended per row on BOTH sides — the regex chain is what's under test
    "t5_pii_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
          (col("doc_id") % 200).cast("string"), lit(".7 ssn 123-45-6789 tel +1 555 867 5309")).as("raw"))
        .select(col("doc_id"), TextOps.redactPii(col("raw")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: repetition / diversity metrics ------------------
    "t6_repetition" -> ((s, dir) => {
      val toks = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_ratio"),
          round(col("top_count").cast("double") / col("n_tokens"), 6).as("top_token_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: corpus-level boilerplate n-gram detection ---------------
    // Two passes so 5-gram STRINGS never cross a shuffle (r2's single
    // groupBy(ngram) shuffled raw strings — 21.6 s, the most expensive
    // query): pass 1 counts docs per 8-byte shingle hash (native one-pass
    // ShingleHashExpr, no string materialization, map-side combine); pass 2
    // re-expands strings and broadcast-joins the tiny ≥3-doc survivor set —
    // a 5-token ngram re-hashed via the same expression yields its original
    // combined hash, so the join key is exact.
    "d6_boilerplate_ngrams" -> ((s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val survivors = docs
        .select(explode(graft.expressions.ShingleHashExpr
          .shingleHashes(col("text"), 5)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 3)
      docs.select(explode(Dedup.shingles(col("text"), 5)).as("ngram"))
        .select(col("ngram"), element_at(graft.expressions.ShingleHashExpr
          .shingleHashes(col("ngram"), 5), 1).as("h"))
        .join(broadcast(survivors), "h")
        .select(col("ngram"), col("n_docs")).distinct()
        .orderBy(col("n_docs").desc, col("ngram"))
    }),

    // ---- §2.4 set ops: INTERSECT / EXCEPT -------------------------------
    "u5_intersect_except" -> ((s, dir) => {
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val both = custNations.intersect(suppNations).withColumn("relation", lit("both"))
      val custOnly = custNations.except(suppNations).withColumn("relation", lit("cust_only"))
      both.unionByName(custOnly).orderBy(col("relation"), col("nationkey"))
    }),

    // ---- set ops: MULTISET intersect/except (u7) — the ALL variants u5's
    // distinct semantics miss: multiplicities min() under INTERSECT ALL
    // and subtract under EXCEPT ALL; aggregated per key so the result is
    // compact and the duplicate accounting is visible. --------------------
    "u7_multiset_ops" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val supp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val ia = cust.intersectAll(supp).groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = cust.exceptAll(supp).groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea).select(col("op"), col("nationkey"), col("n"))
        .orderBy(col("op"), col("nationkey"))
    }),

    // ---- moving-frame windows: ROWS BETWEEN n PRECEDING -----------------
    // the remaining window shape the W-family lacked: per-key sliding
    // 5-row average (DECIMAL moving sum so the sliding-frame FP order
    // can't diverge between engines), running max, and lag diff — all
    // key-partitioned windows, no global sort
    "w4_moving_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val frame = w.rowsBetween(-4, Window.currentRow)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .where(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,2)")).over(frame).cast("double") /
            count(lit(1)).over(frame), 6).as("mavg_5"),
          round(max(col("value")).over(cum).cast("double"), 2).as("run_max"),
          round(col("value") - lag(col("value"), 1).over(w), 6).as("diff_prev"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- §2.7 string-function parity suite ------------------------------
    // the scalar string surface beyond what the medical cleaning stages
    // exercise: case mapping, translate, padding, reverse, edit distance,
    // substring, multi-arg concat — all deterministic, all hash-verified
    "t15_string_funcs" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          translate(col("c_name"), "#0", "_x").as("tr"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("lp"),
          reverse(col("c_name")).as("rev"),
          levenshtein(col("c_name"), lit("Customer#000000001")).as("lev"),
          substring(col("c_name"), 10, 5).as("sub5"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("cw"))
        .orderBy(col("c_custkey"))
    }),

    // ---- RANGE-frame windows: time-based trailing aggregates ------------
    // the VALUE-bounded frame shape (vs w4's row-bounded): per-user 1-hour
    // trailing count and exact DECIMAL sum over epoch-micros ordering —
    // the same numeric frame in any engine, peers included by RANGE
    // semantics. Key-partitioned; scales like any keyed window.
    "w5_range_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables.events(s, dir)
        .where(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- §2.6 GROUPS-frame windows (w6): Spark's window frames are ROWS
    // and RANGE only — no GROUPS mode and no EXCLUDE clause. Both emulate
    // exactly: dense_rank is GAPLESS per partition, so an integer RANGE
    // frame over the dense_rank IS a GROUPS frame (peer groups g−1..g+1),
    // and EXCLUDE GROUP / CURRENT ROW / TIES are exact DECIMAL subtractions
    // of the peer-group frame (RANGE 0..0) / the row's own value, NULL-
    // guarded where the exclusion empties the frame (SQL:2016). The oracle
    // evaluates the SAME frames through DuckDB's NATIVE EXCLUDE machinery
    // (DuckDB 1.0 lacks GROUPS mode, so both engines frame over the
    // dense_rank; the exclusions are genuinely independent
    // implementations). Order key is bucketed acctbal — tie-heavy, so
    // GROUPS genuinely differs from ROWS. --------------------------------
    "w6_groups_window" -> ((s, dir) => {
      import graft.ops.GroupsFrames._
      val seg = Seq(col("c_mktsegment"))
      def d2(c: Column) = round(c.cast("double"), 2)
      val base = withGroupOrdinal(
        t(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_custkey"),
            // + 0.0 normalizes IEEE -0.0 (negative sub-50 balances round to
            // the negative zero in one engine, positive in the other)
            (round(col("c_acctbal"), -2) + lit(0.0)).as("v"),
            col("c_acctbal").cast("decimal(18,2)").as("vd")),
        "grp", seg, Seq(col("v")))
      val frame = groupsBetween(seg, col("grp"), -1, 1)
      val peers = groupsBetween(seg, col("grp"), 0, 0)
      base.select(col("c_mktsegment"), col("c_custkey"), col("v"), col("grp"),
          count(lit(1)).over(groupsBetween(seg, col("grp"), -1, 0)).as("cnt_g"),
          d2(sum(col("vd")).over(frame)).as("sum_g"),
          d2(excludeGroup(sum, col("vd"), frame, peers)).as("sum_xgrp"),
          d2(excludeCurrentRow(sum, col("vd"), frame)).as("sum_xrow"),
          d2(excludeTies(sum, col("vd"), frame, peers)).as("sum_xties"))
        .where(col("c_custkey") <= 1500)
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    // ---- §2.6 ranking window suite: lead/lag/ntile/percent_rank ---------
    "w3_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .where(col("rn") <= 20)
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // ---- per-group top-k WITHOUT the window sort (w7): the bounded-heap
    // TypedImperativeAggregate (n1's operator) on a relational group-by —
    // map-side partial k-heaps, only k rows per group cross the shuffle,
    // vs row_number's full per-group sort-and-discard. Oracle = the window
    // formulation in DuckDB (identical (score desc, id asc) tiebreak), so
    // the hash match proves heap ≡ window semantics on real data. ---------
    "w7_group_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(graft.expressions.TopKByScore.topKByScore(
          col("o_totalprice"), col("o_orderkey").cast("long"), 10).as("top"))
        .select(col("o_orderstatus"), posexplode(col("top")).as(Seq("idx", "r")))
        .select(col("o_orderstatus"), (col("idx") + 1).cast("long").as("rnk"),
          col("r.id").as("o_orderkey"), col("r.score").as("price"))
        .orderBy(col("o_orderstatus"), col("rnk"))
    }),

    // ---- windows: rank-family coverage (w8) — ntile/percent_rank/
    // cume_dist on a PARTITIONED unique-ordered window, aggregated to the
    // quartile frame; the (price, key) order makes ranks tie-free. -------
    "w8_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .where(col("o_totalprice").isNotNull && col("o_orderpriority").isNotNull)
        .select(col("o_orderpriority"), ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n"), round(min(col("pr")), 6).as("min_pr"),
          round(max(col("cd")), 6).as("max_cd"))
        .select(col("o_orderpriority"),
          col("quartile").cast("long").as("quartile"), col("n"),
          col("min_pr"), col("max_cd"))
        .orderBy(col("o_orderpriority"), col("quartile"))
    }),

    // ---- ML: smoothed target encoding (m8) — the high-cardinality
    // categorical encoder; multiplied through by N the estimate is ONE
    // division of exact integers. ----------------------------------------
    "m8_target_encode" -> ((s, dir) => {
      graft.ml.Encoders.targetEncode(t(s, dir, "lineitem"), "l_suppkey",
        col("l_returnflag") === "R", smoothing = 10L)
    }),

    // ---- ML: weight-of-evidence + information value (m20) — the
    // credit-scoring feature screen: per-priority Haldane-smoothed WoE and
    // the IV running chain over the 5-row category frame. ----------------
    "m20_woe_iv" -> ((s, dir) => {
      graft.ml.Encoders.woeIvDF(t(s, dir, "orders"), "o_orderpriority",
        col("o_orderstatus") === "F")
    }),

    // ---- ML: deterministic k-fold assignment census (m9) — content-hash
    // folds (no RNG, row-local), fold sizes + label balance. -------------
    "m9_kfold" -> ((s, dir) => {
      graft.ops.Sampling.kfold(t(s, dir, "orders"), col("o_orderkey"), k = 4)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum((col("o_orderstatus") === "F").cast("int")).as("n_f"))
        .select(col("fold"), col("n"), col("n_f"),
          round(col("n_f").cast("double") / col("n").cast("double"), 6)
            .as("f_rate"))
        .orderBy(col("fold"))
    }),

    // ---- events: daily time-weighted average (e19) — each observation
    // holds until the next; cent values × µs gaps in DECIMAL, one
    // division per (type, day). ------------------------------------------
    "e19_twap" -> ((s, dir) => {
      graft.ops.Resample.twapDaily(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value")
    }),

    // ---- events: first-order Markov transition matrix (e21) — the
    // sequence-mining census; one lead window keyed by user, pairs
    // collapse to the kind² frame, probabilities one division each. ------
    "e21_markov" -> ((s, dir) => {
      graft.ops.Resample.transitionMatrix(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
    }),

    // ---- events: α=1/2 adjusted EWMA trend per (type, month) (e22) —
    // the dyadic weight makes the numerator a LONG running sum
    // (Σ xᵢ·2^(i−1)) and the whole statistic ONE final division. ---------
    "e22_ewma" -> ((s, dir) => {
      graft.ops.Resample.ewmaDaily(Tables.events(s, dir),
        "event_type", "ts", "value")
    }),

    // ---- quality: MAD robust outlier census (q18) — breakdown point 0.5
    // vs q10's IQR fences; doubled-cent cells keep both medians and the
    // 3·MAD rule pure integer arithmetic. --------------------------------
    "q18_mad_outliers" -> ((s, dir) => {
      graft.ops.Quality.madOutliers(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag")
    }),

    // ---- §2.8 Theil–Sen robust slope (r44) — weighted median of the
    // cell-frame pairwise slopes off the sharded prefix cumsum; every
    // slope is one division of exact cell values. ------------------------
    "r44_theil_sen" -> ((s, dir) => {
      graft.stats.RankTests.theilSenDF(
        t(s, dir, "lineitem"), "l_quantity", "l_discount")
    }),

    // ---- §2.8 precision–recall curve (r45) — the imbalance-honest twin
    // of r8's ROC; exact integer TP/FP per cut via the sharded prefix,
    // one division per reported ratio. -----------------------------------
    "r45_pr_curve" -> ((s, dir) => {
      Roc.prCurve(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"))
    }),

    // ---- similarity: reciprocal-rank-fusion hybrid retrieval (n15) —
    // n4's BM25 list + an n1 dense cosine list over the ALIGNED
    // embeddings (doc_id ≡ vec_id), fused 1/(60+r)+1/(60+r); bounded
    // driver fusion (the n10 doctrine). ----------------------------------
    "n15_rrf_fusion" -> ((s, dir) => {
      graft.text.Search.hybridRrf(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text",
        Tables.spread(t(s, dir, "embeddings")), "vec_id", "embedding",
        queryTerms = Seq("dup", "spark", "merge"), queryVecId = 0L)
    }),

    // ---- text: feature hashing (t20) — stateless fixed-width signed
    // token features (no vocabulary pass); md5-char bucket/sign so the
    // featurizer replays cross-engine (the d8/d9 doctrine). --------------
    "t20_hashing_trick" -> ((s, dir) => {
      graft.text.Vocab.hashedFeatures(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text", dim = 64)
    }),

    // ---- dedup: sorted-neighborhood blocking (d19) — the hash-free ER
    // candidate generator: rank-adjacency within key-prefix blocks, the
    // d4 sub-banded join, exact shingle-Jaccard verify. ------------------
    "d19_sorted_neighborhood" -> ((s, dir) => {
      Dedup.sortedNeighborhoodPairs(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text",
        keyLen = 24, blockLen = 2, window = 3, n = 3, minJaccard = 0.5)
    }),

    // ---- ML: per-leaf calibration table (m11) — a depth-4 tree emits
    // ≤16 distinct leaf probabilities, so calibration bins ARE the leaf
    // scores: observed rate vs predicted per score, one division each
    // (never a mean over double scores). m4's runtime-oracle contract. ----
    "m11_calibration" -> ((s, dir) => {
      // ~25% deterministic md5 label flips: leaves stay impure, so the
      // calibration table carries real (score, observed-rate) spread
      val o = t(s, dir, "orders").select(
        (((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT")) =!=
          (substring(md5(col("o_orderkey").cast("string")), 2, 1) < lit("4")))
          .cast("double").as("label"),
        col("o_totalprice"),
        (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
        year(col("o_orderdate")).cast("double").as("order_year"),
        // pinned: fit + test scan over one materialization (m21/m22 pin
        // doctrine — fit-safe, see m4)
        col("o_orderkey")).localCheckpoint()
      val isTest = substring(md5(col("o_orderkey").cast("string")), 1, 1) < lit("5")
      val spec = graft.ml.CohortClassifier.fitTreeProbSpec(
        o.where(!isTest), Seq("o_totalprice", "is_urgent", "order_year"),
        "label", maxDepth = 4)
      m11FittedSpec = Some(spec)
      val np = sum(col("label").cast("long")).as("n_pos")
      o.where(isTest)
        .withColumn("score", graft.ml.TreeScorer.compile(spec))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n"), np)
        .select(col("score"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 6)
            .as("obs_rate"),
          round(abs(col("score") -
            col("n_pos").cast("double") / col("n").cast("double")), 6)
            .as("gap"))
        .orderBy(col("score"))
    }),

    // ---- S5 extension: SCD Type-2 dimension history (s34) — the CDC
    // feed of an overwrite + two captured merges + a captured delete
    // folds into (key, valid_from, valid_to, is_current) intervals; the
    // oracle rebuilds every interval relationally from the base table. ---
    "s34_scd2" -> ((s, dir) => {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s34-${ProcessHandle.current().pid()}/cust_scd2_$sfx"
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 400).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(cust.where(col("c_custkey").between(350, 420))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v2
        S.merge(cust.where(col("c_custkey").between(380, 410))
            .withColumn("c_acctbal", round(col("c_acctbal") + 500, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v3
        S.deleteWhere(s, root, col("c_custkey").between(390, 395),
          changeCapture = true)                                        // v4
      }
      graft.sources.Scd2.buildFrom(
        S.read(s, root, version = Some(1)), baseVersion = 1,
        feed = S.readChanges(s, root, fromVersion = 1), Seq("c_custkey"))
    }),

    // ---- events: day-of-week seasonality census (e23) — STL-lite with
    // RATIONAL residuals (7x − Σ₇) so the weekday means are integer sums;
    // interior-day filter keeps one denominator. -------------------------
    "e23_dow_seasonality" -> ((s, dir) => {
      graft.ops.Resample.dowSeasonality(Tables.events(s, dir),
        "event_type", "ts", "value")
    }),

    // ---- events: seasonal-naive forecast backtest (e27) — lag-7 vs
    // lag-1 calendar self-joins on the day frame, integer error sums,
    // MASE < 1 ⟺ the weekly pattern carries signal. -----------------------
    "e27_forecast_backtest" -> ((s, dir) => {
      graft.ops.Resample.seasonalNaiveBacktest(Tables.events(s, dir),
        "event_type", "ts", season = 7)
    }),

    // ---- §2.8 Ljung–Box whiteness test (r75) — joint autocorrelation
    // over e18's first 6 hourly lags, full-precision ρ, Q chain
    // PARTITIONED by event type. ------------------------------------------
    "r75_ljung_box" -> ((s, dir) => {
      graft.ops.Resample.ljungBoxDF(Tables.events(s, dir),
        "event_type", "ts", "hour", maxLag = 6)
    }),

    // ---- §2.8 Wald–Wolfowitz runs test per event type (r46) — sign runs
    // around the q18-machinery exact median, integer (n1, n2, R), one
    // fixed z tree. ------------------------------------------------------
    "r46_runs_test" -> ((s, dir) => {
      graft.stats.RankTests.runsTestDF(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value")
    }),

    // ---- §2.8 Wald SPRT (r70): anytime-valid sequential monitoring of
    // the odd-arm purchase rate, H0 p=0.18 vs H1 p=0.22 — one groupBy to
    // the day frame, JVM-interpolated LLR constants, running chain +
    // latched crossing flags (the fixed-n battery's streaming sibling). --
    "r70_sprt" -> ((s, dir) => {
      graft.stats.Sequential.sprtDF(Tables.events(s, dir), "ts",
        col("user_id") % 2 === 1, col("event_type") === "purchase",
        p0 = 0.18, p1 = 0.22)
    }),

    // ---- text: language-ID confusion census (t21) — t1's classifier
    // against the corpus truth column, per-cell recall one division. -----
    "t21_langid_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = TextOps.withLangId(
        Tables.spread(t(s, dir, "documents")), "text", "lang_pred")
      d.where(col("lang").isNotNull)
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .withColumn("recall_cell", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"), 6))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // ---- similarity: k-means cluster purity vs labels (n16) — the
    // clustering-eval census; trained centers export as literals and the
    // oracle replays assignment + majority relationally (n3 contract). ---
    "n16_cluster_purity" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
        .where(col("label").isNotNull)
      val centers = Embeddings.kmeansTrain(emb, "embedding", k = 8, seed = 42L)
      n16FittedCenters = Some(centers)
      val cells = Embeddings.assignEuclidean(emb, "embedding", centers)
        .groupBy(col("centroid_id").cast("long").as("centroid_id"),
          col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("c"))
      cells.groupBy(col("centroid_id"))
        .agg(sum(col("c")).as("n"),
          max(struct(col("c"), (-col("label")).as("nl"))).as("mx"))
        .select(col("centroid_id"), col("n"),
          (-col("mx.nl")).as("majority_label"),
          col("mx.c").as("n_majority"),
          round(col("mx.c").cast("double") / col("n").cast("double"), 6)
            .as("purity"))
        .orderBy(col("centroid_id"))
    }),

    // ---- quality: referential-integrity audit (q19) — orphan/NULL FK
    // census per relationship, distinct parent keys + one conditional
    // aggregate per child, unioned into a schema report. -----------------
    "q19_fk_audit" -> ((s, dir) => {
      val P = graft.ops.Profile
      P.fkAudit("lineitem.l_orderkey->orders",
          t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .unionByName(P.fkAudit("orders.o_custkey->customer",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .unionByName(P.fkAudit("customer.c_nationkey->nation",
          t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .orderBy(col("relationship"))
    }),

    // ---- multimodal: image near-dup pairs (x5) — decode + grid-embed
    // in-partition (payloads never shuffle), banded id-block join, dyadic
    // embeddings make the cosine replay exact. ---------------------------
    "x5_image_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      Multimodal.imageNearDupPairs(media, dim = 8, idWindow = 25, minCos = 0.9999)
    }),

    // ---- windows: NATIVE session_window aggregation (w9) — Spark's
    // built-in gap-merging session assignment; the oracle replays it with
    // the e20 break-cumsum island machinery (half-open [ts, ts+gap)). ----
    "w9_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ---- quality: candidate-key uniqueness audit (q20) — one cell
    // groupBy + one conditional aggregate per audit; o_custkey shows a
    // real non-unique key census. ----------------------------------------
    "q20_pk_audit" -> ((s, dir) => {
      val P = graft.ops.Profile
      P.pkAudit("lineitem(l_orderkey,l_linenumber)",
          t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .unionByName(P.pkAudit("orders(o_orderkey)",
          t(s, dir, "orders"), Seq("o_orderkey")))
        .unionByName(P.pkAudit("orders(o_custkey)",
          t(s, dir, "orders"), Seq("o_custkey")))
        .orderBy(col("key"))
    }),

    // ---- §2.8 Cochran's Q (r47) — k-related-samples binary test over
    // the order's first three lines; one aggregate, one fixed tree. ------
    "r47_cochran_q" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def line(n: Int) = li.where(col("l_linenumber") === n)
        .select(col("l_orderkey").as("k"),
          (col("l_returnflag") === "R").as(s"x$n"))
      graft.stats.Epi.cochranQDF(
        line(1).join(line(2), "k").join(line(3), "k"),
        Seq(col("x1"), col("x2"), col("x3")))
    }),

    // ---- §2.8 Hosmer–Lemeshow calibration χ² (r48) — over the r37
    // covariate-pattern cells with an independent IRLS fit; the chain
    // rides the 8-row cell frame (r19 doctrine), runtime β oracle. -------
    "r48_hosmer_lemeshow" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "disc_hi" -> (col("l_discount") >= 0.05),
        "qty_hi" -> (col("l_quantity") >= 25),
        "tax_hi" -> (col("l_tax") >= 0.04))
      val fit = graft.ml.Logistic.irlsFitCells(
        li, col("l_returnflag") === "R", feats)
      r48LogisticFit = Some(fit)
      val cells = li.where(col("l_discount").isNotNull &&
          col("l_quantity").isNotNull && col("l_tax").isNotNull &&
          col("l_returnflag").isNotNull)
        .groupBy((col("l_discount") >= 0.05).cast("int").as("disc_hi"),
          (col("l_quantity") >= 25).cast("int").as("qty_hi"),
          (col("l_tax") >= 0.04).cast("int").as("tax_hi"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_returnflag") === "R").cast("int")).as("y"))
      val p = lit(1.0) / (lit(1.0) + exp(-graft.ml.Logistic.margin(fit)))
      val e = col("n").cast("double") * p
      val contrib = (col("y").cast("double") - e) *
        (col("y").cast("double") - e) / (e * (lit(1.0) - p))
      val runW = Window.partitionBy()
        .orderBy(col("disc_hi").asc, col("qty_hi").asc, col("tax_hi").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("__c", contrib)
        .withColumn("hl_running", sum(col("__c")).over(runW))
        .select(col("disc_hi"), col("qty_hi"), col("tax_hi"), col("n"),
          col("y"), round(e, 4).as("expected"),
          round(col("__c"), 6).as("contrib"),
          round(col("hl_running"), 6).as("hl_running"))
        .orderBy(col("disc_hi"), col("qty_hi"), col("tax_hi"))
    }),

    // ---- §2.8 OLS simple regression (r49): price ~ quantity in ONE
    // exact-power-sum pass; slope/intercept/R²/residual-SE as a fixed
    // double tree over six exact decimal sums (the q6/TTest doctrine). --
    "r49_ols" -> ((s, dir) =>
      graft.stats.Regression.olsSimpleDF(t(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice"))),

    // ---- §2.8 Cox proportional hazards (r50): QUANTIFIES what r27
    // tests — the urgent-priority log hazard ratio for time-to-ship,
    // Breslow ties; Newton–Raphson with the score/information folded as
    // ONE distributed decimal-exact aggregate per iteration (only β
    // crosses the driver — no event-frame cap), fitted β exported,
    // per-time score/info/loglik running chains replayed relationally
    // with β as a literal. ----------------------------------------------
    "r50_cox" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("urgent"))
      val frame = graft.stats.Survival.twoGroupTimeFrame(
        cohort, "ship_days", col("kept"), col("urgent"))
      // one bounded collect + driver Newton instead of ~8 sequential
      // distributed iteration jobs — bit-identical fit (CoxFitSpec pins
      // equality with coxBinaryFitDistributed); event times are a bounded
      // dimension (days), so the collect is scale-safe
      val fit = graft.stats.Survival.coxBinaryFitCollected(frame)
      r50CoxFit = Some(fit)
      graft.stats.Survival.coxScoreDF(frame, fit.beta)
    }),

    // ---- §2.8 Nelson–Aalen cumulative hazard (r51): the hazard-scale
    // twin of r26 with NO transcendentals — exact-long divisions on
    // running chains over the distinct-time frame. ----------------------
    "r51_nelson_aalen" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.nelsonAalenDF(cohort, "ship_days", col("kept"))
    }),

    // ---- §2.8 Grubbs' extreme-outlier statistic (r52): per-returnflag
    // single-most-extreme test — one pass of exact per-group power sums
    // plus max/min, G as one fixed tree (q10/q18's parametric sibling). -
    "r52_grubbs" -> ((s, dir) =>
      graft.stats.TTest.grubbsDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag")),

    // ---- §2.8 Durbin–Watson (r53): first-order autocorrelation of the
    // daily-revenue series — the mean cancels in the lag differences, so
    // DW = n·Σd²/(n·Σc²−S²) is ONE division of exact cent integers. -----
    "r53_durbin_watson" -> ((s, dir) =>
      graft.stats.Regression.durbinWatsonDailyDF(t(s, dir, "lineitem"),
        col("l_shipdate"), col("l_extendedprice"))),

    // ---- §2.8 Bartlett homogeneity of variance (r54): the parametric
    // sibling of r38 — per-group exact power sums, the three group
    // accumulations as running chains, ln on exact-operand doubles. -----
    "r54_bartlett" -> ((s, dir) =>
      graft.stats.Anova.bartlettDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag")),

    // ---- §2.9 exact Naive Bayes (m12): every sufficient statistic is a
    // COUNT — one GROUPING SETS pass, Laplace-smoothed log-odds as a
    // fixed ln tree over exact integers, argmax off the round-6 value. --
    "m12_naive_bayes" -> ((s, dir) => {
      graft.ml.NaiveBayes.fitScoreCells(t(s, dir, "lineitem"),
        col("l_returnflag") === "R",
        Seq("disc_hi" -> (col("l_discount") >= 0.05),
          "qty_hi" -> (col("l_quantity") >= 25),
          "tax_hi" -> (col("l_tax") >= 0.04)))
    }),

    // ---- similarity: kNN majority-vote classification (n18) — the n1
    // bounded-heap top-7 per query, label votes, argmax with votes-then-
    // smallest-label tie-break; accuracy column per query. ---------------
    "n18_knn_classify" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
        .where(col("label").isNotNull)
      val queries = emb.where(col("vec_id") < 16)
      val nn = Embeddings.bruteForceTopKAgg(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 7)
      val votes = nn
        .join(emb.select(col("vec_id").as("corpus_id"),
          col("label").cast("long").as("nlabel")), "corpus_id")
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
      val pred = votes.groupBy(col("query_id"))
        .agg(max(struct(col("votes"), (-col("nlabel")).as("negl"))).as("m"))
        .select(col("query_id"), (-col("m.negl")).as("pred_label"),
          col("m.votes").as("votes"))
      pred
        .join(queries.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"), col("pred_label"),
          col("votes"),
          (col("pred_label") === col("true_label")).cast("long").as("correct"))
        .orderBy(col("query_id"))
    }),

    // ---- §2.9 multivariate OLS (m13): normal equations from ONE exact
    // moment aggregate, bounded driver solve, β exported; SSE/R² read
    // from the SAME moments via the quadratic form — no second pass. ----
    "m13_ols_multi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val xs = Seq[(String, org.apache.spark.sql.Column)](
        "qty" -> col("l_quantity"), "disc" -> col("l_discount"),
        "tax" -> col("l_tax"))
      // ONE moment pass serves the fit AND the summary (bit-identical:
      // the fit solves from the same collected row the summary trees
      // read; the 1-row localCheckpoint stops the output select from
      // re-running the corpus aggregate — the r76 shape)
      val mo = graft.stats.Regression.olsMoments(
        li, col("l_extendedprice"), xs).localCheckpoint()
      val fit = graft.stats.Regression.olsFitFromMomentsRow(
        mo.head(), xs.map(_._1), xs.indices)
      m13OlsFit = Some(fit)
      graft.stats.Regression.olsSummaryDF(mo, fit.beta)
    }),

    // ---- §2.9 ridge regression (m15): m13's covariates with an L2
    // penalty on the slopes — same exact moment frame, same bounded
    // driver solve with λ on the slope diagonal, same summary trees at
    // the (different) β; the m13 exported-artifact oracle shape. --------
    "m15_ridge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val xs = Seq[(String, org.apache.spark.sql.Column)](
        "qty" -> col("l_quantity"), "disc" -> col("l_discount"),
        "tax" -> col("l_tax"))
      // m13's single-moment-pass shape with λ on the slope diagonal
      val mo = graft.stats.Regression.olsMoments(
        li, col("l_extendedprice"), xs).localCheckpoint()
      val fit = graft.stats.Regression.ridgeFitFromMomentsRow(
        mo.head(), xs.map(_._1), lambda = 1e6)
      m15RidgeFit = Some(fit)
      graft.stats.Regression.olsSummaryDF(mo, fit.beta)
    }),

    // ---- §2.9 isotonic calibration (m16): P(returned) calibrated
    // monotone in the price bin via the PAVA minimax identity, computed
    // RELATIONALLY over the bounded cell frame — one corpus groupBy, then
    // k²/k³ cell-level arithmetic; no driver loop, no exported artifact,
    // fully static oracle (every mean is one long/long division). -------
    "m16_isotonic" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ml.Isotonic.fitCells(graft.ml.Isotonic.cells(li,
        floor(col("l_extendedprice") / 5000).cast("long"),
        col("l_returnflag") === "R"))
    }),

    // ---- §2.6 split-conformal prediction intervals (m17): md5 3-way
    // split, r49 power-sum OLS, calibration |residual| floor-cents →
    // EXACT ⌈(n+1)(1−α)⌉-th order statistic via the q10 cell machinery,
    // held-out coverage at α = .05/.1/.2 — distribution-free guarantee,
    // zero driver-side fitting, fully static oracle. ---------------------
    "m17_conformal" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ml.Conformal.splitConformalDF(li,
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")),
        col("l_quantity"), col("l_extendedprice"))
    }),

    // ---- similarity: binary sign-quantization + Hamming top-k with
    // exact cosine rerank (n20) — 32× smaller codes, integer Hamming
    // candidates, full vectors touched only for the k·|Q| survivors;
    // the memory-bound ANN shape (Charikar 2002 sign sketches). ---------
    "n20_binary_hamming" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      graft.sim.Quantize.binaryTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5)
    }),

    // ---- events: offline mean-shift changepoint (e26) — max-|CUSUM|
    // split of the daily count series as a pure INTEGER argmax
    // (D_t = n·cum_t − t·total); e15's online CUSUM answers "is it
    // drifting", this answers "when did the level change". --------------
    "e26_changepoint" -> ((s, dir) =>
      graft.stats.Changepoint.meanShiftDailyDF(
          t(s, dir, "events"), col("ts"))
        .withColumn("split_day", col("split_day").cast("string"))),

    // ---- §2.8 Breusch–Pagan heteroskedasticity test (r59): is
    // var(quantity) constant across the covariate cells? Integer y keeps
    // power sums to the 4th moment LONG-exact on the 2^p cell frame; two
    // shared-design driver solves export β/γ as literals; the LM chain
    // runs over 4 cells. ------------------------------------------------
    "r59_breusch_pagan" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val xs = Seq[(String, org.apache.spark.sql.Column)](
        "disc_hi" -> (col("l_discount") >= 0.05),
        "tax_hi" -> (col("l_tax") >= 0.04))
      val cells = graft.stats.Regression.bpCellsDF(li, col("l_quantity"), xs)
      val fit = graft.stats.Regression.bpFit(cells, 2)
      r59BpFit = Some(fit)
      graft.stats.Regression.bpSummaryDF(cells, xs.map(_._1), fit)
    }),

    // ---- §2.8 Fleiss' kappa (r60): multi-rater chance-corrected
    // agreement — do an order's 4 lines "agree" on the return flag?
    // Two longs (ssq, c2) + a fixed tree; the m-rater sibling of r33. ---
    "r60_fleiss_kappa" -> ((s, dir) =>
      graft.stats.ChiSquare.fleissKappaDF(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_returnflag"), m = 4)),

    // ---- multimodal: video shot-boundary census (x7) — the x3 4-frame
    // containers decoded in-partition, per-frame INTEGER grid sums, L1
    // frame distance, boundary where > 5000 (the observed text→padding
    // gap; same-content transitions sit near 0). Pure LONG after decode;
    // the oracle replays bins from char codes (the x1/x6 doctrine). ------
    "x7_shot_boundaries" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val padded = text.replaceAll("[^ -~]", "").padTo(1024, ' ').mkString
          val frames = (0 until 4).map(j =>
            Multimodal.textToPngPayload(padded.substring(256 * j, 256 * j + 256)))
          Multimodal.MediaRow(id, "video", frames.reduce(_ ++ _),
            Multimodal.MediaMeta("png", 16, 16, 3, 4000L))
        }
      Multimodal.shotCensus(media, dim = 8, threshold = 5000L)
        .toDF().orderBy(col("media_id"))
    }),

    // ---- §2.8 intraclass correlation ICC(1,1) (r61): how much quantity
    // variance lives BETWEEN orders? Fixed-size-4 groups (the r60
    // eligibility), three LONGs (A, T, Q) carry everything — exact
    // integer identities to MSB/MSW, fixed trees to ICC. ----------------
    "r61_icc" -> ((s, dir) =>
      graft.stats.Anova.iccOneWayDF(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_quantity"), k = 4)),

    // ---- §2.8 G-test (r62): the likelihood-ratio twin of r19's Pearson
    // χ² on the same (returnflag × linestatus) cells — SIGNED ln
    // contributions, so the chain's last link rides max_by (r30 lesson). -
    "r62_gtest" -> ((s, dir) =>
      graft.stats.ChiSquare.gTestDF(t(s, dir, "lineitem"),
        "l_returnflag", "l_linestatus")),

    // ---- text: per-doc lexical diversity census (t25) — type-token
    // ratio + Shannon entropy of each doc's token distribution; low
    // entropy flags repetitive docs the length filters miss. Ordered
    // m·ln m chain per doc (the t24 doctrine), nothing global. ----------
    "t25_token_entropy" -> ((s, dir) =>
      graft.text.Corpus.tokenEntropyDF(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- joins: FORWARD as-of (j9) — for each view, the next purchase
    // by the same user at-or-after it (pandas merge_asof forward); the
    // e3 union+window shape iterated in descending time, one key shuffle,
    // no range join. Right side pre-deduped per (user, ts) so the match
    // is unique and the DuckDB negated-ASOF replay is deterministic. ----
    "j9_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purch = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_id")).as("pid"), max(col("value")).as("pv"))
      graft.ops.AsOfJoin.asofForward(views, purch, Seq("user_id"),
          "ts", "ts", Seq("pid" -> "next_purchase_id", "pv" -> "next_value"))
        .select(col("user_id"), col("event_id"), col("next_purchase_id"),
          col("next_value"))
        .orderBy(col("event_id"))
    }),

    // ---- §2.8 Mood's median test (r63): do the return-flag groups share
    // a common price median? Global exact median in doubled cents off the
    // sharded prefix (q18 doctrine), integer above/below split, the r19
    // Pearson machinery on the 2×k table. -------------------------------
    "r63_mood_median" -> ((s, dir) =>
      graft.stats.RankTests.moodMedianDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag")),

    // ---- §2.8 Cohen's d / Hedges' g (r64): the standardized effect size
    // r22's t can't convey — same exact DECIMAL power sums, pooled SD,
    // small-sample correction; one fixed tree. --------------------------
    "r64_cohens_d" -> ((s, dir) =>
      graft.stats.TTest.cohensDDF(t(s, dir, "lineitem"),
        "l_extendedprice", col("l_returnflag") === "R")),

    // ---- §2.8 one-sample KS vs uniform (r65): is order value evenly
    // spread over its observed range? Pure INTEGER supremum (both jump
    // limits cross-multiplied), one division on the winning row. --------
    "r65_ks_uniform" -> ((s, dir) =>
      graft.stats.RankTests.ksUniformDF(t(s, dir, "orders"),
        "o_totalprice")),

    // ---- text: Zipf-law fit (t26) — ln freq ~ ln rank OLS over the
    // top-100 vocabulary; TakeOrdered(k), then ordered chains over the
    // k-row rank frame. The corpus power-law audit. ---------------------
    "t26_zipf_fit" -> ((s, dir) =>
      graft.text.Corpus.zipfFitDF(
        Tables.spread(t(s, dir, "documents")), "text", k = 100)),

    // ---- quality: Simpson's-paradox audit (q22) — per-year OR direction
    // of (urgent → delivered) vs the pooled direction; every direction an
    // integer cross-product sign, no division anywhere. -----------------
    "q22_simpson_audit" -> ((s, dir) =>
      graft.stats.Epi.simpsonAuditDF(t(s, dir, "orders"),
        year(to_date(col("o_orderdate"))).cast("long"),
        col("o_orderpriority") === "1-URGENT",
        col("o_orderstatus") === "F")),

    // ---- quality: join-key skew report (q23) — the salting/AQE decision
    // diagnostic: Gini, max/p99 count, top-10 mass over the key frequency
    // distribution, all exact integers via the value-level cell frame +
    // sharded prefix (no global sort, no global window). -----------------
    "q23_key_skew" -> ((s, dir) =>
      graft.ops.Partitioning.keySkewReportDF(t(s, dir, "lineitem"),
        "l_partkey")),

    // ---- storage: CHECK constraint enforcement (s36) — the Delta ADD
    // CONSTRAINT contract exercised end to end IN-QUERY: register on a
    // compliant table, a violating append is refused WITHOUT committing
    // (require pins both), the repaired rows land, and the final census
    // is oracled (base nonnegatives + |negatives| ≡ abs over everyone). -
    "s36_check_enforced" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = sys.props("java.io.tmpdir") +
        s"/graft-s36-${ProcessHandle.current().pid()}/cust_checks"
      graft.sources.SnapshotTable.write(
        cust.where(col("c_acctbal") >= 0), root, mode = "overwrite")
      graft.sources.SnapshotTable.addCheckConstraint(
        s, root, "nonneg_bal", "c_acctbal >= 0")
      val v0 = graft.sources.SnapshotTable.latestVersion(root)
      val refused =
        try {
          graft.sources.SnapshotTable.write(
            cust.where(col("c_acctbal") < 0), root, mode = "append")
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "violating append must be refused")
      require(graft.sources.SnapshotTable.latestVersion(root) == v0,
        "a refused write must not commit a version")
      graft.sources.SnapshotTable.write(
        cust.where(col("c_acctbal") < 0)
          .withColumn("c_acctbal", abs(col("c_acctbal"))),
        root, mode = "append")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("min_bal"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- §2.8 partial correlation (r55): price ~ quantity controlling
    // for discount — three pairwise correlations from one aggregate of
    // nine exact power sums, the closed form as a fixed tree. -----------
    "r55_partial_corr" -> ((s, dir) =>
      graft.stats.Regression.partialCorrDF(t(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))),

    // ---- §2.9 Poisson log-linear regression (r56): lines-per-order ~
    // order covariates — the count-response sibling of r37, same
    // cell-frame sufficient-statistics reduction and bounded driver
    // Newton; β exports as literals, per-cell rates replay relationally. -
    "r56_poisson" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val counts = li.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("nlines"))
      val units = o.where(col("o_orderpriority").isNotNull &&
          col("o_totalprice").isNotNull)
        .join(counts, col("o_orderkey") === col("ok"))
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "urgent" -> (col("o_orderpriority") === "1-URGENT"),
        "price_hi" -> (col("o_totalprice") >= 150000.0))
      val fit = graft.ml.Logistic.poissonFitCells(units, col("nlines"), feats)
      r56PoissonFit = Some(fit)
      units.groupBy(
          (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"),
          (col("o_totalprice") >= 150000.0).cast("int").as("price_hi"))
        .agg(count(lit(1)).as("n"), sum(col("nlines")).as("y"))
        .withColumn("eta", graft.ml.Logistic.margin(fit))
        .select(col("urgent"), col("price_hi"), col("n"), col("y"),
          round(col("eta"), 6).as("eta"),
          round(exp(col("eta")), 6).as("mu_hat"))
        .orderBy(col("urgent"), col("price_hi"))
    }),

    // ---- §2.8 Cameron–Trivedi overdispersion test (r77): is r56's
    // Poisson variance assumption valid? Auxiliary no-intercept regression
    // of (y−μ̂)²−y on μ̂² — α̂ > 0 says negative-binomial, not Poisson.
    // Exact 1..4th moment LONGs per covariate cell, μ̂ from the exported
    // β, α̂/t as running chains over the 4-cell frame. --------------------
    "r77_overdispersion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val counts = li.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("nlines"))
      val units = o.where(col("o_orderpriority").isNotNull &&
          col("o_totalprice").isNotNull)
        .join(counts, col("o_orderkey") === col("ok"))
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "urgent" -> (col("o_orderpriority") === "1-URGENT"),
        "price_hi" -> (col("o_totalprice") >= 150000.0))
      val fit = graft.ml.Logistic.poissonFitCells(units, col("nlines"), feats)
      r77PoissonFit = Some(fit)
      val y = col("nlines").cast("long")
      val cells = units.groupBy(
          (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"),
          (col("o_totalprice") >= 150000.0).cast("int").as("price_hi"))
        .agg(count(lit(1)).as("n"), sum(y).as("sy"),
          sum(y * y).as("syy"), sum(y * y * y).as("sy3"),
          sum(y * y * y * y).as("sy4"))
      val mu = exp(graft.ml.Logistic.margin(fit))
      val nD = col("n").cast("double")
      val syD = col("sy").cast("double"); val syyD = col("syy").cast("double")
      val sy3D = col("sy3").cast("double"); val sy4D = col("sy4").cast("double")
      // Σz, Σz·w, Σw², Σz² per cell (w = μ² constant within the cell)
      val zSum = syyD - lit(2.0) * mu * syD + nD * mu * mu - syD
      val zw = mu * mu * zSum
      val w2 = nD * (mu * mu) * (mu * mu)
      val twoMu1 = lit(2.0) * mu + lit(1.0)
      val z2 = sy4D - lit(2.0) * twoMu1 * sy3D +
        (twoMu1 * twoMu1 + lit(2.0) * mu * mu) * syyD -
        lit(2.0) * mu * mu * twoMu1 * syD + nD * (mu * mu) * (mu * mu)
      val runW = Window.partitionBy()
        .orderBy(col("urgent").asc, col("price_hi").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = cells
        .withColumn("__zw", zw).withColumn("__w2", w2).withColumn("__z2", z2)
        .withColumn("__szw", sum(col("__zw")).over(runW))
        .withColumn("__sw2", sum(col("__w2")).over(runW))
        .withColumn("__sz2", sum(col("__z2")).over(runW))
        .withColumn("__nr", sum(col("n")).over(runW))
      val alpha = col("__szw") / col("__sw2")
      val sse = col("__sz2") - alpha * col("__szw")
      val tStat = alpha /
        (sqrt(sse / (col("__nr").cast("double") - lit(1.0))) / sqrt(col("__sw2")))
      st.select(col("urgent"), col("price_hi"), col("n"), col("sy"),
          round(mu, 6).as("mu_hat"), round(zSum, 4).as("z_sum"),
          round(alpha, 6).as("alpha_run"), round(tStat, 4).as("t_run"))
        .orderBy(col("urgent"), col("price_hi"))
    }),

    // ---- §2.8 CUPED variance-reduced experiment readout (r57): customer
    // units, pre-1995 spend as the covariate, post-1995 spend as the
    // outcome, deterministic md5 arm split; θ/ρ²/adjusted means are fixed
    // trees over six exact DECIMAL power sums (the TTest doctrine). ------
    "r57_cuped" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val dec = col("o_totalprice").cast("decimal(12,2)")
      val units = o.where(col("o_orderdate").isNotNull &&
          col("o_totalprice").isNotNull && col("o_custkey").isNotNull)
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("o_orderdate") < lit("1995-01-01"), dec)
            .otherwise(lit(0).cast("decimal(12,2)"))).as("x"),
          sum(when(col("o_orderdate") >= lit("1995-01-01"), dec)
            .otherwise(lit(0).cast("decimal(12,2)"))).as("y"))
        .select((substring(md5(col("o_custkey").cast("string")), 1, 1) <
            "8").cast("int").as("arm"), col("x"), col("y"))
      graft.stats.Cuped.cupedDF(units, col("arm"), col("x"), col("y"))
    }),

    // ---- §2.9 gradient-boosted stumps (m14): least-squares boosting on
    // the cell frame — per-cell (n, Σy) is the complete sufficient
    // statistic, rounds run driver-side, stumps export as literals and
    // the score chain replays relationally (the r37 doctrine). ----------
    "m14_gbt_stumps" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq[(String, org.apache.spark.sql.Column)](
        "disc_hi" -> (col("l_discount") >= 0.05),
        "qty_hi" -> (col("l_quantity") >= 25),
        "tax_hi" -> (col("l_tax") >= 0.04))
      val fit = graft.ml.GradientBoost.fitCells(li, col("l_extendedprice"),
        feats, rounds = 4, shrinkage = 0.5)
      m14GbtFit = Some(fit)
      li.where(col("l_discount").isNotNull && col("l_quantity").isNotNull &&
          col("l_tax").isNotNull && col("l_extendedprice").isNotNull)
        .groupBy((col("l_discount") >= 0.05).cast("int").as("disc_hi"),
          (col("l_quantity") >= 25).cast("int").as("qty_hi"),
          (col("l_tax") >= 0.04).cast("int").as("tax_hi"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).as("sy"))
        .withColumn("score", graft.ml.GradientBoost.scoreColumn(fit))
        .select(col("disc_hi"), col("qty_hi"), col("tax_hi"), col("n"),
          round(col("sy").cast("double") / col("n").cast("double"), 6)
            .as("mean_y"),
          round(col("score"), 6).as("score"))
        .orderBy(col("disc_hi"), col("qty_hi"), col("tax_hi"))
    }),

    // ---- §2.8 chi-square goodness-of-fit vs uniform (r58): the
    // one-aggregate closed form χ² = k·ΣO²/n − n (exact integer sums, a
    // single fixed tree — no per-category expected-count frame). --------
    "r58_gof_uniform" -> ((s, dir) => {
      val cells = t(s, dir, "orders").where(col("o_orderpriority").isNotNull)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("obs"))
      cells.agg(count(lit(1)).as("k"), sum(col("obs")).as("n"),
          sum(col("obs").cast("decimal(18,0)") *
            col("obs").cast("decimal(18,0)")).as("soo"))
        .select(col("k"), col("n"),
          round(col("k").cast("double") * col("soo").cast("double") /
            col("n").cast("double") - col("n").cast("double"), 6).as("chi2"),
          (col("k") - lit(1L)).as("df"))
    }),

    // ---- quality: per-group trimmed + winsorized means (q21) — robust
    // aggregation off the q10 cell machinery: rank decisions and all
    // three sums are pure LONG arithmetic, FP only in the final display
    // divisions. ---------------------------------------------------------
    "q21_trimmed_mean" -> ((s, dir) =>
      graft.ops.Quality.trimmedMeans(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag", trimPct = 10)),

    // ---- similarity: item–item basket co-occurrence cosine (n19) — the
    // set-based recommender primitive; basket-key self-join with an
    // oversized-basket guard, integer counts, one final divide. ----------
    "n19_cooccurrence" -> ((s, dir) =>
      // broadcastTotals: the item vocabulary is partkeys — catalog-sized
      // (|part| = 200k × SF rows), so it grows with scale and is NOT
      // bounded; the totals side broadcasts into both back-joins only
      // while |part| fits the broadcast budget (no runtime guard yet)
      graft.sim.Cooccurrence.itemPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2L, maxBasketSize = 100,
        broadcastTotals = true)),

    // ---- events: interval-concurrency sweep (e24) — how many order
    // lines are awaiting shipment each day (order date → ship date);
    // +1/−1 events, one groupBy, the sharded prefix (integer-exact). -----
    "e24_concurrency" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val iv = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderdate").as("s0"), col("l_shipdate").as("e0"))
      graft.ops.Sweep.concurrencyDaily(iv, col("s0"), col("e0"))
    }),

    // ---- events: daily cross-correlation (e25) — does order volume
    // predict shipped quantity l days later? Two exact day frames, lag
    // join, one fixed correlation tree per lag. --------------------------
    "e25_crosscorr" -> ((s, dir) =>
      graft.stats.Regression.crossCorrDailyDF(
        t(s, dir, "orders"), col("o_orderdate"), lit(1),
        t(s, dir, "lineitem"), col("l_shipdate"), col("l_quantity"),
        maxLag = 6)),

    // ---- text: Dunning G² keyness census (t22) — tokens over/under-
    // represented in the English slice vs the rest; per-row fixed ln
    // tree, census ordered by token (integer-exact ranking key). ---------
    "t22_keyness" -> ((s, dir) =>
      graft.text.Corpus.keynessCensus(Tables.spread(t(s, dir, "documents")),
        "text", col("lang") === "en", minTotal = 20)),

    // ---- similarity: IVF probe sweep (n17) — recall@5 / MRR per nProbe
    // ∈ {1,2,3} against the n1 brute-force truth; the ANN tuning curve. --
    "n17_probe_sweep" -> ((s, dir) => {
      val emb = Tables.spread(t(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 8)
      val truth = Embeddings.bruteForceTopKAgg(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      val assigned = Embeddings.assignFixedCentroids(emb, "embedding",
        ivfFixedCentroids)
      Seq(1, 2, 3).map { np =>
        Embeddings.annEvalDF(truth,
            Embeddings.ivfTopK(assigned, "vec_id", "embedding",
              queries, "vec_id", "embedding", ivfFixedCentroids,
              nProbe = np, k = 5),
            k = 5)
          .withColumn("n_probe", lit(np.toLong))
      }.reduce(_ unionByName _)
        .select(col("n_probe"), col("query_id"), col("truth_k"),
          col("hits"), col("recall"), col("rr"))
        .orderBy(col("n_probe"), col("query_id"))
    }),

    // ---- text: Gopher document-quality rules census (t23) — the hard
    // doc-level pretraining gate (Rae et al. 2021 Appendix A); every rule
    // an integer cross-multiplied comparison, one row-local codegen pass.
    // minWords=30 binds on this corpus (docs run ~25–80 words) and the
    // stop list is instantiated from the corpus vocabulary (the paper's
    // list assumes English prose; presence-of-2-distinct is the rule). ---
    "t23_gopher_rules" -> ((s, dir) =>
      graft.text.TextOps.gopherRules(
          Tables.spread(t(s, dir, "documents")), "text", minWords = 30L,
          stops = Seq("the", "a", "table", "value", "row", "data"))
        .select(col("doc_id"), col("n_words"), col("mean_wl"),
          col("stop_hits"), col("r_words"), col("r_meanlen"),
          col("r_symbol"), col("r_bullet"), col("r_alpha"), col("r_stops"),
          col("keep"))
        .orderBy(col("doc_id"))),

    // ---- text: CCNet perplexity bucketing (t24) — bigram LM trained on
    // the English slice only (the train/apply split t10 lacks: unseen
    // bigrams score the smoothed floor), docs bucketed head/middle/tail by
    // FIXED mean-log-prob thresholds; per-doc ordered ln chain so the
    // bucket comparisons see bit-identical doubles in both engines. ------
    "t24_perplexity_buckets" -> ((s, dir) =>
      graft.text.LanguageModel.perplexityBuckets(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          trainFilter = col("lang") === "en", k = 0.5,
          headLp = -4.11, midLp = -4.19)
        .orderBy(col("doc_id")))
  )

  /** The tree the m4 query fitted+exported in this process, if it ran. The
    * m4 oracle is BUILT from this spec (TreeScorer.toSql), so the DuckDB
    * replay scores with exactly the tree the engine fitted — within one
    * Verify run the comparison is airtight regardless of fit determinism
    * across environments. When m4 hasn't run (a query subset), the entry is
    * simply omitted and m4 degrades to the rows-only check. */
  /** m1's fitted tree, exported twice in this process: (class-prediction
    * spec, raw-class-1-count spec). Same runtime-oracle contract as
    * [[m4FittedSpec]]; the raw-count spec is what lets DuckDB reproduce
    * metricsOf's AUC ranking exactly (it ranks by rawPrediction(1)). */
  @volatile private var m1FittedSpecs:
      Option[(graft.ml.TreeScorer.TreeSpec, graft.ml.TreeScorer.TreeSpec)] = None

  private def m1OracleEntry: Map[String, String] = m1FittedSpecs.map {
    case (specCls, specRaw) =>
      "m1_decision_tree" ->
        s"""WITH t AS (
           SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(specCls)} AS score_cls,
                         ${graft.ml.TreeScorer.toSql(specRaw)} AS score_raw FROM t),
         acc AS (
           SELECT round(CAST(sum(CASE WHEN score_cls = label THEN 1 ELSE 0 END)
                             AS DOUBLE) / count(*), 6) AS accuracy
           FROM s),
         pts AS (
           SELECT score_raw AS th,
                  count(*) FILTER (WHERE label = 1.0) AS np,
                  count(*) FILTER (WHERE label != 1.0) AS nn
           FROM s GROUP BY 1),
         curve AS (
           SELECT th, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
           FROM pts WINDOW w AS (ORDER BY th DESC ROWS UNBOUNDED PRECEDING)),
         curve2 AS (
           SELECT *, coalesce(lag(tp) OVER (ORDER BY th DESC), 0) AS tp_prev,
                     coalesce(lag(fp) OVER (ORDER BY th DESC), 0) AS fp_prev
           FROM curve),
         roc AS (
           SELECT round(CAST(sum((fp - fp_prev) * (tp + tp_prev)) AS DOUBLE)
                        / (2.0 * max(tp) * max(fp)), 6) AS auc
           FROM curve2)
         SELECT ${graft.ml.TreeScorer.depth(specCls)} AS tree_depth,
                acc.accuracy, roc.auc,
                TRUE AS imp_nonneg, TRUE AS imp_normalized,
                TRUE AS imp_split_features_only
         FROM acc CROSS JOIN roc"""
  }.toMap

  /** m2's tune outcome, exported in this process: (scaler originalMin,
    * originalMax, class-prediction spec, raw-count spec, winning params).
    * The oracle re-scales the raw columns with the EXPORTED min/range —
    * (x − min)/range is bit-identical to MinMaxScalerModel's
    * raw·1.0 + 0.0 on the default [0,1] output — then replays both tree
    * specs, so DuckDB recomputes the tune's reported accuracy and AUC. */
  @volatile private var m2TunedArtifacts: Option[(Array[Double], Array[Double],
      graft.ml.TreeScorer.TreeSpec, graft.ml.TreeScorer.TreeSpec,
      Map[String, Any])] = None

  /** m24's runtime export: the TPE trace in schedule order —
    * (trial, maxDepth, minInstances, minInfoGain, validation AUC). */
  @volatile private var m24TuneTrace:
      Option[Seq[(Long, Long, Long, Double, Double)]] = None

  /** m24's oracle: the trace as a VALUES literal, with the argmax (ties →
    * lexicographically smallest params), best-so-far chain, and per-phase
    * winner-depth concentration all recomputed relationally by DuckDB. */
  private def m24OracleEntry: Map[String, String] = m24TuneTrace.map { rows =>
    def d(x: Double) = java.lang.Double.toString(x)
    val values = rows.map { case (i, dd, m, g, a) =>
      s"($i, $dd, $m, ${d(g)}, ${d(a)})" }.mkString(",\n           ")
    "m24_tune_trace" ->
      s"""WITH t(trial, max_depth, min_instances, min_info_gain, val_auc) AS (
           VALUES $values),
         win AS (
           SELECT max_depth AS wd, min_instances AS wm, min_info_gain AS wg
           FROM t
           ORDER BY val_auc DESC, max_depth, min_instances, min_info_gain
           LIMIT 1)
         SELECT CAST(trial AS BIGINT) AS trial,
                CAST(max_depth AS BIGINT) AS max_depth,
                CAST(min_instances AS BIGINT) AS min_instances,
                min_info_gain, val_auc,
                (max_depth = wd AND min_instances = wm
                  AND min_info_gain = wg) AS is_best,
                max(val_auc) OVER (ORDER BY trial) AS best_so_far,
                trial < 5 AS is_warmup,
                CAST(sum(CASE WHEN max_depth = wd THEN 1 ELSE 0 END)
                  OVER (PARTITION BY trial < 5) AS BIGINT) AS n_winner_depth_phase,
                CAST(count(*) OVER (PARTITION BY trial < 5) AS BIGINT) AS n_phase
         FROM t CROSS JOIN win
         ORDER BY trial"""
  }.toMap

  private def m2OracleEntry: Map[String, String] = m2TunedArtifacts.map {
    case (mins, maxs, specCls, specRaw, params) =>
      def d(x: Double) = java.lang.Double.toString(x)
      def scaleSql(j: Int, x: String): String = {
        val range = maxs(j) - mins(j)
        if (range == 0.0) "0.5" else s"(($x - ${d(mins(j))}) / ${d(range)})"
      }
      "m2_bayes_tune" ->
        s"""WITH t AS (
           SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE o_orderkey % 10 = 0
             AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         sx AS (
           SELECT label,
                  ${scaleSql(0, "o_totalprice")} AS sx_price,
                  ${scaleSql(1, "order_year")} AS sx_year,
                  ${scaleSql(2, "is_urgent")} AS sx_urgent
           FROM t),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(specCls)} AS score_cls,
                         ${graft.ml.TreeScorer.toSql(specRaw)} AS score_raw FROM sx),
         acc AS (
           SELECT round(CAST(sum(CASE WHEN score_cls = label THEN 1 ELSE 0 END)
                             AS DOUBLE) / count(*), 6) AS accuracy
           FROM s),
         pts AS (
           SELECT score_raw AS th,
                  count(*) FILTER (WHERE label = 1.0) AS np,
                  count(*) FILTER (WHERE label != 1.0) AS nn
           FROM s GROUP BY 1),
         curve AS (
           SELECT th, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
           FROM pts WINDOW w AS (ORDER BY th DESC ROWS UNBOUNDED PRECEDING)),
         curve2 AS (
           SELECT *, coalesce(lag(tp) OVER (ORDER BY th DESC), 0) AS tp_prev,
                     coalesce(lag(fp) OVER (ORDER BY th DESC), 0) AS fp_prev
           FROM curve),
         roc AS (
           SELECT round(CAST(sum((fp - fp_prev) * (tp + tp_prev)) AS DOUBLE)
                        / (2.0 * max(tp) * max(fp)), 6) AS auc
           FROM curve2)
         SELECT CAST(${params("maxDepth")} AS BIGINT) AS best_max_depth,
                CAST(${params("minInstancesPerNode")} AS BIGINT) AS best_min_instances,
                CAST(${params("trials")} AS BIGINT) AS trials,
                acc.accuracy, roc.auc
         FROM acc CROSS JOIN roc"""
  }.toMap

  @volatile private var m4FittedSpec: Option[graft.ml.TreeScorer.TreeSpec] = None

  /** m11's fitted tree — same runtime-oracle contract as [[m4FittedSpec]]. */
  @volatile private var m11FittedSpec: Option[graft.ml.TreeScorer.TreeSpec] = None

  private def m11OracleEntry: Map[String, String] = m11FittedSpec.map { spec =>
    "m11_calibration" ->
      s"""WITH t AS (
           SELECT CASE WHEN ((o_totalprice > 250000) != (o_orderpriority = '1-URGENT'))
                         != (substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) < '4')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(spec)} AS score FROM t),
         g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
               FROM s GROUP BY score)
         SELECT score, n, n_pos,
                round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
                round(abs(score - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS gap
         FROM g ORDER BY score"""
  }.toMap

  @volatile private var m6LinearSpec: Option[graft.ml.LinearScorer.LinearSpec] = None

  private def m6OracleEntry: Map[String, String] = m6LinearSpec.map { spec =>
    "m6_linear_score" ->
      s"""WITH t AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.LinearScorer.marginSql(spec)} AS m FROM t)
         SELECT count(*) AS n,
                CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
                round(CAST(sum(CASE WHEN (CASE WHEN m > 0 THEN 1.0 ELSE 0.0 END) = label
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy,
                ${spec.coefs.size} AS n_features
         FROM s"""
  }.toMap

  private def m4OracleEntry: Map[String, String] = m4FittedSpec.map { spec =>
    "m4_fit_score" ->
      s"""WITH t AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(spec)} AS score FROM t)
         SELECT count(*) AS n,
                CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
                round(CAST(sum(CASE WHEN (CASE WHEN score >= 0.5 THEN 1.0 ELSE 0.0 END) = label
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy,
                ${graft.ml.TreeScorer.depth(spec)} AS tree_depth
         FROM s"""
  }.toMap

  /** m21's per-fraction fitted trees — the m4 runtime-oracle contract,
    * once per learning-curve slice. */
  @volatile private var m21CurveSpecs:
    Option[Seq[(Int, graft.ml.TreeScorer.TreeSpec)]] = None

  private def m21OracleEntry: Map[String, String] = m21CurveSpecs.map { specs =>
    val rows = specs.map { case (pct, spec) =>
      val gate = pct match {
        case 25 => "AND substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) < '4'"
        case 50 => "AND substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) < '8'"
        case _ => ""
      }
      s"""SELECT $pct AS pct,
                (SELECT CAST(count(*) AS BIGINT) FROM base
                 WHERE NOT (substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5')
                   $gate) AS n_train,
                CAST(count(*) AS BIGINT) AS n_test,
                round(CAST(sum(CASE WHEN (CASE WHEN ${graft.ml.TreeScorer.toSql(spec)} >= 0.5
                                          THEN 1.0 ELSE 0.0 END) = label
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  AS accuracy,
                ${graft.ml.TreeScorer.depth(spec)} AS tree_depth
         FROM base
         WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'"""
    }.mkString("\n           UNION ALL\n           ")
    "m21_learning_curve" ->
      s"""WITH base AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                    AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year,
                  o_orderkey
           FROM orders)
         SELECT * FROM (
           $rows)
         ORDER BY pct"""
  }.toMap

  /** r76's three nested OLS βs (A, A+B, full) — the m13 exported-β
    * contract; the replay rebuilds the 14-covariate moment row and
    * evaluates the identical nested-SSE trees. */
  @volatile private var r76AnovaFits:
    Option[(Array[Double], Array[Double], Array[Double])] = None

  private def r76OracleEntry: Map[String, String] = r76AnovaFits.map {
    case (ba, bab, bf) =>
      val R = graft.stats.Regression
      val dums = Seq("1", "2", "3", "4").map(l =>
        s"CASE WHEN substr(o_orderpriority, 1, 1) = '$l' THEN 1 ELSE 0 END") ++
        Seq("F", "O").map(l =>
          s"CASE WHEN o_orderstatus = '$l' THEN 1 ELSE 0 END")
      val xDefs = dums ++
        (for { i <- 0 until 4; j <- 0 until 2 }
          yield s"(${dums(i)}) * (${dums(4 + j)})")
      val xCols = xDefs.zipWithIndex
        .map { case (d, i) => s"$d AS x$i" }.mkString(",\n                  ")
      val moCols = (Seq(
        "CAST(count(*) AS BIGINT) AS n",
        "sum(y) AS s_y", "sum(y * y) AS s_yy") ++
        (0 until 14).map(i => s"CAST(sum(x$i) AS BIGINT) AS s_$i") ++
        (for { i <- 0 until 14; j <- i until 14 }
          yield s"CAST(sum(x$i * x$j) AS BIGINT) AS s_${i}_$j") ++
        (0 until 14).map(i => s"sum(x$i * y) AS s_${i}_y"))
        .mkString(",\n                  ")
      val arms = Seq(
        ("A", 4, "sse0 - sse_a"), ("B", 2, "sse_a - sse_ab"),
        ("AxB", 8, "sse_ab - sse_f")).map { case (t, d, ss) =>
        s"SELECT '$t' AS term, CAST($d AS BIGINT) AS df1, $ss AS ss FROM st"
      }.mkString("\n           UNION ALL\n           ")
      "r76_two_way_anova" ->
        s"""WITH src AS (
           SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS y,
                  $xCols
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
             AND o_orderstatus IS NOT NULL),
         mo AS (
           SELECT $moCols
           FROM src),
         st AS (
           SELECT n,
                  CAST(s_yy AS DOUBLE)
                    - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)
                      / CAST(n AS DOUBLE) AS sse0,
                  ${R.nestedSseSql(ba, 0 until 4)} AS sse_a,
                  ${R.nestedSseSql(bab, 0 until 6)} AS sse_ab,
                  ${R.nestedSseSql(bf, 0 until 14)} AS sse_f
           FROM mo),
         arms AS (
           $arms)
         SELECT term, df1, n, ss,
                round((ss / CAST(df1 AS DOUBLE))
                      / (sse_f / (CAST(n AS DOUBLE) - 15.0)), 4) AS f
         FROM arms, st ORDER BY term"""
  }.toMap

  /** m23's exported pair (tree + interaction logistic) — both replay as
    * literals over one base CTE; the ensemble is their plain average. */
  @volatile private var m23Ensemble: Option[(graft.ml.TreeScorer.TreeSpec,
    graft.ml.Logistic.LogisticFit)] = None

  private def m23OracleEntry: Map[String, String] = m23Ensemble.map {
    case (tree, logit) =>
      def accSql(c: String) =
        s"""round(CAST(sum(CASE WHEN (CASE WHEN $c >= 0.5 THEN 1.0 ELSE 0.0 END)
                                    = label THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*), 6)"""
      "m23_ensemble" ->
        s"""WITH base AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                    AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year,
                  CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS price_hi,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                    AS urgent_i,
                  CASE WHEN o_totalprice > 250000
                            AND o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS pxu
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         sc AS (
           SELECT label,
                  ${graft.ml.TreeScorer.toSql(tree)} AS sc_tree,
                  1.0 / (1.0 + exp(-(${graft.ml.Logistic.marginSql(logit)})))
                    AS sc_logit
           FROM base),
         s2 AS (SELECT *, (sc_tree + sc_logit) / 2.0 AS sc_ens FROM sc),
         ag AS (
           SELECT CAST(count(*) AS BIGINT) AS n_test,
                  ${accSql("sc_tree")} AS a_tree,
                  ${accSql("sc_logit")} AS a_logit,
                  ${accSql("sc_ens")} AS a_ens
           FROM s2)
         SELECT model, n_test, accuracy FROM (
           SELECT 'ensemble' AS model, n_test, a_ens AS accuracy FROM ag
           UNION ALL SELECT 'logit', n_test, a_logit FROM ag
           UNION ALL SELECT 'tree', n_test, a_tree FROM ag)
         ORDER BY model"""
  }.toMap

  /** m22's fitted tree — the m4 contract; the replay re-runs the same
    * md5-bucket cyclic shifts and scores with the tree as literals. */
  @volatile private var m22PermSpec: Option[graft.ml.TreeScorer.TreeSpec] = None

  private def m22OracleEntry: Map[String, String] = m22PermSpec.map { spec =>
    val feats = Seq("o_totalprice", "is_urgent", "order_year")
    val accSql = s"""round(CAST(sum(CASE WHEN (CASE WHEN ${graft.ml.TreeScorer.toSql(spec)} >= 0.5
                                    THEN 1.0 ELSE 0.0 END) = label
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)"""
    val arms = feats.map { f =>
      val cols = feats.map { g =>
        if (g == f)
          s"""coalesce(lead($g, 1) OVER (PARTITION BY bkt ORDER BY h, o_orderkey),
                first_value($g) OVER (PARTITION BY bkt ORDER BY h, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
              AS $g"""
        else g
      }.mkString(",\n                  ")
      s"""SELECT '$f' AS feature, accuracy_perm FROM (
            SELECT $accSql AS accuracy_perm FROM (
              SELECT label,
                  $cols
              FROM base))"""
    }.mkString("\n           UNION ALL\n           ")
    "m22_perm_importance" ->
      s"""WITH base AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                    AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year,
                  o_orderkey,
                  md5(CAST(o_orderkey AS VARCHAR)) AS h,
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) AS bkt
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         b0 AS (
           SELECT CAST(count(*) AS BIGINT) AS n_test,
                  $accSql AS accuracy_base
           FROM base),
         arms AS (
           $arms)
         SELECT feature, n_test, accuracy_base, accuracy_perm,
                round(accuracy_base - accuracy_perm, 6) AS importance
         FROM arms, b0 ORDER BY feature"""
  }.toMap

  /** The r37 IRLS fit, exported in this process — same runtime-oracle
    * contract as [[m4FittedSpec]]: β as Double.toString literals, the
    * identical explicit linear chain on both sides. */
  @volatile private var r37LogisticFit: Option[graft.ml.Logistic.LogisticFit] = None

  /** r48's IRLS fit — the r37 runtime-oracle contract. */
  @volatile private var r48LogisticFit: Option[graft.ml.Logistic.LogisticFit] = None

  private def r48OracleEntry: Map[String, String] = r48LogisticFit.map { fit =>
    "r48_hosmer_lemeshow" ->
      s"""WITH src AS (
           SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc_hi,
                  CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS qty_hi,
                  CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  (l_returnflag = 'R') AS yy
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL),
         cells AS (
           SELECT disc_hi, qty_hi, tax_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN yy THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM src GROUP BY 1, 2, 3),
         t AS (SELECT *, ${graft.ml.Logistic.marginSql(fit)} AS eta
               FROM cells),
         c AS (SELECT disc_hi, qty_hi, tax_hi, n, y,
                 CAST(n AS DOUBLE) * (1.0 / (1.0 + exp(-eta))) AS e,
                 (CAST(y AS DOUBLE)
                   - CAST(n AS DOUBLE) * (1.0 / (1.0 + exp(-eta))))
                 * (CAST(y AS DOUBLE)
                   - CAST(n AS DOUBLE) * (1.0 / (1.0 + exp(-eta))))
                 / ((CAST(n AS DOUBLE) * (1.0 / (1.0 + exp(-eta))))
                    * (1.0 - (1.0 / (1.0 + exp(-eta))))) AS contrib
               FROM t)
         SELECT disc_hi, qty_hi, tax_hi, n, y, round(e, 4) AS expected,
                round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (ORDER BY disc_hi, qty_hi, tax_hi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS hl_running
         FROM c ORDER BY disc_hi, qty_hi, tax_hi"""
  }.toMap

  /** m19's fitted PCA (exact moment sums + top-4 unit loadings) — the
    * replay rebuilds the quantized moment row, evaluates the identical
    * quadratic-form/trace/projection chains with the loadings as
    * literals, and folds the exact floor-long projection sums. */
  @volatile private var m19PcaFit: Option[graft.ml.Pca.PcaFit] = None

  private def m19OracleEntry: Map[String, String] = m19PcaFit.map { fit =>
    val dim = fit.dim; val k = fit.w.length
    val lamRows = (0 until k).map(c =>
      s"""SELECT $c AS comp, round(qf$c / 1000000000000.0, 6) AS lambda,
                round(qf$c / tr, 6) AS evr FROM mo2""").mkString("\n           UNION ALL\n           ")
    val stRows = (0 until k).map(c =>
      s"SELECT label, $c AS comp, z$c AS zq FROM pr").mkString("\n           UNION ALL\n           ")
    "m19_pca" ->
      s"""WITH q AS (
           SELECT label,
                  ${graft.ml.Pca.quantColsSql("embedding", dim)}
           FROM embeddings),
         mo AS (
           SELECT ${graft.ml.Pca.momentAggSql(dim)}
           FROM q),
         mo2 AS (
           SELECT ${(0 until k).map(c => s"${graft.ml.Pca.quadformSql(fit, c)} AS qf$c").mkString(",\n                  ")},
                  ${graft.ml.Pca.traceSql(dim, fit.n)} AS tr
           FROM mo),
         lam AS (
           $lamRows),
         pr AS (
           SELECT label,
                  ${(0 until k).map(c => s"CAST(floor(${graft.ml.Pca.projSql(fit, c)} / 1000.0) AS BIGINT) AS z$c").mkString(",\n                  ")}
           FROM q),
         st AS (
           $stRows),
         g AS (
           SELECT comp, label, CAST(count(*) AS BIGINT) AS n_vecs,
                  CAST(sum(zq) AS BIGINT) AS szq
           FROM st GROUP BY 1, 2)
         SELECT g.comp, g.label, g.n_vecs, g.szq, lam.lambda, lam.evr
         FROM g JOIN lam ON g.comp = lam.comp
         ORDER BY g.comp, g.label"""
  }.toMap

  /** r72's propensity-score logistic β — exported-artifact oracle: the
    * replay rebuilds the covariate cell frame, scores e(x) with β as
    * literals, and folds the identical IPW/naive running chains. */
  @volatile private var r72PsFit: Option[graft.ml.Logistic.LogisticFit] = None

  private def r72OracleEntry: Map[String, String] = r72PsFit.map { fit =>
    "r72_ipw_ate" ->
      s"""WITH src AS (
           SELECT CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  CASE WHEN month(CAST(l_shipdate AS DATE)) >= 7
                       THEN 1 ELSE 0 END AS month_hi,
                  (l_discount >= 0.05) AS tr,
                  CAST(l_quantity AS BIGINT) AS yq
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
             AND l_shipdate IS NOT NULL AND l_quantity IS NOT NULL),
         cells AS (
           SELECT tax_hi, month_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                  CAST(sum(CASE WHEN tr THEN yq ELSE 0 END) AS BIGINT) AS sy_t,
                  CAST(sum(CASE WHEN NOT tr THEN yq ELSE 0 END) AS BIGINT) AS sy_c
           FROM src GROUP BY 1, 2),
         sc AS (SELECT *, 1.0 / (1.0 + exp(-(${graft.ml.Logistic.marginSql(fit)})))
                  AS e FROM cells),
         ch AS (
           SELECT tax_hi, month_hi, n, nt, sy_t, sy_c, e,
                  sum(CAST(nt AS DOUBLE) / e) OVER w AS swt,
                  sum(CAST(sy_t AS DOUBLE) / e) OVER w AS swy,
                  sum(CAST(n - nt AS DOUBLE) / (1.0 - e)) OVER w AS sct,
                  sum(CAST(sy_c AS DOUBLE) / (1.0 - e)) OVER w AS scy,
                  CAST(sum(nt) OVER w AS BIGINT) AS ntr,
                  CAST(sum(n) OVER w AS BIGINT) AS nr,
                  CAST(sum(sy_t) OVER w AS BIGINT) AS sytr,
                  CAST(sum(sy_c) OVER w AS BIGINT) AS sycr
           FROM sc
           WINDOW w AS (ORDER BY tax_hi, month_hi
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT tax_hi, month_hi, n, nt, sy_t, sy_c,
                round(e, 6) AS e_hat,
                round(swy / swt - scy / sct, 6) AS ate_run,
                round(CAST(sytr AS DOUBLE) / CAST(ntr AS DOUBLE)
                      - CAST(sycr AS DOUBLE) / CAST(nr - ntr AS DOUBLE), 6)
                  AS naive_run
         FROM ch ORDER BY tax_hi, month_hi"""
  }.toMap

  /** m13's fitted OLS β — the exported-artifact oracle contract; the
    * replay recomputes the exact moments and evaluates the identical
    * staged quadratic-form trees with β as string-cast literals. */
  @volatile private var m13OlsFit: Option[graft.stats.Regression.OlsFit] = None

  /** m15's ridge β — same moments, same summary trees, penalized solve. */
  @volatile private var m15RidgeFit: Option[graft.stats.Regression.OlsFit] = None

  /** r59's fitted Breusch–Pagan pair (main β, auxiliary γ) — the replay
    * rebuilds the integer cell frame and evaluates the identical fixed
    * trees and running chains with both coefficient sets as literals. */
  @volatile private var r59BpFit: Option[graft.stats.Regression.BpFit] = None

  private def r59OracleEntry: Map[String, String] = r59BpFit.map { fit =>
    def l(x: Double) = s"CAST('$x' AS DOUBLE)"
    val b = fit.beta.map(l); val g = fit.gamma.map(l)
    "r59_breusch_pagan" ->
      s"""WITH c AS (
           SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc_hi,
                  CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
                  CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
                  CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syyy,
                  CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syyyy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_tax IS NOT NULL
           GROUP BY 1, 2),
         s1 AS (
           SELECT disc_hi, tax_hi, n, sy, syy, syyy, syyyy,
                  ((${b(0)} + ${b(1)} * disc_hi) + ${b(2)} * tax_hi) AS yhat,
                  ((${g(0)} + ${g(1)} * disc_hi) + ${g(2)} * tax_hi) AS g
           FROM c),
         s2 AS (SELECT *, yhat * yhat AS yh2 FROM s1),
         s3 AS (SELECT *, yh2 * yhat AS yh3 FROM s2),
         s4 AS (SELECT *, yh3 * yhat AS yh4 FROM s3),
         s5 AS (SELECT disc_hi, tax_hi, n, yhat, g,
                  CAST(syy AS DOUBLE) - 2.0 * yhat * CAST(sy AS DOUBLE)
                    + CAST(n AS DOUBLE) * yh2 AS u2,
                  CAST(syyyy AS DOUBLE) - 4.0 * yhat * CAST(syyy AS DOUBLE)
                    + 6.0 * yh2 * CAST(syy AS DOUBLE)
                    - 4.0 * yh3 * CAST(sy AS DOUBLE)
                    + CAST(n AS DOUBLE) * yh4 AS u4
                FROM s4),
         s6 AS (SELECT *,
                  u4 - 2.0 * g * u2 + CAST(n AS DOUBLE) * g * g AS sse_c
                FROM s5),
         ch AS (SELECT disc_hi, tax_hi, n, yhat, u2, g, sse_c,
                  CAST(sum(n) OVER w AS BIGINT) AS cum_n,
                  sum(u2) OVER w AS cum_u2,
                  sum(u4) OVER w AS cum_u4,
                  sum(sse_c) OVER w AS cum_sse
                FROM s6 WINDOW w AS (ORDER BY disc_hi, tax_hi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT disc_hi, tax_hi, n, yhat, u2, g, sse_c,
                CAST(cum_n AS DOUBLE) * (1.0 - cum_sse
                  / (cum_u4 - cum_u2 * cum_u2 / CAST(cum_n AS DOUBLE)))
                  AS bp_running
         FROM ch ORDER BY disc_hi, tax_hi"""
  }.toMap

  private def m13OracleEntry: Map[String, String] =
    m13OlsFit.map("m13_ols_multi" -> olsLineitemSummarySql(_)).toMap

  private def m15OracleEntry: Map[String, String] =
    m15RidgeFit.map("m15_ridge" -> olsLineitemSummarySql(_)).toMap

  /** The m13/m15 shared replay: exact lineitem moments + the staged
    * quadratic-form summary trees, β interpolated as string-cast literals
    * (olsSummaryDF is exact at ANY β, so OLS and ridge share it). */
  private def olsLineitemSummarySql(fit: graft.stats.Regression.OlsFit): String = {
    def b(i: Int) = s"CAST('${fit.beta(i)}' AS DOUBLE)"
      s"""WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s0,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS s2,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s00,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s01,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS s02,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s11,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                    * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS s12,
                  CAST(sum(CAST(l_tax AS DECIMAL(12,2))
                    * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS s22,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s0y,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s1y,
                  CAST(sum(CAST(l_tax AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s2y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL),
         st AS (
           SELECT n, nd, sy AS syD, syy AS syyD,
                  (((${b(0)} * sy + ${b(1)} * s0y) + ${b(2)} * s1y)
                    + ${b(3)} * s2y) AS xty,
                  (((${b(0)} * (((${b(0)} * nd + ${b(1)} * s0)
                        + ${b(2)} * s1) + ${b(3)} * s2)
                     + ${b(1)} * (((${b(0)} * s0 + ${b(1)} * s00)
                        + ${b(2)} * s01) + ${b(3)} * s02))
                     + ${b(2)} * (((${b(0)} * s1 + ${b(1)} * s01)
                        + ${b(2)} * s11) + ${b(3)} * s12))
                     + ${b(3)} * (((${b(0)} * s2 + ${b(1)} * s02)
                        + ${b(2)} * s12) + ${b(3)} * s22)) AS qf
           FROM a)
         SELECT n, ${b(0)} AS b0, ${b(1)} AS b1, ${b(2)} AS b2,
                ${b(3)} AS b3,
                (syyD - 2.0 * xty + qf) AS sse,
                round(1.0 - (syyD - 2.0 * xty + qf)
                  / (syyD - syD * syD / nd), 6) AS r2,
                round(sqrt((syyD - 2.0 * xty + qf) / (nd - 4.0)), 6)
                  AS se_resid
         FROM st"""
  }

  /** r50's fitted Cox model — the r37/r48 runtime-oracle contract: the
    * replay scores the event-time frame with exactly the β this process
    * fitted (β and e^β interpolated as Double.toString literals). */
  @volatile private var r50CoxFit: Option[graft.stats.Survival.CoxFit] = None

  /** d20's EM-fitted FS parameters — the r37 exported-artifact oracle
    * contract: p/m/u interpolate as Double.toString literals, the replay
    * rebuilds the identical candidate chain, pattern frame, and literal
    * weight/posterior trees (no in-engine transcendentals). */
  @volatile private var d20FsFit: Option[graft.dedup.Linkage.FsFit] = None

  private def d20OracleEntry: Map[String, String] = d20FsFit.map { fit =>
    val fields = Seq("g_sig", "g_lang", "g_src", "g_len", "g_pfx")
    val weight = fields.zipWithIndex.map { case (f, i) =>
      s"(CASE WHEN $f = 1 THEN ${math.log(fit.m(i) / fit.u(i))} " +
        s"ELSE ${math.log((1.0 - fit.m(i)) / (1.0 - fit.u(i)))} END)"
    }.mkString(" + ")
    val pm = fields.zipWithIndex.foldLeft(fit.p.toString) { case (acc, (f, i)) =>
      s"($acc * CASE WHEN $f = 1 THEN ${fit.m(i)} ELSE ${1.0 - fit.m(i)} END)"
    }
    val pu = fields.zipWithIndex.foldLeft((1.0 - fit.p).toString) { case (acc, (f, i)) =>
      s"($acc * CASE WHEN $f = 1 THEN ${fit.u(i)} ELSE ${1.0 - fit.u(i)} END)"
    }
    "d20_record_linkage" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         cand AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 1),
         pr AS (SELECT c.agree,
                  da.lang AS lang_a, db.lang AS lang_b,
                  da.source AS src_a, db.source AS src_b,
                  da.n_chars AS nc_a, db.n_chars AS nc_b,
                  substr(da.text, 1, 16) AS pfx_a,
                  substr(db.text, 1, 16) AS pfx_b
                FROM cand c
                JOIN documents da ON c.id_a = da.doc_id
                JOIN documents db ON c.id_b = db.doc_id),
         g AS (SELECT
                 CAST(CASE WHEN agree >= 4 THEN 1 ELSE 0 END AS BIGINT) AS g_sig,
                 CAST(CASE WHEN lang_a = lang_b THEN 1 ELSE 0 END AS BIGINT) AS g_lang,
                 CAST(CASE WHEN src_a = src_b THEN 1 ELSE 0 END AS BIGINT) AS g_src,
                 CAST(CASE WHEN abs(nc_a - nc_b) * 10 <= greatest(nc_a, nc_b)
                      THEN 1 ELSE 0 END AS BIGINT) AS g_len,
                 CAST(CASE WHEN pfx_a = pfx_b THEN 1 ELSE 0 END AS BIGINT) AS g_pfx
               FROM pr),
         pat AS (SELECT g_sig, g_lang, g_src, g_len, g_pfx,
                   CAST(count(*) AS BIGINT) AS n
                 FROM g GROUP BY 1, 2, 3, 4, 5)
         SELECT g_sig, g_lang, g_src, g_len, g_pfx, n,
                round($weight, 6) AS weight,
                round($pm / ($pm + $pu), 6) AS posterior,
                CASE WHEN $pm / ($pm + $pu) >= 0.9 THEN 'match'
                     WHEN $pm / ($pm + $pu) >= 0.1 THEN 'possible'
                     ELSE 'non_match' END AS decision
         FROM pat ORDER BY g_sig, g_lang, g_src, g_len, g_pfx"""
  }.toMap

  private def r50OracleEntry: Map[String, String] = r50CoxFit.map { fit =>
    val b = fit.beta.toString; val eb = math.exp(fit.beta).toString
    "r50_cox" ->
      s"""WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e,
                  (substring(o_orderpriority, 1, 1) IN ('1', '2')) AS g
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL AND o_orderpriority IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e AND g THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN e AND NOT g THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                  CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS leave1,
                  CAST(count(*) - sum(CASE WHEN g THEN 1 ELSE 0 END)
                    AS BIGINT) AS leave2
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d1, d2,
                  (SELECT sum(leave1) FROM tc)
                    - coalesce(sum(leave1) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n1,
                  (SELECT sum(leave2) FROM tc)
                    - coalesce(sum(leave2) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n2
           FROM tc),
         ev AS (
           SELECT t, n1, n2, d1, d2,
                  CAST(d1 + d2 AS DOUBLE) AS dd,
                  CAST(n1 AS DOUBLE) * CAST('$eb' AS DOUBLE) AS r1,
                  CAST(n1 AS DOUBLE) * CAST('$eb' AS DOUBLE)
                    + CAST(n2 AS DOUBLE) AS denom
           FROM pc WHERE d1 + d2 > 0),
         c AS (
           SELECT t, n1, n2, d1, d2,
                  CAST(d1 AS DOUBLE) - dd * (r1 / denom) AS u,
                  dd * (r1 / denom) * (CAST(n2 AS DOUBLE) / denom) AS i,
                  CAST('$b' AS DOUBLE) * CAST(d1 AS DOUBLE)
                    - dd * ln(denom) AS ll
           FROM ev)
         SELECT t, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                d1, d2,
                round(sum(u) OVER w, 6) AS u_run,
                round(sum(i) OVER w, 6) AS i_run,
                round(ll, 6) AS ll_t,
                round(sum(ll) OVER w, 3) AS ll_run,
                CAST('$b' AS DOUBLE) AS beta, CAST('$eb' AS DOUBLE) AS hr,
                round(CAST('$b' AS DOUBLE) * sqrt(sum(i) OVER w), 6)
                  AS z_running
         FROM c WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY t"""
  }.toMap

  private def r37OracleEntry: Map[String, String] = r37LogisticFit.map { fit =>
    "r37_logistic" ->
      s"""WITH src AS (
           SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc_hi,
                  CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS qty_hi,
                  CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  (l_returnflag = 'R') AS yy
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL),
         cells AS (
           SELECT disc_hi, qty_hi, tax_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN yy THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM src GROUP BY 1, 2, 3),
         s AS (SELECT *, ${graft.ml.Logistic.marginSql(fit)} AS eta
               FROM cells)
         SELECT disc_hi, qty_hi, tax_hi, n, y,
                round(eta, 6) AS eta,
                round(1.0 / (1.0 + exp(-eta)), 6) AS p_hat
         FROM s ORDER BY disc_hi, qty_hi, tax_hi"""
  }.toMap

  /** r56's fitted Poisson rates — the r37 runtime-oracle contract:
    * β interpolate as Double.toString literals, the replay rebuilds the
    * identical cell frame and η chain. */
  @volatile private var r56PoissonFit: Option[graft.ml.Logistic.LogisticFit] = None

  /** r77's Poisson β (the r56 cohort refit in-query) — exported for the
    * Cameron–Trivedi replay: μ̂, the exact-moment z/w cells, and the
    * α̂/t chains all rebuild relationally with β as literals. */
  @volatile private var r77PoissonFit: Option[graft.ml.Logistic.LogisticFit] = None

  private def r77OracleEntry: Map[String, String] = r77PoissonFit.map { fit =>
    "r77_overdispersion" ->
      s"""WITH counts AS (
           SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS nlines
           FROM lineitem GROUP BY 1),
         units AS (
           SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                    AS urgent,
                  CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END
                    AS price_hi,
                  nlines
           FROM orders JOIN counts ON o_orderkey = ok
           WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         cells AS (
           SELECT urgent, price_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(nlines) AS BIGINT) AS sy,
                  CAST(sum(nlines * nlines) AS BIGINT) AS syy,
                  CAST(sum(nlines * nlines * nlines) AS BIGINT) AS sy3,
                  CAST(sum(nlines * nlines * nlines * nlines) AS BIGINT) AS sy4
           FROM units GROUP BY 1, 2),
         m1 AS (
           SELECT *, exp(${graft.ml.Logistic.marginSql(fit)}) AS mu FROM cells),
         m2 AS (
           SELECT *,
                  CAST(syy AS DOUBLE) - 2.0 * mu * CAST(sy AS DOUBLE)
                    + CAST(n AS DOUBLE) * mu * mu - CAST(sy AS DOUBLE) AS zs
           FROM m1),
         m3 AS (
           SELECT *,
                  mu * mu * zs AS zw,
                  CAST(n AS DOUBLE) * (mu * mu) * (mu * mu) AS w2,
                  CAST(sy4 AS DOUBLE)
                    - 2.0 * (2.0 * mu + 1.0) * CAST(sy3 AS DOUBLE)
                    + ((2.0 * mu + 1.0) * (2.0 * mu + 1.0) + 2.0 * mu * mu)
                      * CAST(syy AS DOUBLE)
                    - 2.0 * mu * mu * (2.0 * mu + 1.0) * CAST(sy AS DOUBLE)
                    + CAST(n AS DOUBLE) * (mu * mu) * (mu * mu) AS z2
           FROM m2),
         ch AS (
           SELECT *,
                  sum(zw) OVER w AS szw, sum(w2) OVER w AS sw2,
                  sum(z2) OVER w AS sz2,
                  CAST(sum(n) OVER w AS BIGINT) AS nr
           FROM m3
           WINDOW w AS (ORDER BY urgent, price_hi
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT urgent, price_hi, n, sy, round(mu, 6) AS mu_hat,
                round(zs, 4) AS z_sum,
                round(szw / sw2, 6) AS alpha_run,
                round((szw / sw2)
                      / (sqrt((sz2 - szw / sw2 * szw)
                              / (CAST(nr AS DOUBLE) - 1.0)) / sqrt(sw2)), 4)
                  AS t_run
         FROM ch ORDER BY urgent, price_hi"""
  }.toMap

  private def r56OracleEntry: Map[String, String] = r56PoissonFit.map { fit =>
    "r56_poisson" ->
      s"""WITH cnt AS (
           SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS nlines
           FROM lineitem GROUP BY 1),
         units AS (
           SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                    AS urgent,
                  CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END
                    AS price_hi,
                  nlines
           FROM orders JOIN cnt ON o_orderkey = ok
           WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         cells AS (
           SELECT urgent, price_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(nlines) AS BIGINT) AS y
           FROM units GROUP BY 1, 2),
         s AS (SELECT *, ${graft.ml.Logistic.marginSql(fit)} AS eta
               FROM cells)
         SELECT urgent, price_hi, n, y, round(eta, 6) AS eta,
                round(exp(eta), 6) AS mu_hat
         FROM s ORDER BY urgent, price_hi"""
  }.toMap

  /** m14's fitted stump ensemble — the r37 runtime-oracle contract:
    * f0 and every (feature, γ0, γ1) interpolate as Double.toString
    * literals, the replay rebuilds the identical cell frame and the
    * identical left-to-right CASE score chain. */
  @volatile private var m14GbtFit: Option[graft.ml.GradientBoost.GbtFit] = None

  private def m14OracleEntry: Map[String, String] = m14GbtFit.map { fit =>
    "m14_gbt_stumps" ->
      s"""WITH src AS (
           SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc_hi,
                  CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS qty_hi,
                  CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS y
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL),
         cells AS (
           SELECT disc_hi, qty_hi, tax_hi, CAST(count(*) AS BIGINT) AS n,
                  sum(y) AS sy
           FROM src GROUP BY 1, 2, 3),
         s AS (SELECT *, ${graft.ml.GradientBoost.scoreSql(fit)} AS score
               FROM cells)
         SELECT disc_hi, qty_hi, tax_hi, n,
                round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
                round(score, 6) AS score
         FROM s ORDER BY disc_hi, qty_hi, tax_hi"""
  }.toMap

  /** The m10 confusion report's fitted tree — same runtime-oracle
    * contract as [[m4FittedSpec]]. */
  @volatile private var m10ConfusionSpec: Option[graft.ml.TreeScorer.TreeSpec] = None

  private def m10OracleEntry: Map[String, String] = m10ConfusionSpec.map { spec =>
    "m10_confusion" ->
      s"""WITH t AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(spec)} AS score FROM t),
         p AS (SELECT label,
                 CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred FROM s),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN label = 1.0 AND pred = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN label = 0.0 AND pred = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN label = 1.0 AND pred = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fn,
                 CAST(sum(CASE WHEN label = 0.0 AND pred = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tn
               FROM p)
         SELECT n, tp, fp, fn, tn,
                round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6)
                  AS accuracy,
                CASE WHEN tp + fp > 0
                     THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
                END AS prec,
                CASE WHEN tp + fn > 0
                     THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                END AS rec,
                CASE WHEN 2 * tp + fp + fn > 0
                     THEN round(2.0 * CAST(tp AS DOUBLE)
                          / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                             + CAST(fn AS DOUBLE)), 6)
                END AS f1
         FROM c"""
  }.toMap

  /** The m7 lift-chart's fitted tree, exported in this process — same
    * runtime-oracle contract as [[m4FittedSpec]]. */
  @volatile private var m7LiftSpec: Option[graft.ml.TreeScorer.TreeSpec] = None

  private def m7OracleEntry: Map[String, String] = m7LiftSpec.map { spec =>
    "m7_lift_chart" ->
      s"""WITH t AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(spec)} AS score FROM t),
         cells AS (
           SELECT score, CAST(count(*) AS BIGINT) AS n_k,
                  CAST(sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS pos_k
           FROM s GROUP BY score),
         run AS (
           SELECT score, n_k, pos_k,
                  sum(n_k) OVER w AS cum_n, sum(pos_k) OVER w AS cum_pos,
                  sum(n_k) OVER () AS tot_n, sum(pos_k) OVER () AS tot_pos
           FROM cells
           WINDOW w AS (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT score, n_k, pos_k,
                CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
                round(CAST(cum_pos * tot_n AS DOUBLE)
                      / CAST(cum_n * tot_pos AS DOUBLE), 6) AS lift,
                round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6) AS gain
         FROM run ORDER BY score DESC"""
  }.toMap

  /** The m5 tune's winning tree + params, exported in this process. Same
    * runtime-oracle contract as [[m4FittedSpec]]: the DuckDB replay scores
    * with exactly the tree the tune selected, so within one Verify run the
    * comparison is airtight regardless of fit determinism. */
  @volatile private var m5TunedSpec:
      Option[(graft.ml.TreeScorer.TreeSpec, Map[String, Any])] = None

  private def m5OracleEntry: Map[String, String] = m5TunedSpec.map { case (spec, params) =>
    "m5_tune_score" ->
      s"""WITH t AS (
           SELECT CASE WHEN (o_totalprice > 250000) != (o_orderpriority = '1-URGENT')
                       THEN 1.0 ELSE 0.0 END AS label,
                  o_totalprice,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS is_urgent,
                  CAST(year(o_orderdate) AS DOUBLE) AS order_year
           FROM orders
           WHERE o_orderkey % 10 = 0
             AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '5'),
         s AS (SELECT *, ${graft.ml.TreeScorer.toSql(spec)} AS score FROM t)
         SELECT count(*) AS n,
                CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
                round(CAST(sum(CASE WHEN (CASE WHEN score >= 0.5 THEN 1.0 ELSE 0.0 END) = label
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy,
                CAST(${params("maxDepth")} AS BIGINT) AS best_max_depth,
                CAST(${params("minInstancesPerNode")} AS BIGINT) AS best_min_instances,
                CAST(${params("trials")} AS BIGINT) AS trials
         FROM s"""
  }.toMap

  /** The k-means centers n3 fitted in this process. Same runtime-oracle
    * contract as [[m4FittedSpec]]/[[m5TunedSpec]]: the replay uses exactly
    * the centers the engine trained (Double.toString round-trips the
    * doubles), so within one Verify run the comparison is airtight
    * regardless of fit determinism across environments. */
  @volatile private var n3FittedCenters: Option[Array[(Int, Seq[Double])]] = None

  /** n16's trained centers — the n3 runtime-oracle contract. */
  @volatile private var n16FittedCenters: Option[Array[(Int, Seq[Double])]] = None

  private def n16OracleEntry: Map[String, String] = n16FittedCenters.map { centers =>
    val values = centers.map { case (cid, v) =>
      s"($cid, [${v.map(_.toString).mkString(", ")}])"
    }.mkString(",\n           ")
    "n16_cluster_purity" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $values) t(cid, cvec)),
         uv AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE label IS NOT NULL),
         ca AS (
           SELECT vec_id, label, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY 2.0 * list_dot_product(v, cvec)
                             - list_dot_product(cvec, cvec) DESC, cid) AS rn
           FROM uv CROSS JOIN cents),
         asg AS (SELECT CAST(cid AS BIGINT) AS centroid_id, label
                 FROM ca WHERE rn = 1),
         cells AS (SELECT centroid_id, label, CAST(count(*) AS BIGINT) AS c
                   FROM asg GROUP BY 1, 2),
         rk AS (SELECT centroid_id, label, c,
                  row_number() OVER (PARTITION BY centroid_id
                    ORDER BY c DESC, label) AS rn,
                  CAST(sum(c) OVER (PARTITION BY centroid_id) AS BIGINT) AS n
                FROM cells)
         SELECT centroid_id, n, label AS majority_label, c AS n_majority,
                round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity
         FROM rk WHERE rn = 1 ORDER BY centroid_id"""
  }.toMap

  private def n3OracleEntry: Map[String, String] = n3FittedCenters.map { centers =>
    val values = centers.map { case (cid, v) =>
      s"($cid, [${v.map(_.toString).mkString(", ")}])"
    }.mkString(",\n           ")
    // corpus assignment = L2 argmin on RAW vectors (2·dot − ‖c‖², ties to
    // cid) replaying assignEuclidean; probes/scoring on unit vectors as n5
    "n3_ann_ivf" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $values) t(cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         ca AS (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY 2.0 * list_dot_product(v, cvec)
                             - list_dot_product(cvec, cvec) DESC, cid) AS rn
           FROM uv CROSS JOIN cents),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec FROM nr WHERE nrm > 0),
         assigned AS (
           SELECT c.vec_id, u.uvec, c.cid AS centroid_id
           FROM ca c JOIN u USING (vec_id) WHERE c.rn = 1),
         cq AS (
           SELECT u.vec_id, u.uvec, c.cid,
                  row_number() OVER (PARTITION BY u.vec_id
                    ORDER BY list_dot_product(u.uvec, c.cvec) DESC, c.cid) AS rn
           FROM u CROSS JOIN cents c),
         probes AS (SELECT vec_id AS query_id, uvec AS qu, cid AS centroid_id
                    FROM cq WHERE vec_id < 5 AND rn <= 2),
         scored AS (
           SELECT p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 3
         ORDER BY query_id, "rank""""
  }.toMap

  @volatile private var n7TrainedCodebooks:
      Option[Array[Array[(Int, Seq[Double])]]] = None

  /** n22's trained PQ codebooks (same fit parameters as n7, trained
    * independently inside the query so a subset run stays self-contained). */
  @volatile private var n22TrainedCodebooks:
    Option[Array[Array[(Int, Seq[Double])]]] = None

  private def n22OracleEntry: Map[String, String] = n22TrainedCodebooks.map { books =>
    val pqValues = (for { m <- books.indices; (cid, v) <- books(m) }
      yield s"($m, $cid, [${v.map(_.toString).mkString(", ")}])")
      .mkString(",\n           ")
    // n12's brute-force truth CTEs + n21's IVF-PQ approx CTEs (trained
    // codebooks as literals) + the same left-join eval reduction
    "n22_ivfpq_recall" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         pq AS (
           SELECT * FROM (VALUES $pqValues) t(m, pcid, pcvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         qy AS (SELECT vec_id AS query_id, uvec AS qu FROM u WHERE vec_id < 8),
         scored_t AS (
           SELECT qy.query_id, c.vec_id AS corpus_id,
                  list_dot_product(c.uvec, qy.qu) AS cos
           FROM u c CROSS JOIN qy WHERE c.vec_id != qy.query_id),
         ranked_t AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_t),
         ca AS (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, cid AS centroid_id FROM ca WHERE rn = 1),
         scored_cents AS (
           SELECT w.vec_id, p.m, p.pcid,
                  2.0 * list_dot_product(
                    list_slice(w.v, p.m * 16 + 1, p.m * 16 + 16), p.pcvec)
                    - list_dot_product(p.pcvec, p.pcvec) AS s
           FROM uv w CROSS JOIN pq p),
         codes AS (
           SELECT vec_id, m, pcid AS code
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY s DESC, pcid) AS rn FROM scored_cents)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS centroid_id
                    FROM ca WHERE vec_id < 8 AND rn <= 4),
         qlut AS (
           SELECT vec_id AS query_id, m, pcid, s
           FROM scored_cents WHERE vec_id < 8),
         cand AS (
           SELECT p.query_id, a.vec_id AS corpus_id
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         pair_scores AS (
           SELECT cd.query_id, cd.corpus_id, c.m, q.s
           FROM cand cd
           JOIN codes c ON c.vec_id = cd.corpus_id
           JOIN qlut q ON q.query_id = cd.query_id AND q.m = c.m
             AND q.pcid = c.code),
         adc AS (
           SELECT query_id, corpus_id,
                  max(s) FILTER (WHERE m = 0) + max(s) FILTER (WHERE m = 1)
                + max(s) FILTER (WHERE m = 2) + max(s) FILTER (WHERE m = 3)
                  AS score
           FROM pair_scores GROUP BY 1, 2),
         ranked_a AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rnk
           FROM adc),
         tt AS (SELECT query_id AS q, corpus_id AS c, rnk AS tr
                FROM ranked_t WHERE rnk <= 5),
         aa AS (SELECT query_id AS q, corpus_id AS c, rnk AS ar
                FROM ranked_a WHERE rnk <= 5),
         j AS (SELECT tt.q, tt.tr, aa.ar FROM tt
               LEFT JOIN aa ON aa.q = tt.q AND aa.c = tt.c),
         g AS (SELECT q, CAST(count(*) AS BIGINT) AS truth_k,
                      CAST(sum(CASE WHEN ar IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                      max(CASE WHEN tr = 1 THEN ar END) AS nn
               FROM j GROUP BY q)
         SELECT q AS query_id, truth_k, hits,
                round(CAST(hits AS DOUBLE) / CAST(truth_k AS DOUBLE), 6)
                  AS recall,
                coalesce(round(1.0 / CAST(nn AS DOUBLE), 6), 0.0) AS rr
         FROM g ORDER BY query_id"""
  }.toMap

  private def n7OracleEntry: Map[String, String] = n7TrainedCodebooks.map { books =>
    // same replay as n6's fixed-codebook SQL, over the TRAINED centers —
    // raw Double.toString literals parse to identical doubles in DuckDB
    val values = (for { m <- books.indices; (cid, v) <- books(m) }
      yield s"($m, $cid, [${v.map(_.toString).mkString(", ")}])")
      .mkString(",\n           ")
    "n7_pq_trained" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $values) t(m, cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         scored_cents AS (
           SELECT u.vec_id, c.m, c.cid,
                  2.0 * list_dot_product(
                    list_slice(u.v, c.m * 16 + 1, c.m * 16 + 16), c.cvec)
                    - list_dot_product(c.cvec, c.cvec) AS s
           FROM uv u CROSS JOIN cents c),
         codes AS (
           SELECT vec_id, m, cid AS code
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY s DESC, cid) AS rn FROM scored_cents)
           WHERE rn = 1),
         qlut AS (
           SELECT vec_id AS query_id, m, cid, s
           FROM scored_cents WHERE vec_id < 8),
         pair_scores AS (
           SELECT q.query_id, c.vec_id AS corpus_id, c.m, q.s
           FROM codes c JOIN qlut q ON q.m = c.m AND q.cid = c.code
           WHERE c.vec_id != q.query_id),
         adc AS (
           SELECT query_id, corpus_id,
                  max(s) FILTER (WHERE m = 0) + max(s) FILTER (WHERE m = 1)
                + max(s) FILTER (WHERE m = 2) + max(s) FILTER (WHERE m = 3) AS score
           FROM pair_scores GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS "rank"
           FROM adc)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank""""
  }.toMap

  /** The BPE merge rules t17 trained in this process — same runtime-oracle
    * contract as [[n3FittedCenters]]: the oracle replays the ENCODE stage
    * (seed → chained replace-all → token counts) against the exported
    * merges; merges are `[a-z]+` only, so inlining them into SQL string
    * literals needs no escaping. */
  @volatile private var t17TrainedMerges: Option[Seq[(String, String)]] = None

  private def t17OracleEntry: Map[String, String] = t17TrainedMerges.map { merges =>
    val seedSql = """' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' '"""
    val chain = merges.foldLeft(seedSql) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' ${a + b} ')"
    }
    "t17_bpe_encode" ->
      s"""WITH toks AS (
           SELECT t.tok AS w
           FROM documents,
                unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS t(tok)
           WHERE regexp_full_match(t.tok, '[a-z]+') AND length(t.tok) <= 20),
         wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
         enc AS (SELECT freq, $chain AS s FROM wf),
         tok2 AS (
           SELECT freq, u.tk AS token
           FROM enc, unnest(string_split(trim(s), '  ')) AS u(tk))
         SELECT token, CAST(sum(freq) AS BIGINT) AS n
         FROM tok2 GROUP BY token ORDER BY token"""
  }.toMap

  /** The k-means centers n8's SemDeDup fitted in this process — same
    * runtime-oracle contract as [[n3FittedCenters]]. */
  @volatile private var n8FittedCenters: Option[Array[(Int, Seq[Double])]] = None

  private def n8OracleEntry: Map[String, String] = n8FittedCenters.map { centers =>
    val values = centers.map { case (cid, v) =>
      s"($cid, [${v.map(_.toString).mkString(", ")}])"
    }.mkString(",\n           ")
    // clustering = L2 argmax replay on RAW vectors (assignEuclidean, ties
    // to cid); the dominance rule pairs UNIT vectors within a cluster and
    // drops the higher id — all relational, replayed on the same planted
    // corpus as d7/n2
    "n8_semantic_dedup" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $values) t(cid, cvec)),
         base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         planted AS (
           SELECT vec_id + 1000000 AS pid,
                  list_transform(range(0, 64), i ->
                    emb[CAST(i + 1 AS INT)] + (((vec_id * 31 + i * 7) % 17) - 8) / 800.0) AS emb
           FROM base),
         allv AS (
           SELECT vec_id, emb FROM base
           UNION ALL SELECT pid AS vec_id, emb FROM planted),
         ca AS (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY 2.0 * list_dot_product(emb, cvec)
                             - list_dot_product(cvec, cvec) DESC, cid) AS rn
           FROM allv CROSS JOIN cents),
         assigned AS (SELECT vec_id, cid AS centroid_id FROM ca WHERE rn = 1),
         unit AS (
           SELECT vec_id,
                  list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS u
           FROM allv WHERE list_dot_product(emb, emb) > 0),
         ub AS (
           SELECT u.vec_id, u.u, a.centroid_id
           FROM unit u JOIN assigned a USING (vec_id)),
         dup AS (
           SELECT DISTINCT b.vec_id AS dup_id
           FROM ub a JOIN ub b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.u, b.u) >= 0.9)
         SELECT v.vec_id, CAST(a.centroid_id AS BIGINT) AS centroid_id
         FROM allv v JOIN assigned a USING (vec_id)
         WHERE v.vec_id NOT IN (SELECT dup_id FROM dup)
         ORDER BY vec_id"""
  }.toMap

  /** n9's oracle: the JL sign matrix is a pure function of the seed, so
    * the SQL replay rebuilds the IDENTICAL matrix as literals at
    * oracle-generation time — no fitted artifact, no volatile capture. */
  private def n9OracleEntry: Map[String, String] = {
    val mvalues = Embeddings.rpMatrix(64, 16, 42L).zipWithIndex
      .map { case (row, j) => s"($j, [${row.map(_.toString).mkString(", ")}])" }
      .mkString(",\n           ")
    Map("n9_rp_prefilter" ->
      s"""WITH m AS (
           SELECT * FROM (VALUES $mvalues) t(j, mvec)),
         raw AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         unit AS (
           SELECT vec_id, v,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
           FROM raw WHERE list_dot_product(v, v) > 0),
         proj AS (
           SELECT unit.vec_id,
                  list(list_dot_product(unit.v, m.mvec) ORDER BY m.j) AS p
           FROM unit CROSS JOIN m GROUP BY unit.vec_id),
         pu AS (
           SELECT u.vec_id, u.u, p.p FROM unit u JOIN proj p USING (vec_id)),
         pc AS (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                  c.u AS cu, q.u AS qu,
                  list_dot_product(c.p, q.p) /
                    (sqrt(list_dot_product(c.p, c.p)) *
                     sqrt(list_dot_product(q.p, q.p))) AS pcos
           FROM pu c JOIN pu q ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         cand AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY pcos DESC, corpus_id) AS prank FROM pc)
           WHERE prank <= 24),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY list_dot_product(cu, qu) DESC, corpus_id) AS "rank"
           FROM cand)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""")
  }

  def oracleSql: Map[String, String] =
    m1OracleEntry ++ m2OracleEntry ++ m24OracleEntry ++ m4OracleEntry ++
    m5OracleEntry ++
    m21OracleEntry ++ m22OracleEntry ++ m23OracleEntry ++
    m6OracleEntry ++ m7OracleEntry ++ m10OracleEntry ++ m11OracleEntry ++
    m13OracleEntry ++ m14OracleEntry ++ m15OracleEntry ++ m19OracleEntry ++
      r37OracleEntry ++ r48OracleEntry ++ r50OracleEntry ++ r72OracleEntry ++
      r76OracleEntry ++
      r56OracleEntry ++ r59OracleEntry ++ r77OracleEntry ++ d20OracleEntry ++
      n3OracleEntry ++ n7OracleEntry ++ n8OracleEntry ++ n9OracleEntry ++
      n22OracleEntry ++
      n16OracleEntry ++
      t17OracleEntry ++ Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "p1_project_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderstatus IS NOT NULL AND o_totalprice > 100000
         ORDER BY o_orderkey""",

    "p2_cast_project" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS INTEGER) AS l_quantity,
         CAST(l_shipdate AS DATE) AS l_shipdate
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "p3_boolean_normalize" ->
      """SELECT o_orderkey, (lower(CAST(o_orderstatus AS VARCHAR)) = 'o') AS is_open
         FROM orders ORDER BY o_orderkey""",

    "q2_summary_engine" ->
      """WITH g AS (
           SELECT CASE WHEN GROUPING(l_returnflag) = 0 THEN 'ReturnFlag'
                       WHEN GROUPING(l_linestatus) = 0 THEN 'LineStatus'
                       ELSE 'All' END AS Division,
                  CASE WHEN GROUPING(l_returnflag) = 0 THEN CAST(l_returnflag AS VARCHAR)
                       WHEN GROUPING(l_linestatus) = 0 THEN CAST(l_linestatus AS VARCHAR)
                       ELSE 'All' END AS DivisionCategory,
                  CAST(sum(l_quantity) AS DOUBLE) AS s,
                  CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS med,
                  CAST(min(l_quantity) AS DOUBLE) AS mn,
                  CAST(max(l_quantity) AS DOUBLE) AS mx,
                  CAST(count(l_quantity) AS DOUBLE) AS cnt
           FROM lineitem
           GROUP BY GROUPING SETS ((), (l_returnflag), (l_linestatus)))
         SELECT Division, DivisionCategory, aggregation, round(qty, 3) AS qty FROM (
           SELECT Division, DivisionCategory, 'sum' AS aggregation, s AS qty FROM g
           UNION ALL SELECT Division, DivisionCategory, 'median', med FROM g
           UNION ALL SELECT Division, DivisionCategory, 'min', mn FROM g
           UNION ALL SELECT Division, DivisionCategory, 'max', mx FROM g
           UNION ALL SELECT Division, DivisionCategory, 'count', cnt FROM g)
         ORDER BY Division, DivisionCategory, aggregation""",

    // g-family: each oracle replays one dataSummaries1.scala instantiation's
    // shape via the summarizeOracleSql GROUPING SETS builder (the q2
    // pattern) — derived metric/category columns defined in the FROM
    // subquery with the same names and the same arithmetic as the Spark
    // side, cross-cohort shapes via the j1 1-row CROSS JOIN pattern.
    "g1_dates_summary" -> summarizeOracleSql(
      """(SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS daysOrderToShip,
                floor(date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) / 365.25) AS yearsOrderToShip
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""",
      Seq("median", "min", "max"),
      Seq("daysOrderToShip" -> "daysOrderToShip",
        "yearsOrderToShip" -> "yearsOrderToShip"),
      Seq.empty),

    "g2_surgery_causes" -> summarizeOracleSql(
      """(SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS isHighQty,
                CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS isDiscounted,
                CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END AS isTaxed,
                CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END AS isBigTicket,
                l_returnflag, l_linestatus, year(l_shipdate) AS shipYear
           FROM lineitem)""",
      Seq("sum"),
      Seq("isHighQty" -> "isHighQty", "isDiscounted" -> "isDiscounted",
        "isTaxed" -> "isTaxed", "isBigTicket" -> "isBigTicket"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
        "shipYear" -> "ShipYear")),

    "g3_material_per_gender" -> summarizeOracleSql(
      """(SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS isUrgent,
                CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS isHigh,
                o_orderstatus, c_mktsegment,
                year(o_orderdate) AS orderYear, o_orderpriority
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)""",
      Seq("count"),
      Seq("isUrgent" -> "isUrgent", "isHigh" -> "isHigh"),
      Seq("o_orderstatus" -> "OrderStatus", "c_mktsegment" -> "MktSegment",
        "orderYear" -> "OrderYear", "o_orderpriority" -> "Priority")),

    "g4_other_risk_factors" -> summarizeOracleSql(
      """(SELECT l_returnflag = 'R' AS isReturned,
                l_discount > 0.05 AS isDiscounted,
                l_tax > 0.04 AS isTaxed,
                l_quantity > 25 AS isHighQty,
                l_extendedprice > 30000 AS isBigTicket,
                l_linestatus, year(l_shipdate) AS shipYear,
                month(l_shipdate) AS shipMonth
           FROM lineitem)""",
      Seq("countTrues"),
      Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted",
        "isTaxed" -> "isTaxed", "isHighQty" -> "isHighQty",
        "isBigTicket" -> "isBigTicket"),
      Seq("l_linestatus" -> "LineStatus", "shipYear" -> "ShipYear",
        "shipMonth" -> "ShipMonth")),

    "g5_lab_inflammation" -> summarizeOracleSql(
      """(SELECT l_extendedprice, l_quantity, l_returnflag, l_linestatus,
                year(l_shipdate) AS shipYear
           FROM lineitem)""",
      Seq("median", "min", "max"),
      Seq("l_extendedprice" -> "Price", "l_quantity" -> "Qty"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
        "shipYear" -> "ShipYear")),

    "g6_microbiologic" -> summarizeOracleSql(
      """(SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isReturned,
                CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS isDiscounted
           FROM lineitem)""",
      Seq("sum"),
      Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted"),
      Seq.empty),

    "g7_basic_two_point" -> summarizeOracleSql(
      """(SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS isHighValue
           FROM events)""",
      Seq("count"),
      Seq("isHighValue" -> "isHighValue"),
      Seq.empty),

    "g8_basic_control" -> summarizeOracleSql(
      """(SELECT CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS isPositiveBal,
                CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS isRich,
                CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS isEvenKey,
                c_mktsegment, n_name
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)""",
      Seq("sum"),
      Seq("isPositiveBal" -> "isPositiveBal", "isRich" -> "isRich",
        "isEvenKey" -> "isEvenKey"),
      Seq("c_mktsegment" -> "MktSegment", "n_name" -> "Nation")),

    "g9_control_dates" -> summarizeOracleSql(
      """(SELECT date_diff('day', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS daysFromEpochToOrder,
                o_orderstatus, o_orderpriority
           FROM orders)""",
      Seq("median", "min", "max"),
      Seq("daysFromEpochToOrder" -> "daysFromEpochToOrder"),
      Seq("o_orderstatus" -> "OrderStatus", "o_orderpriority" -> "Priority")),

    "g10_study_loc" -> summarizeOracleSql(
      """(SELECT CASE WHEN p_size < 10 THEN 1 ELSE 0 END AS isSmall,
                CASE WHEN p_size >= 10 AND p_size <= 25 THEN 1 ELSE 0 END AS isMedium,
                CASE WHEN p_size > 25 THEN 1 ELSE 0 END AS isLarge,
                CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS isPricey,
                p_brand, p_type, p_size // 10 AS sizeBand
           FROM part)""",
      Seq("sum"),
      Seq("isSmall" -> "isSmall", "isMedium" -> "isMedium",
        "isLarge" -> "isLarge", "isPricey" -> "isPricey"),
      Seq("p_brand" -> "Brand", "p_type" -> "Type", "sizeBand" -> "SizeBand")),

    "g11_study_suv" -> summarizeOracleSql(
      """(SELECT l_quantity,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discountCents,
                1.0 AS AllPatients, l_returnflag, l_linestatus
           FROM lineitem)""",
      Seq("sum", "median", "min", "max"),
      Seq("l_quantity" -> "Qty", "priceCents" -> "PriceCents",
        "discountCents" -> "DiscountCents", "AllPatients" -> "AllPatients"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")),

    "g12_image_characteristic" -> summarizeOracleSql(
      """(SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isReturned,
                CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS isDiscounted,
                CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END AS isTaxed,
                l_linestatus, year(l_shipdate) AS shipYear,
                month(l_shipdate) AS shipMonth
           FROM lineitem)""",
      Seq("sum"),
      Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted",
        "isTaxed" -> "isTaxed"),
      Seq("l_linestatus" -> "LineStatus", "shipYear" -> "ShipYear",
        "shipMonth" -> "ShipMonth")),

    "g13_suv_vs_scales" -> summarizeOracleSql(
      """(SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS valueCents,
                hour(ts) AS hourOfDay, minute(ts) AS minuteOfHour,
                1.0 AS Evrybody, event_type, user_id % 4 AS userBucket
           FROM events)""",
      Seq("sum", "median"),
      Seq("valueCents" -> "ValueCents", "hourOfDay" -> "HourOfDay",
        "minuteOfHour" -> "MinuteOfHour", "Evrybody" -> "Evrybody"),
      Seq("event_type" -> "EventType", "userBucket" -> "UserBucket")),

    "g14_suv_two_point" -> summarizeOracleSql(
      """(SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                l_quantity,
                CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discountCents,
                CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS taxCents
           FROM lineitem)""",
      Seq("median", "min", "max"),
      Seq("priceCents" -> "PriceCents", "l_quantity" -> "Qty",
        "discountCents" -> "DiscountCents", "taxCents" -> "TaxCents"),
      Seq.empty),

    "g15_suv_scales_control" -> summarizeOracleSql(
      """(SELECT floor(l_extendedprice / l_quantity * 1000.0) AS tbrMilli,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                l_returnflag, l_linestatus
           FROM lineitem)""",
      Seq("sum", "median"),
      Seq("tbrMilli" -> "TbrMilli", "priceCents" -> "PriceCents"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")),

    "g16_suv_study_vs_control" ->
      """SELECT round(partPriceMedian, 3) AS partPriceMedian,
                partPriceMin, partPriceMax,
                round(itemPriceMedian, 3) AS itemPriceMedian,
                itemPriceMin, itemPriceMax
         FROM (SELECT CAST(quantile_cont(p_retailprice, 0.5) AS DOUBLE) AS partPriceMedian,
                      CAST(min(p_retailprice) AS DOUBLE) AS partPriceMin,
                      CAST(max(p_retailprice) AS DOUBLE) AS partPriceMax FROM part)
         CROSS JOIN
              (SELECT CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS itemPriceMedian,
                      CAST(min(l_extendedprice) AS DOUBLE) AS itemPriceMin,
                      CAST(max(l_extendedprice) AS DOUBLE) AS itemPriceMax FROM lineitem)""",

    "g17_ct_done_before" -> summarizeOracleSql(
      """(SELECT CASE WHEN l_returnflag = 'R' THEN 1
                      WHEN l_discount > 0.05 THEN 1
                      WHEN l_tax > 0.04 THEN 1
                      ELSE 0 END AS anyFlag
           FROM lineitem)""",
      Seq("sum"),
      Seq("anyFlag" -> "anyFlag"),
      Seq.empty),

    "g18_technical_cross" ->
      """SELECT round(orderPriceMedian, 3) AS orderPriceMedian,
                round(orderYearMedian, 3) AS orderYearMedian,
                round(valueMedian, 3) AS valueMedian,
                round(hourMedian, 3) AS hourMedian
         FROM (SELECT CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS orderPriceMedian,
                      CAST(quantile_cont(year(o_orderdate), 0.5) AS DOUBLE) AS orderYearMedian
               FROM orders)
         CROSS JOIN
              (SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) AS valueMedian,
                      CAST(quantile_cont(hour(ts), 0.5) AS DOUBLE) AS hourMedian
               FROM events)""",

    "q3_quality_report" ->
      """SELECT * FROM (
         SELECT 'outside range' AS description, 'l_quantity' AS columnName,
                count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS number
         FROM lineitem
         UNION ALL
         SELECT 'outside range', 'l_discount',
                count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.08)
         FROM lineitem
         UNION ALL
         SELECT 'null values', 'l_quantity', count(*) FILTER (WHERE l_quantity IS NULL)
         FROM lineitem
         UNION ALL
         SELECT 'null values', 'l_returnflag', count(*) FILTER (WHERE l_returnflag IS NULL)
         FROM lineitem
         UNION ALL
         SELECT 'z-score outliers', 'l_extendedprice',
                count(*) FILTER (WHERE abs((l_extendedprice - m) / sd) > 3)
         FROM lineitem, (SELECT avg(l_extendedprice) AS m, stddev_pop(l_extendedprice) AS sd
                         FROM lineitem)
         ) ORDER BY description, columnName""",

    "j1_cross_agg" ->
      """SELECT round(cust_median, 3) AS cust_median, cust_min, cust_max,
                round(supp_median, 3) AS supp_median, supp_min, supp_max
         FROM (SELECT CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS cust_median,
                      CAST(min(c_acctbal) AS DOUBLE) AS cust_min,
                      CAST(max(c_acctbal) AS DOUBLE) AS cust_max FROM customer)
         CROSS JOIN
              (SELECT CAST(quantile_cont(s_acctbal, 0.5) AS DOUBLE) AS supp_median,
                      CAST(min(s_acctbal) AS DOUBLE) AS supp_min,
                      CAST(max(s_acctbal) AS DOUBLE) AS supp_max FROM supplier)""",

    "j2_tagged_union" ->
      """SELECT name, acctbal, is_customer FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, 1 AS is_customer FROM customer
           UNION ALL
           SELECT s_name, s_acctbal, 0 FROM supplier)
         ORDER BY name, is_customer""",

    "w1_window_agg" ->
      """SELECT DISTINCT l_returnflag,
                sum(l_quantity) OVER (PARTITION BY l_returnflag) AS qty_total
         FROM lineitem ORDER BY l_returnflag""",

    "e1_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
                count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
         FROM events GROUP BY 1 ORDER BY 1""",

    "q5_join_agg" ->
      """SELECT n_name,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS DOUBLE), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "u4_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""",

    "p4_rename_drop" ->
      """SELECT n_name AS name, n_nationkey AS id FROM nation ORDER BY id""",

    "u2_union_tagged" ->
      """SELECT * FROM (
           SELECT r_name AS name, 'region' AS src FROM region
           UNION ALL SELECT n_name, 'nation' FROM nation
           UNION ALL SELECT DISTINCT c_mktsegment, 'segment' FROM customer)
         ORDER BY src, name""",

    "w2_global_window" ->
      """SELECT s_suppkey,
                round((s_acctbal - avg(s_acctbal) OVER ()) /
                      stddev_pop(s_acctbal) OVER (), 6) AS z
         FROM supplier ORDER BY s_suppkey""",

    "d5_datefuncs" ->
      """SELECT o_orderkey,
                year(o_orderdate) AS y, month(o_orderdate) AS m,
                day(o_orderdate) AS d,
                date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days_since
         FROM orders ORDER BY o_orderkey""",

    "s1_tsv_roundtrip" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "r2_fisher" ->
      """WITH cells AS (
           SELECT count(*) FILTER (WHERE x AND y) AS a,
                  count(*) FILTER (WHERE x AND NOT y) AS b,
                  count(*) FILTER (WHERE NOT x AND y) AS c,
                  count(*) FILTER (WHERE NOT x AND NOT y) AS d
           FROM (SELECT o_orderstatus = 'F' AS x, o_totalprice > 100000 AS y FROM orders)),
         m AS (
           SELECT a, b, c, d, a+b AS r1, c+d AS r2, a+c AS c1, a+b+c+d AS n,
                  lgamma(a+b+1.0)-lgamma(a+1.0)-lgamma(b+1.0)
                  + lgamma(c+d+1.0)-lgamma(c+1.0)-lgamma(d+1.0)
                  - (lgamma(a+b+c+d+1.0)-lgamma(a+c+1.0)-lgamma(b+d+1.0)) AS lobs
           FROM cells),
         terms AS (
           SELECT m.*, t.x AS xv,
                  lgamma(r1+1.0)-lgamma(t.x+1.0)-lgamma(r1-t.x+1.0)
                  + lgamma(r2+1.0)-lgamma(c1-t.x+1.0)-lgamma(r2-(c1-t.x)+1.0)
                  - (lgamma(n+1.0)-lgamma(c1+1.0)-lgamma(n-c1+1.0)) AS lp
           FROM m, generate_series(0, 1000000) t(x)
           WHERE t.x BETWEEN greatest(0, m.c1 - m.r2) AND least(m.r1, m.c1))
         SELECT a AS tt, b AS tf, c AS ft, d AS ff,
                round(least(1.0, sum(CASE WHEN lp <= lobs + ln(1 + 0.0000001)
                                          THEN exp(lp) ELSE 0 END)), 6) AS p_value
         FROM terms GROUP BY a, b, c, d""",

    "q6_moments" ->
      """WITH s AS (
           SELECT l_returnflag,
                  count(*) AS n,
                  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(y*y) AS DOUBLE) AS syy,
                  CAST(sum(x*y) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(x*x AS DECIMAL(24,4)) * x) AS DOUBLE) AS sxxx
           FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS x,
                        CAST(l_extendedprice AS DECIMAL(12,2)) AS y FROM lineitem) t
           GROUP BY 1)
         SELECT l_returnflag, n,
           round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_xy,
           round(sqrt(sxx/n - (sx/n)*(sx/n)), 6) AS stddev_pop_x,
           round((sxxx/n - 3*(sx/n)*(sxx/n) + 2*(sx/n)*(sx/n)*(sx/n))
                 / (sqrt(sxx/n - (sx/n)*(sx/n)) * sqrt(sxx/n - (sx/n)*(sx/n))
                    * sqrt(sxx/n - (sx/n)*(sx/n))), 6) AS skew_x
         FROM s ORDER BY l_returnflag""",

    "h1_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "t7_nfc" ->
      """SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769)) AS normalized
         FROM documents ORDER BY doc_id""",

    "q7_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",

    "q8_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus, o_orderpriority""",

    "s3_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
         ORDER BY doc_id""",

    // s6: rate = min(1, target/actual) per source; threshold = the same
    // round-half-up 4-nibble hex granule arithmetic as the Spark Column
    // (positive doubles round identically in both engines)
    "s6_mixture_sample" ->
      """WITH tgt AS (
           SELECT * FROM (VALUES ('src0', 1000000), ('src1', 4000), ('src2', 2000),
                                 ('src3', 6000), ('src4', 500)) t(s, target)),
         totals AS (SELECT source AS s, sum(n_chars) AS actual FROM documents GROUP BY 1),
         rates AS (
           SELECT s, least(1.0, CAST(target AS DOUBLE) / actual) AS rate
           FROM totals JOIN tgt USING (s)),
         thr AS (
           SELECT s, rate,
                  printf('%04x', CAST(greatest(1, least(65535, round(rate * 65536))) AS BIGINT)) AS h
           FROM rates)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN thr ON d.source = thr.s
         WHERE thr.rate >= 1.0
            OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.h
         ORDER BY d.doc_id""",

    // s7: per-stratum md5 thresholds — the hexThreshold arithmetic inlined
    // as literals (0.5→8000, 0.1→199a, 0.02→051f); src1 keeps whole,
    // unlisted src4 drops entirely
    "s7_stratified_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE source = 'src1'
            OR (source = 'src0' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
            OR (source = 'src2' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a')
            OR (source = 'src3' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051f')
         ORDER BY doc_id""",

    // s30: the exact cumulative char-weight line (windowed exclusive
    // prefix), k = 40 equal buckets, keep boundary-completing rows —
    // integer floor division end to end
    "s30_systematic_sample" ->
      """WITH base AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
           WHERE doc_id IS NOT NULL AND n_chars > 0),
         pc AS (SELECT doc_id, w,
                  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum
                FROM base),
         t AS (SELECT CAST(sum(w) AS BIGINT) AS w0 FROM base)
         SELECT doc_id, w, cum,
                cum * 40 // w0 AS bucket,
                (cum + w) * 40 // w0 - cum * 40 // w0 AS picks
         FROM pc, t
         WHERE (cum + w) * 40 // w0 - cum * 40 // w0 > 0
         ORDER BY doc_id""",

    // s37: same 52-bit hash uniform ('0x' cast ≡ Spark conv), same
    // ln(u)/w rank key, ORDER BY the raw key + LIMIT both sides
    "s37_weighted_sample" ->
      """WITH base AS (
           SELECT o_orderkey AS id, CAST(o_totalprice AS DOUBLE) AS w
           FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice > 0),
         kd AS (
           SELECT id, w,
                  (CAST(CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 13)
                     AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
           FROM base)
         SELECT id AS o_orderkey, w, round(u, 6) AS u,
                round(ln(u) / w, 9) + 0.0 AS es_key
         FROM kd
         ORDER BY ln(u) / w DESC, id ASC
         LIMIT 100""",

    // s32: the generated column is definitionally its expression, so the
    // replay just computes it over the written slices
    "s32_generated_cols" ->
      """WITH rows_in AS (
           SELECT o_orderkey, o_totalprice,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    // 5000000 AS price_bucket
           FROM orders WHERE o_orderkey <= 1200)
         SELECT price_bucket, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover
         FROM rows_in GROUP BY 1 ORDER BY price_bucket""",

    // s31: the rename is metadata-only, so the relational replay never
    // sees it — base slice, appended slice, keyed merge, two summaries
    "s31_column_mapping" ->
      """WITH b AS (
           SELECT c_custkey, c_acctbal AS balance, c_mktsegment
           FROM customer WHERE c_custkey <= 300),
         a AS (
           SELECT c_custkey, c_acctbal AS balance, c_mktsegment
           FROM customer WHERE c_custkey BETWEEN 301 AND 500),
         m AS (
           SELECT c_custkey, round(c_acctbal + 1000, 2) AS balance,
                  c_mktsegment
           FROM customer WHERE c_custkey BETWEEN 250 AND 350),
         head AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM (SELECT * FROM b UNION ALL SELECT * FROM a)
           WHERE c_custkey NOT IN (SELECT c_custkey FROM m)),
         s1 AS (
           SELECT c_mktsegment, count(*) AS n,
                  round(CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS bal_sum, 1 AS version
           FROM b GROUP BY 1),
         s4 AS (
           SELECT c_mktsegment, count(*) AS n,
                  round(CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS bal_sum, 4 AS version
           FROM head GROUP BY 1)
         SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s4)
         ORDER BY version, c_mktsegment""",

    // r15: r9's window replay with every window partitioned by family
    "r15_fdr_family" ->
      """WITH ps AS (
           SELECT c_mktsegment AS family, c_nationkey AS stratum,
                  CAST(count(*) FILTER (WHERE c_acctbal <
                         ((c_nationkey % 11) - 1) * 1000) AS DOUBLE)
                    / count(*) AS p
           FROM customer GROUP BY 1, 2),
         ranked AS (
           SELECT family, stratum, p,
                  row_number() OVER (PARTITION BY family ORDER BY p, stratum) AS rk,
                  count(*) OVER (PARTITION BY family) AS n,
                  CAST(sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY family) AS DOUBLE) AS gt
           FROM ps),
         adj AS (
           SELECT *,
                  least(1.0, min(n * p / rk) OVER (PARTITION BY family
                    ORDER BY p DESC, stratum DESC
                    ROWS UNBOUNDED PRECEDING)) AS bh_adj,
                  least(1.0, gt / (0.5 * n)) AS pi0
           FROM ranked)
         SELECT family, stratum, round(p, 6) AS p, round(bh_adj, 6) AS bh_adj,
                round(pi0, 6) AS storey_pi0,
                round(least(1.0, pi0 * bh_adj), 6) AS storey_adj
         FROM adj ORDER BY family, stratum""",

    // ln(99) is embedded as the JVM's Math.log value so both engines use the
    // identical double constant (C and Java libm can differ in the last ulp)
    "r10_binormal_threshold" ->
      s"""WITH s AS (
           SELECT count(*) FILTER (WHERE c_mktsegment != 'BUILDING') AS n1,
                  count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n2,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    FILTER (WHERE c_mktsegment != 'BUILDING') AS DOUBLE) AS sx1,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS sx2,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)))
                    FILTER (WHERE c_mktsegment != 'BUILDING') AS DOUBLE) AS sxx1,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)))
                    FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS sxx2
           FROM customer WHERE c_acctbal IS NOT NULL)
         SELECT n1, n2,
           round((sx1/n1 + sx2/n2)/2
             + (((sxx1 - sx1*sx1/n1) + (sxx2 - sx2*sx2/n2)) / (n1 + n2 - 2))
               * ${math.log(0.99 / 0.01)} / (sx2/n2 - sx1/n1), 6) AS threshold
         FROM s""",

    "r9_fdr_distributed" ->
      """WITH ps AS (
           SELECT o_orderpriority AS stratum,
                  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                    / count(*) / 3 AS p
           FROM orders GROUP BY 1),
         ranked AS (
           SELECT stratum, p, row_number() OVER (ORDER BY p, stratum) AS rk,
                  count(*) OVER () AS n,
                  CAST(sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) OVER () AS DOUBLE) AS gt
           FROM ps),
         adj AS (
           SELECT *,
                  least(1.0, min(n * p / rk) OVER (ORDER BY p DESC, stratum DESC
                    ROWS UNBOUNDED PRECEDING)) AS bh_adj,
                  least(1.0, gt / (0.5 * n)) AS pi0
           FROM ranked)
         SELECT stratum, round(p, 6) AS p, round(bh_adj, 6) AS bh_adj,
                round(pi0, 6) AS storey_pi0,
                round(least(1.0, pi0 * bh_adj), 6) AS storey_adj
         FROM adj ORDER BY stratum""",

    // r12: the permutation test's exact path, replayed completely — a
    // recursive CTE walks all 2^16 pick/skip paths, keeps the C(16,k)
    // subsets of group-A size, and applies the same eps-guarded mean
    // comparison; integer-valued data keeps every double sum exact
    "r12_perm_exact" ->
      """WITH RECURSIVE it AS (
           SELECT row_number() OVER (ORDER BY n_nationkey) AS i,
                  CAST(n_nationkey AS DOUBLE) AS v,
                  (length(n_name) % 2 = 0) AS grp
           FROM nation WHERE n_nationkey < 16),
         tot AS (SELECT CAST(count(*) AS INT) AS n, sum(v) AS s,
                        CAST(count(*) FILTER (WHERE grp) AS INT) AS ka,
                        sum(v) FILTER (WHERE grp) AS sa
                 FROM it),
         sub(i, cnt, s2) AS (
           SELECT 0, 0, CAST(0 AS DOUBLE)
           UNION ALL
           SELECT sub.i + 1, sub.cnt + p.pick, sub.s2 + p.pick * it.v
           FROM sub
           JOIN it ON it.i = sub.i + 1
           CROSS JOIN (SELECT 0 AS pick UNION ALL SELECT 1) p
           WHERE sub.i < (SELECT n FROM tot)),
         obs AS (SELECT abs(sa / ka - (s - sa) / (n - ka)) AS o, n, s, ka
                 FROM tot),
         leaves AS (SELECT s2 FROM sub, tot WHERE sub.i = tot.n AND sub.cnt = tot.ka)
         SELECT 'nationkey_by_name_len_parity' AS test,
                round(CAST(count(*) FILTER (WHERE
                    abs(s2 / ka - (s - s2) / (n - ka)) >= o - 1e-12 * (1 + o))
                  AS DOUBLE) / count(*), 6) AS p_value
         FROM leaves, obs""",

    // r11: SQL replay of the clamped-block-projection SABHA selection; the
    // only FP ops are exact-operand divisions and single multiplications, so
    // the step-up comparisons agree bit-for-bit across engines
    "r11_sabha_distributed" ->
      """WITH ps AS (
           SELECT c_mktsegment AS block, c_nationkey AS nation,
                  CAST(count(*) FILTER (WHERE c_acctbal <
                         ((c_nationkey % 11) - 1) * 1000) AS DOUBLE)
                    / count(*) AS p
           FROM customer GROUP BY 1, 2),
         q AS (
           SELECT *, least(1.0, greatest(0.1,
                    avg(CASE WHEN p > 0.5 THEN 1.0 / (1 - 0.5) ELSE 0.0 END)
                      OVER (PARTITION BY block))) AS qhat
           FROM ps),
         qp AS (SELECT *, CASE WHEN p > 0.5 THEN 1e300 ELSE qhat * p END AS qp
                FROM q),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY qp, nation, block) AS rk,
                  count(*) OVER () AS n
           FROM qp),
         k AS (SELECT *, max(CASE WHEN qp <= 0.05 * rk / n THEN rk ELSE 0 END)
                 OVER () AS khat
               FROM ranked)
         SELECT block, nation, round(p, 6) AS p, round(qhat, 6) AS qhat,
                CASE WHEN qp <= 0.05 * khat / n THEN 1 ELSE 0 END AS rejected
         FROM k ORDER BY block, nation""",

    // r14: the same windowed water-filling as tvChainProjectDF — edge diffs
    // by lead(), rank by |d| desc with the chain order as tie-break, running
    // cum, level θ at the largest feasible rank, soft-threshold, rebuild
    "r14_tv_projection" ->
      """WITH ps AS (
           SELECT c_mktsegment AS block, c_nationkey AS nation,
                  CAST(count(*) FILTER (WHERE c_acctbal <
                         ((c_nationkey % 11) - 1) * 1000) AS DOUBLE)
                    / count(*) AS p
           FROM customer GROUP BY 1, 2),
         y0 AS (SELECT *, CASE WHEN p > 0.5 THEN 2.0 ELSE 0.0 END AS y FROM ps),
         d AS (SELECT *, lead(y) OVER (ORDER BY block, nation) - y AS d FROM y0),
         a AS (SELECT *, abs(d) AS absd FROM d),
         r AS (SELECT *,
                 row_number() OVER (ORDER BY absd DESC NULLS LAST, block, nation) AS rk,
                 sum(absd) OVER (ORDER BY absd DESC NULLS LAST, block, nation
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM a),
         s AS (SELECT *, max(cum) OVER () AS stot FROM r),
         x AS (SELECT *, max(CASE WHEN absd - (cum - 3.0) / rk > 0 THEN rk END)
                 OVER () AS xi FROM s),
         t AS (SELECT *, max(CASE WHEN rk = xi THEN (cum - 3.0) / rk END)
                 OVER () AS theta FROM x),
         pr AS (SELECT *, CASE WHEN stot <= 3.0 THEN d
                               WHEN absd - theta > 0 THEN (absd - theta) * sign(d)
                               ELSE 0.0 END AS dproj FROM t),
         o AS (SELECT *, first_value(y) OVER (ORDER BY block, nation) +
                         coalesce(sum(dproj) OVER (ORDER BY block, nation
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS y_tv
               FROM pr)
         SELECT block, nation, round(p, 6) AS p, round(y_tv, 6) AS y_tv
         FROM o ORDER BY block, nation""",

    "s2_json_roundtrip" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    // s21: the ORC roundtrip must preserve every value — the oracle runs
    // the same aggregate over the original parquet
    "s21_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS revenue
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "s4_excel_roundtrip" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "s5_snapshot_roundtrip" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    // e9: the same three chained stage aggregations as CTEs
    "e9_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id,
                      min(CASE WHEN event_type = 'view' THEN us END) AS t_view
               FROM e GROUP BY 1),
         c AS (SELECT e.user_id, v.t_view,
                      min(CASE WHEN e.event_type = 'click' AND e.us > v.t_view
                               AND e.us <= v.t_view + 604800000000
                          THEN e.us END) AS t_click
               FROM e JOIN v USING (user_id) GROUP BY 1, 2),
         p AS (SELECT e.user_id, c.t_view, c.t_click,
                      min(CASE WHEN e.event_type = 'purchase' AND e.us > c.t_click
                               AND e.us <= c.t_click + 604800000000
                          THEN e.us END) AS t_purchase
               FROM e JOIN c USING (user_id) GROUP BY 1, 2, 3)
         SELECT count(*) AS n_users, count(t_view) AS reached_view,
                count(t_click) AS reached_click,
                count(t_purchase) AS reached_purchase
         FROM p""",

    // j7: DuckDB's native range join evaluates the overlap predicate the
    // direct way; epoch_us(ts) ≡ Spark unix_micros (w5 precedent)
    "j7_interval_overlap" ->
      """WITH le AS (
           SELECT event_id AS l_id, epoch_us(ts) AS ls,
                  epoch_us(ts) + 1800000000 AS le_
           FROM events WHERE user_id % 2 = 0 AND event_id % 29 = 0),
         re AS (
           SELECT event_id AS r_id, epoch_us(ts) AS rs,
                  epoch_us(ts) + 2700000000 AS re_
           FROM events WHERE user_id % 2 = 1 AND event_id % 23 = 0)
         SELECT l_id, r_id,
                least(le_, re_) - greatest(ls, rs) AS overlap_us
         FROM le JOIN re ON ls <= re_ AND rs <= le_
         ORDER BY l_id, r_id""",

    // q9: DuckDB GROUPING(a,b) ≡ Spark grouping_id() (round-2 recipe);
    // gid leads the ORDER BY so NULL subtotal rows can't hit the
    // nulls-first/last divergence
    "q9_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus, o_orderpriority""",

    // t16: both engines run their native regexp_extract_all with group 1
    "t16_domain_stats" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                       || ' and http://mirror' || CAST(doc_id % 3 AS VARCHAR)
                       || '.example.org/x' AS text
           FROM documents),
         links AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))
                    AS domain
           FROM aug)
         SELECT domain, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
         FROM links GROUP BY 1 ORDER BY 1""",

    // t18: the identical tf/df/N frames and the same rounded-score
    // ranking; score rounds BEFORE the window on both sides
    "t18_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t != '') AS w
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         tok AS (SELECT doc_id, unnest(w) AS term FROM toks),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM tok GROUP BY 1, 2),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
                 FROM tfc GROUP BY 1),
         corpus AS (SELECT count(*) AS n_docs FROM toks),
         s AS (SELECT doc_id, term, tf, df_t,
                 round(CAST(tf AS DOUBLE)
                   * (ln((CAST(n_docs AS DOUBLE) + 1.0)
                        / (CAST(df_t AS DOUBLE) + 1.0)) + 1.0), 6) AS score
               FROM tfc JOIN dfc USING (term) CROSS JOIN corpus),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS "rank" FROM s)
         SELECT doc_id, term, tf, df_t, score, CAST("rank" AS BIGINT) AS "rank"
         FROM r WHERE "rank" <= 3 ORDER BY doc_id, "rank"""",

    // s9: the stats-pruned snapshot must answer exactly like the raw table
    "s9_stats_pruned_scan" ->
      """SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 180 AND l_suppkey BETWEEN 1 AND 5
         GROUP BY 1 ORDER BY 1""",

    // s10: the compacted snapshot must answer exactly like the raw table
    "s10_compacted_scan" ->
      """SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
         FROM customer WHERE c_custkey <= 800
         ORDER BY c_custkey""",

    // s25: the pruned categorical scan must equal the relational filter —
    // pruning is I/O skipping, never row semantics
    "s25_lang_pruned_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE lang = 'en' ORDER BY doc_id""",

    // s11: the change feed replayed relationally — appends land as
    // inserts at their commit version, the pruned DELETE reports the hit
    // file's rows out (delete) and its survivors back in (insert), and
    // the compact commit contributes nothing (dataChange = false)
    "s11_changes_read" ->
      """WITH ch AS (
           SELECT n_nationkey, n_name, n_regionkey,
                  'insert' AS _change_type, 2 AS _change_version
           FROM nation WHERE n_nationkey BETWEEN 10 AND 19
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'insert', 3
           FROM nation WHERE n_nationkey >= 20
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'delete', 4
           FROM nation WHERE n_nationkey BETWEEN 10 AND 19
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'insert', 4
           FROM nation WHERE n_nationkey IN (10, 11, 18, 19))
         SELECT * FROM ch
         ORDER BY _change_version, _change_type, n_nationkey""",

    // s12: the row-level change feed replayed relationally — the merge
    // contributes preimage/postimage pairs for matched keys plus inserts
    // for new keys (never the rewrite's untouched rows), the delete
    // contributes exactly the removed rows
    "s12_cdc_rowlevel" ->
      """WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500),
         u AS (
           SELECT c_custkey, c_mktsegment, round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 450 AND 520),
         ch AS (
           SELECT c_custkey, c_mktsegment, c_acctbal,
                  'update_preimage' AS _change_type, 2 AS _change_version
           FROM b WHERE c_custkey BETWEEN 450 AND 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'update_postimage', 2
           FROM u WHERE c_custkey <= 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'insert', 2
           FROM u WHERE c_custkey > 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'delete', 3
           FROM b WHERE c_custkey BETWEEN 100 AND 120)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
                _change_type, _change_version
         FROM ch
         ORDER BY _change_version, _change_type, c_custkey""",

    // s13: the z-order-compacted snapshot must answer exactly like the
    // raw table (compaction is a permutation; pruning is asserted in-query)
    "s13_zorder_compact" ->
      """SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey <= 200 AND l_partkey BETWEEN 20 AND 60
         GROUP BY 1 ORDER BY 1""",

    // s14: the vector-masked read must equal the relational remainder
    // (in-query requires pin that no data file was rewritten)
    "s14_mor_delete" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
         FROM orders
         WHERE o_orderkey <= 8000
           AND NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
         ORDER BY o_orderkey""",

    // s16: the vector-masked read plus appended postimages must equal
    // the relational CASE over the base table
    "s16_mor_update" ->
      """SELECT o_orderkey, o_orderstatus,
           round(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 10 = 3
                      THEN o_totalprice + 5000 ELSE o_totalprice END,
                 2) AS totalprice
         FROM orders WHERE o_orderkey <= 8000
         ORDER BY o_orderkey""",

    // e10: sequential time-ordered batch upserts ≡ global newest event
    // per user (equal timestamps share a batch; the max-struct tie order
    // is (ts, event_type, value) DESC lexicographic), then the rollup is
    // a plain group-by over those survivors — the decimal-sum doctrine
    // e12: final day ownership replayed relationally — a day belongs to
    // the last overlapping batch that recomputed it (1-9 → b1, 10-19 →
    // b2, 20-30 → b3 by dense day rank), redeliveries change nothing
    "e12_stream_replace" ->
      """WITH ev AS (
           SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  CAST(value AS DOUBLE) AS value
           FROM events WHERE user_id <= 200 AND value IS NOT NULL),
         d AS (
           SELECT day, dense_rank() OVER (ORDER BY day) AS di
           FROM (SELECT DISTINCT day FROM ev)),
         tagged AS (
           SELECT e.day,
                  CASE WHEN d.di <= 9 THEN 1
                       WHEN d.di <= 19 THEN 2 ELSE 3 END AS loaded_by,
                  e.value
           FROM ev e JOIN d USING (day))
         SELECT day, loaded_by, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM tagged GROUP BY day, loaded_by
         ORDER BY day""",

    "e10_stream_rollup" ->
      """WITH ev AS (
           SELECT user_id, ts, event_type, CAST(value AS DOUBLE) AS value
           FROM events WHERE user_id <= 300 AND value IS NOT NULL),
         last AS (
           SELECT user_id, event_type, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_type DESC, value DESC) AS rn
             FROM ev) WHERE rn = 1)
         SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM last GROUP BY 1 ORDER BY 1""",

    // s17: the incrementally-maintained rollup must equal the batch
    // recompute over the mutated base (merge upserts win on matched keys,
    // inserts join, deletes leave) — same decimal-sum money doctrine as q1
    "s17_incremental_agg" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         final AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 150)
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover
         FROM final GROUP BY 1 ORDER BY 1""",

    // s23: restore(v1) == the v1 definition, bit-faithful
    "s23_restore" ->
      """SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM orders WHERE o_orderkey <= 800
         ORDER BY o_orderkey""",

    // s29: the metadata-only aggregates against the relational truth of
    // the mutated table (writes minus the copy-on-write delete)
    "s29_metadata_agg" ->
      """WITH live AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey <= 1500 AND o_orderkey NOT BETWEEN 200 AND 400)
         SELECT CAST(count(*) AS BIGINT) AS n,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price
         FROM live""",

    // s27: both heads replayed — the source was overwritten to the <=50
    // slice after the clone; the clone holds the merged state minus the
    // <=200 delete, untouched by the source's overwrite AND its vacuum
    "s27_clone" ->
      """WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500),
         m AS (
           SELECT c_custkey, c_mktsegment,
                  round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 300 AND 600),
         merged AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM b
           WHERE c_custkey NOT IN (SELECT c_custkey FROM m)),
         srcv3 AS (
           SELECT 'source' AS side, c_custkey, c_mktsegment,
                  round(c_acctbal, 2) AS acctbal
           FROM customer WHERE c_custkey <= 50),
         clnv2 AS (
           SELECT 'clone' AS side, c_custkey, c_mktsegment,
                  round(c_acctbal, 2) AS acctbal
           FROM merged WHERE c_custkey > 200)
         SELECT * FROM (SELECT * FROM srcv3 UNION ALL SELECT * FROM clnv2)
         ORDER BY side, c_custkey""",

    // s28: the recorded commit chain against the declared op sequence
    "s28_history" ->
      """SELECT * FROM (VALUES (1, 'overwrite', CAST(1 AS BIGINT)),
                               (2, 'append',    CAST(2 AS BIGINT)),
                               (3, 'delete',    CAST(2 AS BIGINT)),
                               (4, 'restore',   CAST(1 AS BIGINT)))
           t(version, op, num_files)
         ORDER BY version""",

    // s26: the widening evolution replayed — pre-evolution rows carry an
    // explicit NULL in the new column
    "s26_schema_evolution" ->
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS totalprice
         FROM orders WHERE o_orderkey <= 400
         UNION ALL
         SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
         FROM orders WHERE o_orderkey BETWEEN 401 AND 800
         ORDER BY o_orderkey""",

    // s24: the slice swap replayed — rows outside 300-599 untouched, the
    // slice itself is exactly the recomputed backfill (odd keys, +50)
    "s24_replace_where" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1200),
         r AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 50, 2) AS o_totalprice
           FROM orders
           WHERE o_orderkey BETWEEN 300 AND 599 AND o_orderkey % 2 = 1)
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM (SELECT * FROM b WHERE o_orderkey NOT BETWEEN 300 AND 599
               UNION ALL SELECT * FROM r)
         ORDER BY o_orderkey""",

    // s22: the four MERGE clauses replayed — matched %7 keys delete,
    // matched rows update only when the new price is GREATER (%3 keys),
    // other matched rows keep their original values, 1001-1200 insert
    "s22_merge_conditional" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         u AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice +
                    CASE WHEN o_orderkey % 3 = 0 THEN 1000 ELSE -1000 END, 2)
                    AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 700 AND 1200),
         kept AS (
           SELECT b.o_orderkey, b.o_orderstatus,
                  CASE WHEN u.o_orderkey IS NOT NULL
                            AND u.o_totalprice > b.o_totalprice
                       THEN u.o_totalprice ELSE b.o_totalprice END
                    AS o_totalprice
           FROM b LEFT JOIN u ON u.o_orderkey = b.o_orderkey
           WHERE NOT (u.o_orderkey IS NOT NULL AND u.o_orderkey % 7 = 0)),
         ins AS (SELECT * FROM u WHERE o_orderkey > 1000)
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         ORDER BY o_orderkey""",

    // s20: both snapshots replayed relationally — v1 is the original
    // subset untouched by the later merge/delete, v3 applies both
    "s20_time_travel" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 500),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 100, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 400 AND 700),
         head AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 100),
         s1 AS (
           SELECT o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS turnover, 1 AS version
           FROM b GROUP BY 1),
         s3 AS (
           SELECT o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS turnover, 3 AS version
           FROM head GROUP BY 1)
         SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s3)
         ORDER BY version, o_orderstatus""",

    // s19: the distinct-carrying incremental view must equal the batch
    // recompute — custkeys arrive with the merge's inserts and leave with
    // the delete when their only orders die
    "s19_incremental_distinct" ->
      """WITH b AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         final AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 150)
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover,
                count(DISTINCT o_custkey) AS custs
         FROM final GROUP BY 1 ORDER BY 1""",

    // s18: the min/max-carrying incremental view must equal the batch
    // recompute — the delete predicate applies to POST-merge values
    // (deleteWhere runs on the merged head), extrema are exact picks
    "s18_incremental_minmax" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         merged AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM b
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m)),
         final AS (SELECT * FROM merged WHERE NOT (o_totalprice > 350000))
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover,
                round(min(o_totalprice), 2) AS tp_min,
                round(max(o_totalprice), 2) AS tp_max
         FROM final GROUP BY 1 ORDER BY 1""",

    // e11: the distinct-carrying streaming view — global newest-per-user
    // (time-ordered batches make sequential LWW ≡ global), per-type
    // count/sum plus distinct active cohorts
    "e11_stream_distinct" ->
      """WITH ev AS (
           SELECT user_id, ts, event_type, CAST(value AS DOUBLE) AS value,
                  user_id % 10 AS cohort
           FROM events WHERE user_id <= 300 AND value IS NOT NULL),
         last AS (
           SELECT user_id, event_type, value, cohort FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_type DESC, value DESC) AS rn
             FROM ev) WHERE rn = 1)
         SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total,
                count(DISTINCT cohort) AS cohorts
         FROM last GROUP BY 1 ORDER BY 1""",

    // s15: the captured UPDATE feed expressed relationally — preimage
    // rows verbatim, postimage rows with the assignments applied
    "s15_cow_update" ->
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 6000),
         m AS (
           SELECT * FROM b
           WHERE o_orderkey BETWEEN 1000 AND 2000 AND o_orderstatus = 'O')
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice, _change_type
         FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
                  'update_preimage' AS _change_type FROM m
           UNION ALL
           SELECT o_orderkey, 'U', o_totalprice + 1000,
                  'update_postimage' FROM m)
         ORDER BY o_orderkey, _change_type""",

    // p8: the z-ordered copy must answer exactly like the raw table
    "p8_zorder_scan" ->
      """SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 10 AND 150 AND l_suppkey BETWEEN 2 AND 8
         GROUP BY 1 ORDER BY 1""",

    // s8: the MERGE result expressed relationally — update rows win on
    // matched keys, base rows survive elsewhere
    "s8_merge_upsert" ->
      """WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 300),
         u AS (
           SELECT c_custkey, c_mktsegment, round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 200 AND 400)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
         FROM (SELECT * FROM u
               UNION ALL
               SELECT * FROM b
               WHERE c_custkey NOT IN (SELECT c_custkey FROM u))
         ORDER BY c_custkey""",

    // s35: replay v1 (the filtered load) and v2 (the s8-shape merge)
    // relationally, then the same NULL-safe multiset diff
    "s35_version_diff" ->
      """WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 10 < 6),
         u AS (
           SELECT c_custkey, c_mktsegment,
                  round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey % 10 BETWEEN 4 AND 7),
         v2 AS (SELECT * FROM u
                UNION ALL
                SELECT * FROM b
                WHERE c_custkey NOT IN (SELECT c_custkey FROM u)),
         ga AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                  CAST(count(*) AS BIGINT) AS n_before
                FROM b GROUP BY 1, 2, 3),
         gb AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                  CAST(count(*) AS BIGINT) AS n_after
                FROM v2 GROUP BY 1, 2, 3),
         d AS (
           SELECT coalesce(ga.c_custkey, gb.c_custkey) AS c_custkey,
                  coalesce(ga.c_mktsegment, gb.c_mktsegment) AS c_mktsegment,
                  coalesce(ga.c_acctbal, gb.c_acctbal) AS c_acctbal,
                  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
                  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
           FROM ga FULL OUTER JOIN gb
             ON ga.c_custkey IS NOT DISTINCT FROM gb.c_custkey
            AND ga.c_mktsegment IS NOT DISTINCT FROM gb.c_mktsegment
            AND ga.c_acctbal IS NOT DISTINCT FROM gb.c_acctbal)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
                n_before, n_after,
                CAST(n_after - n_before AS BIGINT) AS delta
         FROM d WHERE n_before <> n_after
         ORDER BY c_custkey, delta""",

    "e6_resample_ffill" ->
      """WITH b AS (
           SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE ts IS NOT NULL),
         spans AS (
           SELECT event_type, date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi
           FROM b GROUP BY 1),
         grid AS (
           SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
           FROM spans)
         SELECT g.event_type, CAST(epoch(g.gts) AS BIGINT) AS grid_ts,
                b.value AS last_value
         FROM grid g
         ASOF LEFT JOIN b ON g.event_type = b.event_type AND g.gts >= b.ts
         ORDER BY g.event_type, grid_ts""",

    // e14: bucket counts, the same 24-prior sliding frame, the identical
    // sample-variance z tree; the flag reads the ROUNDED z on both sides
    "e14_rolling_anomaly" ->
      """WITH counts AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    AS bucket_ts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         w AS (
           SELECT key, bucket_ts, c,
                  CAST(count(*) OVER win AS BIGINT) AS n,
                  CAST(coalesce(sum(c) OVER win, 0) AS BIGINT) AS s1,
                  CAST(coalesce(sum(c * c) OVER win, 0) AS BIGINT) AS s2
           FROM counts
           WINDOW win AS (PARTITION BY key ORDER BY bucket_ts
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT key, bucket_ts, c, n AS prior_n,
                  CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0
                       THEN round((CAST(c AS DOUBLE)
                                   - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                  / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                                         / CAST(n * (n - 1) AS DOUBLE)), 6)
                  END AS z
           FROM w)
         SELECT key, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts, c, prior_n, z,
                CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
         FROM z ORDER BY key, bucket_ts""",

    "j4_outer_join" ->
      """SELECT c_custkey, c_mktsegment,
                coalesce(o.n_orders, 0) AS n_orders
         FROM customer c
         LEFT OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                          FROM orders GROUP BY 1) o
           ON c.c_custkey = o.o_custkey
         ORDER BY c_custkey""",

    "u6_semi_anti" ->
      """SELECT s_suppkey, 'has_lineitems' AS relation FROM supplier
         WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
         UNION ALL
         SELECT s_suppkey, 'no_lineitems' AS relation FROM supplier
         WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
         ORDER BY relation, s_suppkey""",

    // salting must be output-invariant: the oracle is the PLAIN join
    "j3_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // j8: the bloom pre-filter must be output-invariant — oracle = the
    // plain join on the selective dim (false positives die in the join)
    "j8_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // j6: hot-key isolation must be output-invariant — oracle = plain join
    "j6_skew_isolated" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // p7: the oracle replays the dim filter and join over the ORIGINAL
    // events table — partitioning is a layout change, not a semantic one.
    // day_value*8 > max*7 compares exact decimals on both engines.
    "p7_partition_prune" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS event_date,
                           sum(CAST(value AS DECIMAL(18,2))) AS day_value
                    FROM events GROUP BY 1),
         dim AS (SELECT event_date FROM d
                 WHERE day_value * 8 > (SELECT max(day_value) FROM d) * 7)
         SELECT event_type, count(*) AS n_events,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
         FROM events JOIN dim ON CAST(ts AS DATE) = dim.event_date
         GROUP BY event_type ORDER BY event_type""",

    // j5: bucketing must be output-invariant — the oracle is the plain join
    "j5_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey""",

    // e8: first event per payload hash by (event time, id); ts compared at
    // the engine's microsecond precision on both sides
    "e8_stream_dedup_replay" ->
      """SELECT content_hash, CAST(epoch_us(ts) AS BIGINT) AS first_ts, event_id
         FROM (
           SELECT md5(props) AS content_hash, CAST(ts AS TIMESTAMP) AS ts, event_id,
                  row_number() OVER (PARTITION BY md5(props)
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY content_hash""",

    // e28: the doubled-unit reflection chain (the e15 machinery) replayed
    // relationally; the fold's final state per key is its last row, and
    // matches_e15 is TRUE by construction (both sides are the same
    // statistic — a diverging engine fold would mismatch the hash)
    "e28_stream_cusum_replay" ->
      """WITH b AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         ch AS (
           SELECT key, bts,
                  CAST(sum(2*c - 5) OVER (PARTITION BY key ORDER BY bts) AS BIGINT) AS p
           FROM b),
         st AS (
           SELECT key, bts, p,
                  CAST(least(0, min(p) OVER (PARTITION BY key ORDER BY bts)) AS BIGINT) AS pmin
           FROM ch)
         SELECT key, CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(max_by(p - pmin, bts) AS BIGINT) AS cusum2,
                max_by(p - pmin >= 40, bts) AS alarm_now,
                bool_or(p - pmin >= 40) AS alarmed_ever,
                TRUE AS matches_e15
         FROM st GROUP BY key ORDER BY key""",

    // e29: exact per-item truth + per-key totals; n_heavy_found is pinned
    // to the EXACT n_heavy_true (a lost guaranteed-heavy item would
    // mismatch), the guarantee booleans are TRUE by the MG invariant
    "e29_stream_hh_replay" ->
      """WITH kw AS (
           SELECT l_returnflag AS key,
                  CASE WHEN l_linenumber <= 3
                       THEN 'hot_' || CAST(l_orderkey % 2 AS VARCHAR)
                       ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) || '_'
                            || CAST(l_linenumber AS VARCHAR) END AS item,
                  CAST(l_quantity AS BIGINT) AS w
           FROM lineitem),
         tc AS (SELECT key, item, CAST(sum(w) AS BIGINT) AS truew
                FROM kw GROUP BY 1, 2),
         tot AS (SELECT key, CAST(sum(truew) AS BIGINT) AS processed
                 FROM tc GROUP BY 1)
         SELECT t.key, t.processed,
                CAST(count(*) FILTER (WHERE 5 * c.truew > t.processed) AS BIGINT)
                  AS n_heavy_true,
                CAST(count(*) FILTER (WHERE 5 * c.truew > t.processed) AS BIGINT)
                  AS n_heavy_found,
                TRUE AS all_bounds_hold, TRUE AS spill_ok, TRUE AS table_bounded
         FROM tot t JOIN tc c ON t.key = c.key
         GROUP BY t.key, t.processed ORDER BY t.key""",

    // e30: the look chain replayed relationally — cumulative exact totals
    // per day, the closed-form LLR with the SAME JVM-interpolated
    // constants, latched flags via bool_or over the chain
    "e30_stream_sprt_replay" -> {
      val c1 = math.log(0.22 / 0.18); val c0 = math.log(0.78 / 0.82)
      val up = math.log(0.95 / 0.05); val dn = math.log(0.05 / 0.95)
      s"""WITH lk AS (
           SELECT CASE WHEN user_id % 2 = 1 THEN 'odd' ELSE 'even' END AS key,
                  date_trunc('day', CAST(ts AS TIMESTAMP)) AS look,
                  CAST(count(*) AS BIGINT) AS t,
                  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         ch AS (
           SELECT key, look,
                  CAST(sum(t) OVER w AS BIGINT) AS n_cum,
                  CAST(sum(x) OVER w AS BIGINT) AS x_cum
           FROM lk WINDOW w AS (PARTITION BY key ORDER BY look)),
         ll AS (
           SELECT key, look, n_cum, x_cum,
                  CAST(x_cum AS DOUBLE) * ($c1)
                    + CAST(n_cum - x_cum AS DOUBLE) * ($c0) AS llr
           FROM ch)
         SELECT key, max_by(n_cum, look) AS n, max_by(x_cum, look) AS x,
                round(max_by(llr, look), 6) + 0.0 AS llr,
                bool_or(llr >= $up) AS crossed_up,
                bool_or(llr <= $dn) AS crossed_dn,
                CASE WHEN max_by(llr, look) >= $up THEN 'accept_h1'
                     WHEN max_by(llr, look) <= $dn THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM ll GROUP BY key ORDER BY key"""
    },

    // e7: d8's signature CTE + band keys; the OR-join emits one row per
    // colliding pair, which is exactly the owning-band single emission; the
    // pair survives only if its OWNING band's bucket is within the cap
    "e7_stream_neardup_replay" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         bk AS (SELECT *, m0||m1 AS b0, m2||m3 AS b1, m4||m5 AS b2, m6||m7 AS b3
                FROM sig),
         bkl AS (SELECT doc_id, 0 AS band, b0 AS key FROM bk
                 UNION ALL SELECT doc_id, 1, b1 FROM bk
                 UNION ALL SELECT doc_id, 2, b2 FROM bk
                 UNION ALL SELECT doc_id, 3, b3 FROM bk),
         cnt AS (SELECT band, key, count(*) AS c FROM bkl GROUP BY 1, 2),
         pairs AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS dup_of,
                  (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                  (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                  (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree,
                  CASE WHEN a.b0=b.b0 THEN 0 WHEN a.b1=b.b1 THEN 1
                       WHEN a.b2=b.b2 THEN 2 ELSE 3 END AS oband,
                  CASE WHEN a.b0=b.b0 THEN a.b0 WHEN a.b1=b.b1 THEN a.b1
                       WHEN a.b2=b.b2 THEN a.b2 ELSE a.b3 END AS okey
           FROM bk a JOIN bk b ON a.doc_id < b.doc_id
             AND (a.b0=b.b0 OR a.b1=b.b1 OR a.b2=b.b2 OR a.b3=b.b3))
         SELECT doc_id, dup_of, agree FROM pairs
         JOIN cnt ON cnt.band = pairs.oband AND cnt.key = pairs.okey
         WHERE agree >= 6 AND cnt.c <= 50
         ORDER BY doc_id, dup_of""",

    // CAST(ts AS TIMESTAMP) truncates DuckDB's ns-precision read to the same
    // microsecond precision the engine's events table normalizes to
    "e5_attributed_join" ->
      """SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
                l.value AS l_value, r.value AS r_value
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'view') l
         JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
         ORDER BY l_event_id, r_event_id""",

    // e13: the same join LEFT OUTER — unconverted views keep null r_*
    "e13_attributed_outer" ->
      """SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
                l.value AS l_value, r.value AS r_value
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'view') l
         LEFT JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
         ORDER BY l_event_id, r_event_id""",

    "p5_pivot" ->
      """SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 2) AS F,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 2) AS O
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "p6_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                CAST(l_quantity AS DOUBLE) AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
         ORDER BY l_orderkey, l_linenumber, measure""",

    // DuckDB list_dot_product reproduces the engine's sequential-sum double
    // accumulation bit-for-bit (verified), so exact ANN ranks are comparable
    "n1_ann_topk" ->
      """WITH uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, uvec AS qu FROM u WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, c.vec_id AS corpus_id, list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // n13: the n1 CTEs with the label-mismatch filter before ranking
    "n13_hard_negatives" ->
      """WITH uv AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE label IS NOT NULL),
         nr AS (SELECT vec_id, label, v,
                  sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                 list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, label AS query_label, uvec AS qu
               FROM u WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, q.query_label, c.vec_id AS corpus_id,
                  c.label AS neg_label, list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.label != q.query_label),
         ranked AS (
           SELECT query_id, query_label, corpus_id, neg_label,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, query_label, corpus_id, neg_label, "rank"
         FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // n12: the n1 truth CTEs + the n5 IVF CTEs + the relational eval join
    "n12_ann_recall" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, uvec AS qu FROM u WHERE vec_id < 8),
         scored_t AS (
           SELECT q.query_id, c.vec_id AS corpus_id,
                  list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked_t AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_t),
         ca AS (
           SELECT vec_id, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, uvec, cid AS centroid_id FROM ca WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, uvec AS qu, cid AS centroid_id
                    FROM ca WHERE vec_id < 8 AND rn <= 3),
         scored_a AS (
           SELECT p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked_a AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_a),
         tt AS (SELECT query_id AS q, corpus_id AS c, rnk AS tr
                FROM ranked_t WHERE rnk <= 5),
         aa AS (SELECT query_id AS q, corpus_id AS c, rnk AS ar
                FROM ranked_a WHERE rnk <= 5),
         j AS (SELECT tt.q, tt.tr, aa.ar FROM tt
               LEFT JOIN aa ON aa.q = tt.q AND aa.c = tt.c),
         g AS (SELECT q, CAST(count(*) AS BIGINT) AS truth_k,
                      CAST(sum(CASE WHEN ar IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                      max(CASE WHEN tr = 1 THEN ar END) AS nn
               FROM j GROUP BY q)
         SELECT q AS query_id, truth_k, hits,
                round(CAST(hits AS DOUBLE) / CAST(truth_k AS DOUBLE), 6)
                  AS recall,
                coalesce(round(1.0 / CAST(nn AS DOUBLE), 6), 0.0) AS rr
         FROM g ORDER BY query_id""",

    // n17: the n12 CTEs swept over np in {1,2,3} (probes rn <= np)
    "n17_probe_sweep" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         sweep AS (SELECT unnest([1, 2, 3]) AS np),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, uvec AS qu FROM u WHERE vec_id < 8),
         scored_t AS (
           SELECT q.query_id, c.vec_id AS corpus_id,
                  list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked_t AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_t),
         ca AS (
           SELECT vec_id, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, uvec, cid AS centroid_id
                      FROM ca WHERE rn = 1),
         probes AS (SELECT s.np, vec_id AS query_id, uvec AS qu,
                      cid AS centroid_id
                    FROM ca CROSS JOIN sweep s
                    WHERE vec_id < 8 AND rn <= s.np),
         scored_a AS (
           SELECT p.np, p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked_a AS (
           SELECT np, query_id, corpus_id,
                  row_number() OVER (PARTITION BY np, query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_a),
         tt AS (SELECT query_id AS q, corpus_id AS c, rnk AS tr
                FROM ranked_t WHERE rnk <= 5),
         aa AS (SELECT np, query_id AS q, corpus_id AS c, rnk AS ar
                FROM ranked_a WHERE rnk <= 5),
         j AS (SELECT s.np, tt.q, tt.tr, aa.ar
               FROM tt CROSS JOIN sweep s
               LEFT JOIN aa ON aa.np = s.np AND aa.q = tt.q AND aa.c = tt.c),
         g AS (SELECT np, q, CAST(count(*) AS BIGINT) AS truth_k,
                      CAST(sum(CASE WHEN ar IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                      max(CASE WHEN tr = 1 THEN ar END) AS nn
               FROM j GROUP BY np, q)
         SELECT CAST(np AS BIGINT) AS n_probe, q AS query_id, truth_k, hits,
                round(CAST(hits AS DOUBLE) / CAST(truth_k AS DOUBLE), 6)
                  AS recall,
                coalesce(round(1.0 / CAST(nn AS DOUBLE), 6), 0.0) AS rr
         FROM g ORDER BY n_probe, query_id""",

    // n14: the n1 truth CTEs + the prefix-16-dim twin (normalized ON the
    // prefix) + the n12 eval join
    "n14_trunc_eval" ->
      """WITH uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, uvec AS qu FROM u WHERE vec_id < 8),
         scored_t AS (
           SELECT q.query_id, c.vec_id AS corpus_id,
                  list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked_t AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_t),
         nr16 AS (SELECT vec_id, v[1:16] AS v16,
                    sqrt(list_dot_product(v[1:16], v[1:16])) AS nrm FROM uv),
         u16 AS (SELECT vec_id, list_transform(v16, x -> x / nrm) AS uvec
                 FROM nr16 WHERE nrm > 0),
         q16 AS (SELECT vec_id AS query_id, uvec AS qu FROM u16
                 WHERE vec_id < 8),
         scored_a AS (
           SELECT q16.query_id, c.vec_id AS corpus_id,
                  list_dot_product(c.uvec, q16.qu) AS cos
           FROM u16 c CROSS JOIN q16 WHERE c.vec_id != q16.query_id),
         ranked_a AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rnk
           FROM scored_a),
         tt AS (SELECT query_id AS q, corpus_id AS c, rnk AS tr
                FROM ranked_t WHERE rnk <= 5),
         aa AS (SELECT query_id AS q, corpus_id AS c, rnk AS ar
                FROM ranked_a WHERE rnk <= 5),
         j AS (SELECT tt.q, tt.tr, aa.ar FROM tt
               LEFT JOIN aa ON aa.q = tt.q AND aa.c = tt.c),
         g AS (SELECT q, CAST(count(*) AS BIGINT) AS truth_k,
                      CAST(sum(CASE WHEN ar IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                      max(CASE WHEN tr = 1 THEN ar END) AS nn
               FROM j GROUP BY q)
         SELECT q AS query_id, truth_k, hits,
                round(CAST(hits AS DOUBLE) / CAST(truth_k AS DOUBLE), 6)
                  AS recall,
                coalesce(round(1.0 / CAST(nn AS DOUBLE), 6), 0.0) AS rr
         FROM g ORDER BY query_id""",

    // n10: the candidate pool (top-24 by rel, the n1 dot-product doctrine)
    // and ALL 8 greedy MMR steps as chained argmax CTEs — step t excludes
    // prior picks and scores 0.5·rel − 0.5·greatest(sims to them); ties
    // break to the smallest id on both sides
    "n10_mmr_rerank" -> {
      val prelude =
        """WITH uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT uvec AS qu FROM u WHERE vec_id = 0),
         sc AS (SELECT c.vec_id AS id, c.uvec AS w,
                  list_dot_product(c.uvec, q.qu) AS rel
                FROM u c, q WHERE c.vec_id != 0),
         cand AS (SELECT * FROM sc ORDER BY rel DESC, id LIMIT 24)"""
      val steps = (1 to 8).map { t =>
        if (t == 1)
          "p1 AS (SELECT id, w, rel, 0.5 * rel - 0.5 * 0.0 AS mmr FROM cand " +
            "ORDER BY mmr DESC, id LIMIT 1)"
        else {
          val prev = (1 until t).map(j => s"p$j")
          val sims = prev.map(p => s"list_dot_product(c.w, $p.w)")
          val maxSim = if (sims.size == 1) sims.head
            else s"greatest(${sims.mkString(", ")})"
          s"p$t AS (SELECT c.id, c.w, c.rel, 0.5 * c.rel - 0.5 * $maxSim AS mmr " +
            s"FROM cand c, ${prev.mkString(", ")} " +
            s"WHERE c.id NOT IN (${prev.map(p => s"$p.id").mkString(", ")}) " +
            "ORDER BY mmr DESC, c.id LIMIT 1)"
        }
      }
      val sel = (1 to 8).map(t =>
        s"SELECT $t AS pick, id AS corpus_id, round(mmr, 6) AS mmr FROM p$t")
        .mkString(" UNION ALL ")
      prelude + ",\n" + steps.mkString(",\n") + "\n" + sel + " ORDER BY pick"
    },

    // n5: IVF probe with literal centroids — assignment (argmax dot with
    // cid tie-break), nProbe=3 probe join, per-query rank. Rank-only output
    // (like n1): ordering needs bit-identical dots, which sequential
    // list_dot_product over the same doubles provides.
    "n5_ivf_probe" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec FROM nr WHERE nrm > 0),
         ca AS (
           SELECT vec_id, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, uvec, cid AS centroid_id FROM ca WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, uvec AS qu, cid AS centroid_id
                    FROM ca WHERE vec_id < 8 AND rn <= 3),
         scored AS (
           SELECT p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // n24: the augmented-space replay — M from the norm max, corpus
    // augmented with √(M²−|x|²), queries with 0, then the n5 chain over
    // the 65-dim fixed centroids
    "n24_mips" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $mipsCentroidValues) t(cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nn AS (SELECT vec_id, v, list_dot_product(v, v) AS nsq FROM uv),
         mrow AS (SELECT max(sqrt(nsq)) AS mm FROM nn),
         aug AS (
           SELECT vec_id,
                  list_concat(v, [sqrt(greatest(0.0, mm * mm - nsq))]) AS va
           FROM nn, mrow),
         nr AS (SELECT vec_id, va, sqrt(list_dot_product(va, va)) AS nrm
                FROM aug),
         u AS (SELECT vec_id, list_transform(va, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         ca AS (
           SELECT vec_id, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, uvec, cid AS centroid_id FROM ca WHERE rn = 1),
         qa AS (SELECT vec_id, list_concat(v, [0.0]) AS va FROM nn
                WHERE vec_id < 8),
         qr AS (SELECT vec_id, va, sqrt(list_dot_product(va, va)) AS nrm
                FROM qa),
         qu AS (SELECT vec_id, list_transform(va, x -> x / nrm) AS uvec
                FROM qr WHERE nrm > 0),
         qc AS (
           SELECT vec_id, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM qu CROSS JOIN cents),
         probes AS (SELECT vec_id AS query_id, uvec AS qu, cid AS centroid_id
                    FROM qc WHERE rn <= 3),
         scored AS (
           SELECT p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // n23: the n5 chain with the label predicate on the CORPUS side of
    // the probe join (queries stay unfiltered)
    "n23_filtered_ann" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         uv AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, label, v,
                  sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, label, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         ca AS (
           SELECT vec_id, label, uvec, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, uvec, cid AS centroid_id FROM ca
                      WHERE rn = 1 AND label % 2 = 0),
         probes AS (SELECT vec_id AS query_id, uvec AS qu, cid AS centroid_id
                    FROM ca WHERE vec_id < 8 AND rn <= 3),
         scored AS (
           SELECT p.query_id, a.vec_id AS corpus_id,
                  list_dot_product(a.uvec, p.qu) AS cos
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS "rank"
           FROM scored)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // PQ+ADC replay: codes assigned by the same 2·dot − ‖c‖² argmax (dot
    // products are left-to-right in both engines), per-query LUT rows are
    // the same scored_cents values, and the cross-subspace score is the
    // explicit s0+s1+s2+s3 sum — identical FP association to the Spark side
    "n6_pq_probe" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $pqCodebookValues) t(m, cid, cvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         scored_cents AS (
           SELECT u.vec_id, c.m, c.cid,
                  2.0 * list_dot_product(
                    list_slice(u.v, c.m * 16 + 1, c.m * 16 + 16), c.cvec)
                    - list_dot_product(c.cvec, c.cvec) AS s
           FROM uv u CROSS JOIN cents c),
         codes AS (
           SELECT vec_id, m, cid AS code
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY s DESC, cid) AS rn FROM scored_cents)
           WHERE rn = 1),
         qlut AS (
           SELECT vec_id AS query_id, m, cid, s
           FROM scored_cents WHERE vec_id < 8),
         pair_scores AS (
           SELECT q.query_id, c.vec_id AS corpus_id, c.m, q.s
           FROM codes c JOIN qlut q ON q.m = c.m AND q.cid = c.code
           WHERE c.vec_id != q.query_id),
         adc AS (
           SELECT query_id, corpus_id,
                  max(s) FILTER (WHERE m = 0) + max(s) FILTER (WHERE m = 1)
                + max(s) FILTER (WHERE m = 2) + max(s) FILTER (WHERE m = 3) AS score
           FROM pair_scores GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS "rank"
           FROM adc)
         SELECT query_id, corpus_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",


    // n21: n5's unit coarse-assign chain composed with n6's code/LUT
    // chain — candidates come from the probe⋈cell equi-join, ADC is the
    // same explicit 4-term sum
    "n21_ivfpq" ->
      s"""WITH cents AS (
           SELECT * FROM (VALUES $ivfCentroidValues) t(cid, cvec)),
         pq AS (
           SELECT * FROM (VALUES $pqCodebookValues) t(m, pcid, pcvec)),
         uv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         ca AS (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_dot_product(uvec, cvec) DESC, cid) AS rn
           FROM u CROSS JOIN cents),
         assigned AS (SELECT vec_id, cid AS centroid_id FROM ca WHERE rn = 1),
         scored_cents AS (
           SELECT w.vec_id, p.m, p.pcid,
                  2.0 * list_dot_product(
                    list_slice(w.v, p.m * 16 + 1, p.m * 16 + 16), p.pcvec)
                    - list_dot_product(p.pcvec, p.pcvec) AS s
           FROM uv w CROSS JOIN pq p),
         codes AS (
           SELECT vec_id, m, pcid AS code
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY s DESC, pcid) AS rn FROM scored_cents)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS centroid_id
                    FROM ca WHERE vec_id < 8 AND rn <= 3),
         qlut AS (
           SELECT vec_id AS query_id, m, pcid, s
           FROM scored_cents WHERE vec_id < 8),
         cand AS (
           SELECT p.query_id, a.vec_id AS corpus_id, a.centroid_id
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id != p.query_id),
         pair_scores AS (
           SELECT cd.query_id, cd.corpus_id, cd.centroid_id, c.m, q.s
           FROM cand cd
           JOIN codes c ON c.vec_id = cd.corpus_id
           JOIN qlut q ON q.query_id = cd.query_id AND q.m = c.m
             AND q.pcid = c.code),
         adc AS (
           SELECT query_id, corpus_id, centroid_id,
                  max(s) FILTER (WHERE m = 0) + max(s) FILTER (WHERE m = 1)
                + max(s) FILTER (WHERE m = 2) + max(s) FILTER (WHERE m = 3)
                  AS score
           FROM pair_scores GROUP BY 1, 2, 3),
         ranked AS (
           SELECT query_id, corpus_id, CAST(centroid_id AS BIGINT) AS centroid_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS "rank"
           FROM adc)
         SELECT query_id, centroid_id, corpus_id, "rank"
         FROM ranked WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    "r8_roc_empirical" ->
      """WITH pts AS (
           SELECT c_acctbal AS threshold,
                  count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS np,
                  count(*) FILTER (WHERE c_mktsegment != 'BUILDING') AS nn
           FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
         curve AS (
           SELECT threshold, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
           FROM pts WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
         curve2 AS (
           SELECT *, coalesce(lag(tp) OVER (ORDER BY threshold DESC), 0) AS tp_prev,
                     coalesce(lag(fp) OVER (ORDER BY threshold DESC), 0) AS fp_prev
           FROM curve),
         tot AS (SELECT max(tp) AS p, max(fp) AS n FROM curve),
         best AS (
           SELECT c.threshold AS best_t,
                  CAST(c.tp AS DOUBLE) / t.p - CAST(c.fp AS DOUBLE) / t.n AS best_j
           FROM curve2 c CROSS JOIN tot t
           ORDER BY best_j DESC, c.threshold DESC LIMIT 1)
         SELECT round(CAST(sum((c.fp - c.fp_prev) * (c.tp + c.tp_prev)) AS DOUBLE)
                      / (2.0 * max(t.p) * max(t.n)), 6) AS auc,
                round(max(b.best_j), 6) AS youden_j,
                max(b.best_t) AS threshold,
                CAST(max(t.p) AS BIGINT) AS n_pos, CAST(max(t.n) AS BIGINT) AS n_neg
         FROM curve2 c CROSS JOIN tot t CROSS JOIN best b""",

    // m3: the literal tree is the same nested comparison chain as the Spark
    // when-compile (CASE WHEN), and AUC is r8's exact-integer trapezoid over
    // the 4 leaf scores — the ML inference path fully replayed
    "m3_tree_score" ->
      """WITH scored AS (
           SELECT (o_orderstatus = 'F') AS lbl,
                  CASE WHEN o_totalprice <= 150000.0 THEN
                    CASE WHEN (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) <= 0.5
                         THEN 0.35 ELSE 0.65 END
                  ELSE
                    CASE WHEN CAST(year(o_orderdate) AS DOUBLE) <= 1995.5
                         THEN 0.55 ELSE 0.25 END
                  END AS score
           FROM orders),
         acc AS (
           SELECT count(*) AS n,
                  round(avg(CASE WHEN (score >= 0.5) = lbl THEN 1.0 ELSE 0.0 END), 6) AS accuracy
           FROM scored),
         pts AS (
           SELECT score AS threshold,
                  count(*) FILTER (WHERE lbl) AS np,
                  count(*) FILTER (WHERE NOT lbl) AS nn
           FROM scored GROUP BY 1),
         curve AS (
           SELECT threshold, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
           FROM pts WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
         curve2 AS (
           SELECT *, coalesce(lag(tp) OVER (ORDER BY threshold DESC), 0) AS tp_prev,
                     coalesce(lag(fp) OVER (ORDER BY threshold DESC), 0) AS fp_prev
           FROM curve),
         roc AS (
           SELECT round(CAST(sum((fp - fp_prev) * (tp + tp_prev)) AS DOUBLE)
                        / (2.0 * max(tp) * max(fp)), 6) AS auc,
                  CAST(max(tp) AS BIGINT) AS n_pos, CAST(max(fp) AS BIGINT) AS n_neg
           FROM curve2)
         SELECT acc.n, acc.accuracy, roc.auc, roc.n_pos, roc.n_neg
         FROM acc CROSS JOIN roc""",

    // replicates Roc.empiricalCostThresholdDF: scaled integer cost
    // rhoNum·(P−tp)·N + (rhoDen−rhoNum)·fp·P ranks exactly in both engines;
    // argmin ties break on the smaller midpoint (min-struct ≡ ORDER BY LIMIT 1)
    "r4_roc_threshold" ->
      """WITH pts AS (
           SELECT CAST(c_acctbal AS DOUBLE) AS v,
                  count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS np,
                  count(*) FILTER (WHERE c_mktsegment != 'BUILDING') AS nn
           FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
         curve AS (
           SELECT v, sum(np) OVER w AS tp_ge, sum(nn) OVER w AS fp_ge
           FROM pts WINDOW w AS (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT max(tp_ge) AS p, max(fp_ge) AS n FROM curve),
         cand AS (
           SELECT (v + lead(v) OVER a) / 2 AS m,
                  lead(tp_ge) OVER a AS tpc, lead(fp_ge) OVER a AS fpc
           FROM curve WINDOW a AS (ORDER BY v ASC)),
         scored AS (
           SELECT c.m, 1 * (t.p - c.tpc) * t.n + 99 * c.fpc * t.p AS icost, t.p, t.n
           FROM cand c CROSS JOIN tot t WHERE c.m IS NOT NULL)
         SELECT m AS threshold,
                round(CAST(icost AS DOUBLE) / (100.0 * p * n), 6) AS cost,
                CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg
         FROM scored ORDER BY icost, m LIMIT 1""",

    // md5 hex digests and their lexicographic min are engine-independent;
    // shingle extraction is code-point based in both engines
    "t4_fingerprint" ->
      """SELECT doc_id,
                CASE WHEN length(text) < 16 THEN md5(text)
                     ELSE list_min(list_transform(
                            generate_series(1, length(text) - 15),
                            i -> md5(substring(text, i, 16)))) END AS fp_md5
         FROM documents ORDER BY doc_id""",

    "t5_pii_redact" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
                     CAST(doc_id % 200 AS VARCHAR) || '.7 ssn 123-45-6789 tel +1 555 867 5309',
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    "t6_repetition" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS tok
           FROM documents),
         pertok AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio,
                round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_ratio
         FROM pertok GROUP BY doc_id ORDER BY doc_id""",

    "d6_boilerplate_ngrams" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 5 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 4),
                              i -> array_to_string(tk[i:i+4], ' '))) END AS s
           FROM toks),
         ng AS (SELECT unnest(s) AS ngram FROM sh)
         SELECT ngram, count(*) AS n_docs FROM ng GROUP BY 1
         HAVING count(*) >= 3 ORDER BY n_docs DESC, ngram""",

    "u5_intersect_except" ->
      """SELECT nationkey, 'both' AS relation
         FROM (SELECT c_nationkey AS nationkey FROM customer
               INTERSECT SELECT s_nationkey FROM supplier)
         UNION ALL
         SELECT nationkey, 'cust_only' AS relation
         FROM (SELECT c_nationkey AS nationkey FROM customer
               EXCEPT SELECT s_nationkey FROM supplier)
         ORDER BY relation, nationkey""",

    "t15_string_funcs" ->
      """SELECT c_custkey,
           upper(c_name) AS u,
           translate(c_name, '#0', '_x') AS tr,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS lp,
           reverse(c_name) AS rev,
           levenshtein(c_name, 'Customer#000000001') AS lev,
           substring(c_name, 10, 5) AS sub5,
           concat_ws('|', c_mktsegment, c_name) AS cw
         FROM customer ORDER BY c_custkey""",

    // identical numeric RANGE frame: epoch micros both sides (nanos are
    // micro-aligned in the testdata — the e3 ASOF oracle relies on this too)
    // w6: the GROUPS frame realized as an integer RANGE over the gapless
    // dense_rank on BOTH engines (DuckDB 1.0 has no GROUPS mode), but the
    // EXCLUDE clauses run on DuckDB's NATIVE frame-exclusion machinery vs
    // Spark's guarded DECIMAL subtractions — independent implementations of
    // the SQL:2016 exclusion semantics on the two sides of the hash
    "w6_groups_window" ->
      """WITH c AS (
           SELECT c_mktsegment, c_custkey, round(c_acctbal, -2) + 0.0 AS v,
                  CAST(c_acctbal AS DECIMAL(18,2)) AS vd
           FROM customer),
         g AS (
           SELECT *, CAST(dense_rank()
             OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS grp
           FROM c),
         w AS (
           SELECT c_mktsegment, c_custkey, v, grp,
                  count(*) OVER (o RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS cnt_g,
                  round(CAST(sum(vd) OVER (o RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                        AS DOUBLE), 2) AS sum_g,
                  round(CAST(sum(vd) OVER (o RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                        EXCLUDE GROUP) AS DOUBLE), 2) AS sum_xgrp,
                  round(CAST(sum(vd) OVER (o RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                        EXCLUDE CURRENT ROW) AS DOUBLE), 2) AS sum_xrow,
                  round(CAST(sum(vd) OVER (o RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                        EXCLUDE TIES) AS DOUBLE), 2) AS sum_xties
           FROM g WINDOW o AS (PARTITION BY c_mktsegment ORDER BY grp))
         SELECT * FROM w WHERE c_custkey <= 1500
         ORDER BY c_mktsegment, c_custkey""",

    "w5_range_window" ->
      """SELECT user_id, event_id,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS sum_1h
         FROM events
         WHERE user_id < 30
         ORDER BY user_id, event_id""",

    // moving DECIMAL sum (exact, order-proof) / frame count; running max
    // and lag diff are order-independent / row-local — same frame specs
    "w4_moving_window" ->
      """SELECT user_id, event_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mavg_5,
           round(CAST(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS run_max,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS diff_prev
         FROM events
         WHERE user_id < 50
         ORDER BY user_id, event_id""",

    "w3_window_rank" ->
      """WITH w3 AS (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER w AS rn,
                  ntile(4) OVER w AS quartile,
                  round(percent_rank() OVER w, 6) AS pct_rank,
                  round(cume_dist() OVER w, 6) AS cume,
                  lag(o_orderkey, 1) OVER w AS prev_key,
                  lead(o_orderkey, 1) OVER w AS next_key
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
         SELECT * FROM w3 WHERE rn <= 20 ORDER BY o_orderpriority, rn""",

    // w7: the heap aggregate must equal the window formulation — identical
    // (price desc, key asc) tiebreak, rank from heap order
    "w7_group_topk" ->
      """WITH r AS (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders)
         SELECT o_orderstatus, rnk, o_orderkey, o_totalprice AS price
         FROM r WHERE rnk <= 10
         ORDER BY o_orderstatus, rnk""",

    // w8: identical rank-family window functions on the same tie-free
    // (price, key) order, aggregated to the quartile frame
    "w8_rank_funcs" ->
      """WITH r AS (
           SELECT o_orderpriority,
                  ntile(4) OVER w AS quartile,
                  percent_rank() OVER w AS pr,
                  cume_dist() OVER w AS cd
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
           WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey))
         SELECT o_orderpriority, CAST(quartile AS BIGINT) AS quartile,
                CAST(count(*) AS BIGINT) AS n,
                round(min(pr), 6) AS min_pr,
                round(max(cd), 6) AS max_cd
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    // m8: the identical one-division integer form (y_c·N + m·Y) / (N·(n_c+m))
    "m8_target_encode" ->
      """WITH base AS (
           SELECT CAST(l_suppkey AS VARCHAR) AS cat,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem
           WHERE l_suppkey IS NOT NULL AND l_returnflag IS NOT NULL),
         pc AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS y_sum FROM base GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS big_n,
                 CAST(sum(y) AS BIGINT) AS big_y FROM base)
         SELECT cat, n, y_sum,
                round(CAST(CAST(y_sum AS HUGEINT) * big_n + 10 * big_y AS DOUBLE)
                      / CAST(CAST(big_n AS HUGEINT) * (n + 10) AS DOUBLE), 6)
                  AS enc
         FROM pc, g ORDER BY cat""",

    // m20: per-category good/bad counts, Haldane WoE/contrib trees, IV
    // running chain over the 5-row priority frame
    "m20_woe_iv" ->
      """WITH base AS (
           SELECT CAST(o_orderpriority AS VARCHAR) AS cat,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
           FROM orders
           WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
         pc AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(1 - y) AS BIGINT) AS n_good,
                  CAST(sum(y) AS BIGINT) AS n_bad FROM base GROUP BY 1),
         g AS (SELECT CAST(sum(1 - y) AS BIGINT) AS big_g,
                 CAST(sum(y) AS BIGINT) AS big_b FROM base),
         c AS (SELECT cat, n, n_good, n_bad,
                 ln(((CAST(n_good AS DOUBLE) + 0.5) / CAST(big_g AS DOUBLE))
                    / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(big_b AS DOUBLE)))
                   AS woe,
                 ((CAST(n_good AS DOUBLE) + 0.5) / CAST(big_g AS DOUBLE)
                   - (CAST(n_bad AS DOUBLE) + 0.5) / CAST(big_b AS DOUBLE))
                 * ln(((CAST(n_good AS DOUBLE) + 0.5) / CAST(big_g AS DOUBLE))
                      / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(big_b AS DOUBLE)))
                   AS contrib
               FROM pc, g)
         SELECT cat, n, n_good, n_bad, round(woe, 6) AS woe,
                round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (ORDER BY cat
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS iv_run
         FROM c ORDER BY cat""",

    // m9: the identical hex-digit fold rule; NULL status stays NULL so
    // the positive sum skips it on both sides
    "m9_kfold" ->
      """WITH f AS (
           SELECT (instr('0123456789abcdef',
                     substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % 4
                    AS fold,
                  CASE WHEN o_orderstatus IS NULL THEN NULL
                       WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS isf
           FROM orders)
         SELECT CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(isf) AS BIGINT) AS n_f,
                round(CAST(sum(isf) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                  AS f_rate
         FROM f GROUP BY 1 ORDER BY 1""",

    // e19: the same (ts, id)-ordered lead gaps, HUGEINT weighted sum,
    // one division per (type, day)
    "e19_twap" ->
      """WITH base AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day, ts,
                  event_id AS id,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
         g AS (SELECT key, day, vc,
                 epoch_us(lead(ts, 1) OVER (PARTITION BY key, day
                   ORDER BY ts, id)) - epoch_us(ts) AS gap
               FROM base)
         SELECT key, CAST(day AS VARCHAR) AS day,
                CAST(count(*) AS BIGINT) AS n_gaps,
                round(CAST(sum(CAST(vc AS HUGEINT) * gap) AS DOUBLE)
                      / CAST(sum(gap) AS DOUBLE) / 100.0, 6) AS twap
         FROM g WHERE gap IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""",

    "r5_assoc_rules" ->
      """WITH flags AS (
           SELECT (l_returnflag = 'R') AS f0,
                  (l_quantity > 25) AS f1,
                  (l_discount >= 0.05) AS f2,
                  (l_tax > 0) AS f3,
                  (l_extendedprice > 50000) AS f4
           FROM lineitem),
         baskets AS (
           SELECT (CASE WHEN f0 THEN 1 ELSE 0 END
                 + CASE WHEN f1 THEN 2 ELSE 0 END
                 + CASE WHEN f2 THEN 4 ELSE 0 END
                 + CASE WHEN f3 THEN 8 ELSE 0 END
                 + CASE WHEN f4 THEN 16 ELSE 0 END) AS mask,
                  count(*) AS cnt
           FROM flags GROUP BY 1),
         tot AS (SELECT sum(cnt) AS n FROM baskets),
         freq AS (
           SELECT s.range AS m,
                  (SELECT sum(b.cnt) FROM baskets b WHERE (b.mask & s.range) = s.range) AS f
           FROM range(1, 32) s),
         items(b, name) AS (VALUES (0, 'is_return'), (1, 'high_qty'),
                                   (2, 'discounted'), (3, 'taxed'), (4, 'big_order')),
         rules AS (
           SELECT z.m AS zm, i.b AS cb, i.name AS consequent,
                  z.f AS fz, fa.f AS fa_, fc.f AS fc_
           FROM freq z
           JOIN items i ON ((z.m >> i.b) & 1) = 1 AND z.m != (1 << i.b)
           JOIN freq fa ON fa.m = (z.m & ~(1 << i.b))
           JOIN freq fc ON fc.m = (1 << i.b)
           CROSS JOIN tot
           WHERE bit_count(z.m) BETWEEN 2 AND 5
             AND CAST(z.f AS DOUBLE) / tot.n >= 0.05
             AND CAST(z.f AS DOUBLE) / fa.f >= 0.3
             AND (CAST(z.f AS DOUBLE) / fa.f) / (CAST(fc.f AS DOUBLE) / tot.n) > 0.0)
         SELECT
           (SELECT string_agg(it.name, ',' ORDER BY it.name) FROM items it
             WHERE ((r.zm & ~(1 << r.cb)) >> it.b) & 1 = 1) AS antecedent,
           r.consequent,
           round(CAST(r.fz AS DOUBLE) / tot.n, 6) AS support,
           round(CAST(r.fz AS DOUBLE) / r.fa_, 6) AS confidence,
           round((CAST(r.fz AS DOUBLE) / r.fa_) / (CAST(r.fc_ AS DOUBLE) / tot.n), 6) AS lift
         FROM rules r CROSS JOIN tot
         ORDER BY antecedent, consequent""",

    "r6_bh" ->
      """WITH ps AS (
           SELECT o_orderpriority AS stratum,
                  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                    / count(*) / 3 AS p
           FROM orders GROUP BY 1),
         ranked AS (
           SELECT stratum, p, row_number() OVER (ORDER BY p) AS rk,
                  count(*) OVER () AS n
           FROM ps),
         k AS (SELECT coalesce(max(rk), 0) AS khat FROM ranked WHERE p <= 0.05 * rk / n)
         SELECT stratum, p AS p_value,
                (p <= 0.05 * (SELECT khat FROM k) / (SELECT max(n) FROM ranked)) AS bh_reject
         FROM ps ORDER BY stratum""",

    "e2_sessionize" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    "e4_json_extract" ->
      """SELECT json_extract_string(props, '$.k') AS k_value, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "e3_asof_join" ->
      """SELECT c.user_id, c.event_id, e.event_id AS error_event_id
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN
              (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e
           ON c.user_id = e.user_id AND c.ts >= e.ts
         ORDER BY c.event_id""",

    "t1_langid" ->
      """WITH scored AS (
           SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
                  text FROM documents),
         s2 AS (
           SELECT text,
             len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','que','pour','dans','des'], t))) AS s_fr,
             len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','que','por','con','para'], t))) AS s_es
           FROM scored),
         lp AS (
           SELECT CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
                       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
                       ELSE 'unknown' END AS lang_pred
           FROM s2)
         SELECT lang_pred, count(*) AS n FROM lp GROUP BY 1 ORDER BY 1""",

    "t2_quality_score" ->
      """WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base)
         SELECT doc_id,
           least(ntok / 20.0, 1.0) * 0.4 +
           greatest(1.0 - pr * 4, 0.0) * 0.3 +
           least(sr * 5, 1.0) * 0.2 +
           (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
         FROM parts ORDER BY doc_id""",

    "t3_token_count" ->
      """SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS n_tokens,
           length(text) AS len_chars
         FROM documents ORDER BY doc_id""",

    // t19: t3's tokenization + regex run counts, the identical fixed tree
    "t19_readability" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '')) AS BIGINT) AS words,
                  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
                  CAST(greatest(len(regexp_extract_all(lower(text),
                      '[aeiouy]+')),
                    len(list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x != ''))) AS BIGINT) AS syllables
           FROM documents)
         SELECT doc_id, words, sentences, syllables,
                CASE WHEN words > 0
                     THEN round(206.835
                       - 1.015 * (CAST(words AS DOUBLE)
                                  / CAST(sentences AS DOUBLE))
                       - 84.6 * (CAST(syllables AS DOUBLE)
                                 / CAST(words AS DOUBLE)), 3)
                END AS flesch
         FROM c ORDER BY doc_id""",

    // the e2e chain reuses the PROVEN per-stage replays: t2's quality
    // formula, d1's min-id-per-md5 dedup, s3's 4-nibble hash threshold
    // (0.5 → '8000'), t3's tokenization; avg rounds at 6 like t11
    "t14_pipeline_e2e" ->
      """WITH base AS (
           SELECT doc_id, text, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT doc_id, text, lang, toks,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base),
         q AS (
           SELECT doc_id, text, lang, toks,
             least(ntok / 20.0, 1.0) * 0.4 +
             greatest(1.0 - pr * 4, 0.0) * 0.3 +
             least(sr * 5, 1.0) * 0.2 +
             (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
           FROM parts),
         gated AS (SELECT * FROM q WHERE quality >= 0.5),
         deduped AS (
           SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text)
             ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
         sampled AS (
           SELECT * FROM deduped
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
         SELECT lang, count(*) AS n_docs,
                CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                round(avg(quality), 6) AS avg_quality
         FROM sampled GROUP BY 1 ORDER BY 1""",

    // vocab = top-256 by (count desc, token asc); both engines derive ids
    // as that rank - 1 and left-join positions (OOV coalesces to -1)
    "t13_vocab_encode" ->
      """WITH toks AS (
           SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tk[u.i] AS tok
           FROM (SELECT doc_id,
                        list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
                 FROM documents),
                UNNEST(range(1, len(tk) + 1)) AS u(i)),
         vocab AS (
           SELECT tok, CAST(row_number() OVER (ORDER BY count(*) DESC, tok) - 1 AS BIGINT) AS tid
           FROM toks GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 256)
         SELECT t.doc_id, t.pos, CAST(coalesce(v.tid, -1) AS BIGINT) AS token_id
         FROM toks t LEFT JOIN vocab v USING (tok)
         ORDER BY doc_id, pos""",

    // sliding windows: starts 0, stride, ..., smallest stride multiple
    // reaching n-size (≥0), chunk ordinal = start/stride (exact integer
    // division of multiples), text = the joined token slice re-tokenized
    // for the count exactly as the Spark side does
    "t12_chunk_explode" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
         chunks AS (
           SELECT doc_id,
                  CAST(t.s AS BIGINT) // 48 AS chunk_id,
                  array_to_string(list_slice(tk, t.s + 1, t.s + 64), ' ') AS chunk_text
           FROM sized,
                UNNEST(range(0, greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT) * 48, 0) + 1, 48)) AS t(s))
         SELECT doc_id, chunk_id, chunk_text,
                CAST(len(list_filter(string_split_regex(trim(chunk_text), '\s+'),
                  x -> x != '')) AS BIGINT) AS n_tokens
         FROM chunks ORDER BY doc_id, chunk_id""",

    // t11 composes three already-hash-matched replays: t2's quality
    // expression, d1's md5 duplicate groups, and q8's CUBE+GROUPING shape.
    // Integer metrics are exact; the two divisions round at 6 decimals on
    // both sides. sum over BIGINT CASTs back from DuckDB HUGEINT.
    "t11_corpus_report" ->
      """WITH base AS (
           SELECT doc_id, text, source, lang, md5(text) AS h,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT source, lang, h,
             CAST(len(toks) AS BIGINT) AS ntok_i,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base),
         q AS (
           SELECT source, lang, h, ntok_i,
             least(ntok / 20.0, 1.0) * 0.4 +
             greatest(1.0 - pr * 4, 0.0) * 0.3 +
             least(sr * 5, 1.0) * 0.2 +
             (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
           FROM parts),
         dups AS (
           SELECT h, CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS dup
           FROM base GROUP BY 1)
         SELECT source, lang, count(*) AS n_docs,
           CAST(sum(ntok_i) AS BIGINT) AS n_tokens,
           round(avg(quality), 6) AS avg_quality,
           round(CAST(sum(dup) AS DOUBLE) / count(*), 6) AS dup_rate,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid
         FROM q JOIN dups USING (h)
         GROUP BY CUBE (source, lang)
         ORDER BY gid, source, lang""",

    // exact distinct counts replay in DuckDB; the booleans are asserted
    // literally TRUE — Spark computes them from the sketch guarantees, so a
    // hash match certifies the estimates landed inside their bounds
    // a9's oracle EARNS its booleans: DuckDB's own sketches are tested
    // against DuckDB's exact values with the same bands the Spark side uses
    "a9_sketches" ->
      """SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
             <= count(DISTINCT l_orderkey) * 0.05 AS hll_in_band,
           abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
             <= count(DISTINCT l_partkey) * 0.06 AS acd_in_band,
           approx_quantile(l_extendedprice, 0.95)
             BETWEEN quantile_cont(l_extendedprice, 0.94)
                 AND quantile_cont(l_extendedprice, 0.96) AS p95_in_band
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "a10_sketch_bounds" ->
      """SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_eps,
           TRUE AS acd_within_eps,
           TRUE AS p95_within_bounds
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // a11: the two-pass heavy-hitter result is EXACT (certified in-query),
    // so the oracle is just the plain top-k over the same engineered key
    // a12: the sketch result is EXACT under the verified certificate, so
    // the oracle is the direct cell-cumsum type-1 quantile
    "a12_sketch_quantiles" ->
      """WITH cells AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS vc,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         cum AS (
           SELECT vc, c,
                  CAST(sum(c) OVER (ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER () AS BIGINT) AS n
           FROM cells),
         sel AS (
           SELECT qn, qd, n,
                  (qn * n + qd - 1) // qd AS target_rank,
                  min(CASE WHEN ci >= (qn * n + qd - 1) // qd
                        THEN vc END) AS vcq
           FROM cum CROSS JOIN (VALUES (1, 2), (19, 20), (99, 100)) t(qn, qd)
           GROUP BY qn, qd, n)
         SELECT CAST(qn AS BIGINT) AS q_num, CAST(qd AS BIGINT) AS q_den,
                n, CAST(target_rank AS BIGINT) AS target_rank,
                CAST(vcq AS DOUBLE) / 100.0 AS value
         FROM sel
         ORDER BY CAST(qn AS DOUBLE) / CAST(qd AS DOUBLE)""",

    "a11_heavy_hitters" ->
      """WITH keyed AS (
           SELECT CASE WHEN l_linenumber <= 2
                       THEN 'hot_' || CAST(l_orderkey % 7 AS VARCHAR)
                       ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) || '_' ||
                            CAST(l_linenumber AS VARCHAR) END AS key
           FROM lineitem)
         SELECT key, count(*) AS n_rows FROM keyed
         GROUP BY 1 ORDER BY n_rows DESC, key ASC LIMIT 5""",

    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY 1""",

    "d4_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 3 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
           FROM toks)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5
         ORDER BY id_a, id_b""",

    // d17: the d4 shingle frames, containment = inter / min(|A|,|B|),
    // rounded before the threshold on both sides
    "d17_containment" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 3 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
           FROM toks),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
                  CAST(len(a.s) AS BIGINT) AS n_a,
                  CAST(len(b.s) AS BIGINT) AS n_b
           FROM sh a JOIN sh b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
         SELECT id_a, id_b, inter, n_a, n_b,
                round(CAST(inter AS DOUBLE)
                      / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment
         FROM p
         WHERE round(CAST(inter AS DOUBLE)
                     / CAST(least(n_a, n_b) AS DOUBLE), 6) >= 0.5
         ORDER BY id_a, id_b""",

    // d18: the d14 component CTEs + the t2 quality formula (rounded
    // before ranking) + the per-cluster argmax window
    "d18_best_of_cluster" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         qbase AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk,
             length(text) AS lc
           FROM documents),
         qparts AS (
           SELECT doc_id,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(tk, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(tk) END AS sr,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(tk) END AS mtl
           FROM qbase),
         q AS (SELECT doc_id,
                 round(least(ntok / 20.0, 1.0) * 0.4 +
                   greatest(1.0 - pr * 4, 0.0) * 0.3 +
                   least(sr * 5, 1.0) * 0.2 +
                   (CASE WHEN mtl >= 2 AND mtl <= 12
                         THEN 1.0 ELSE 0.5 END) * 0.1, 6) AS quality
               FROM qparts),
         cl AS (SELECT q.doc_id, q.quality,
                  coalesce(c.comp, q.doc_id) AS cluster
                FROM q LEFT JOIN comps c ON c.id = q.doc_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY cluster
                 ORDER BY quality DESC, doc_id) AS rn FROM cl)
         SELECT doc_id, quality, cluster, (rn = 1) AS keep
         FROM r ORDER BY doc_id""",

    // n2: brute-force all-pairs ground truth over base + planted vectors.
    // The perturbation is integer arithmetic over exact doubles; unit
    // normalization and the sequential dot product replicate bit-for-bit
    // (list_dot_product ≡ sequential double dot, NOTES_r2).
    "n2_ann_lsh" ->
      """WITH base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         planted AS (
           SELECT vec_id + 1000000 AS pid,
                  list_transform(range(0, 64), i ->
                    emb[CAST(i + 1 AS INT)] + (((vec_id * 31 + i * 7) % 17) - 8) / 800.0) AS emb
           FROM base),
         allv AS (
           SELECT vec_id, emb FROM base
           UNION ALL SELECT pid AS vec_id, emb FROM planted),
         unit AS (
           SELECT vec_id,
                  list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS u
           FROM allv WHERE list_dot_product(emb, emb) > 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.u, b.u), 4) AS cos
         FROM unit a JOIN unit b ON b.vec_id > a.vec_id
         WHERE list_dot_product(a.u, b.u) >= 0.9
         ORDER BY id_a, id_b""",

    // d7: exact ground-truth pairs (same construction as n2), closed into
    // components with a recursive min-reachability CTE — each node's comp is
    // the min id it can reach, i.e. connected components by min label
    "d7_embedding_dedup" ->
      """WITH RECURSIVE base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         planted AS (
           SELECT vec_id + 1000000 AS pid,
                  list_transform(range(0, 64), i ->
                    emb[CAST(i + 1 AS INT)] + (((vec_id * 31 + i * 7) % 17) - 8) / 800.0) AS emb
           FROM base),
         allv AS (
           SELECT vec_id, emb FROM base
           UNION ALL SELECT pid AS vec_id, emb FROM planted),
         unit AS (
           SELECT vec_id,
                  list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS u
           FROM allv WHERE list_dot_product(emb, emb) > 0),
         sym AS (
           SELECT a.vec_id AS src, b.vec_id AS dst
           FROM unit a JOIN unit b ON b.vec_id != a.vec_id
           WHERE list_dot_product(a.u, b.u) >= 0.9),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         SELECT v.vec_id, coalesce(c.comp, v.vec_id) AS comp_id
         FROM allv v LEFT JOIN comps c ON c.id = v.vec_id
         ORDER BY vec_id""",

    // d8: full SQL replay of the md5-sliced MinHash pipeline — same word
    // 3-gram shingles, same one-digest-8-slices signature, same banded pair
    // window; integer slot-agreement compares exactly across engines
    "d8_minhash_md5" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id)
         SELECT * FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                  (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                  (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
           FROM sig a JOIN sig b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
         WHERE agree >= 4 ORDER BY id_a, id_b""",

    // d14: the d8 candidate chain, the d7 recursive-CTE components, and
    // the s3 md5-prefix split rule on the component representative
    "d14_leakage_split" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, d.n_chars,
                coalesce(c.comp, d.doc_id) AS split_key,
                CASE WHEN substr(md5(CAST(coalesce(c.comp, d.doc_id)
                                          AS VARCHAR)), 1, 4) < '3333'
                     THEN 'eval' ELSE 'train' END AS split
         FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
         ORDER BY doc_id""",

    // d15: the d8 pair chain, then canonical a<b<c triangle listing,
    // corner explode, and the 2t/(d(d−1)) coefficient
    "d15_graph_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM sym GROUP BY a),
         tris AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         corner AS (
           SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
             SELECT x AS id FROM tris
             UNION ALL SELECT y FROM tris
             UNION ALL SELECT z FROM tris)
           GROUP BY id)
         SELECT d.id, d.degree, coalesce(c.triangles, 0) AS triangles,
                CASE WHEN d.degree >= 2
                     THEN round(2.0 * CAST(coalesce(c.triangles, 0) AS DOUBLE)
                                / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
                     ELSE 0.0 END AS clustering
         FROM deg d LEFT JOIN corner c ON c.id = d.id
         ORDER BY d.id""",

    // d21: the d15 chain through e, then wedge-join common neighbors and
    // the single Jaccard division per edge
    "d21_node_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM sym GROUP BY a),
         cmn AS (
           SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS common
           FROM e
           JOIN sym n1 ON n1.a = e.a
           JOIN sym n2 ON n2.a = e.b AND n2.b = n1.b
           GROUP BY e.a, e.b)
         SELECT e.a, e.b, da.degree AS deg_a, db.degree AS deg_b,
                coalesce(c.common, 0) AS common,
                CASE WHEN (da.degree - 1) + (db.degree - 1)
                            - coalesce(c.common, 0) > 0
                     THEN round(CAST(coalesce(c.common, 0) AS DOUBLE)
                                / CAST((da.degree - 1) + (db.degree - 1)
                                       - coalesce(c.common, 0) AS DOUBLE), 6)
                END AS jaccard
         FROM e
         JOIN deg da ON da.id = e.a
         JOIN deg db ON db.id = e.b
         LEFT JOIN cmn c ON c.a = e.a AND c.b = e.b
         ORDER BY e.a, e.b""",

    // d16: the d15 md5-MinHash chain, then 3 integer power iterations as
    // chained CTEs — LONG floor arithmetic is order-independent, so the
    // replay is bit-exact
    "d16_pagerank" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         deg AS (SELECT src AS nid, CAST(count(*) AS BIGINT) AS deg
                 FROM sym GROUP BY src),
         sd AS (SELECT s.src, s.dst, d.deg FROM sym s
                JOIN deg d ON d.nid = s.src),
         r0 AS (SELECT nid AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         c1 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r0 ON r0.id = sd.src GROUP BY dst),
         r1 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c1),
         c2 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r1 ON r1.id = sd.src GROUP BY dst),
         r2 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c2),
         c3 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r2 ON r2.id = sd.src GROUP BY dst),
         r3 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c3)
         SELECT d.nid AS id, d.deg, r3.r AS rank_micro,
                CAST(r3.r AS DOUBLE) / 1000000.0 AS rank
         FROM deg d JOIN r3 ON r3.id = d.nid
         ORDER BY id""",

    // d12: the d8 candidate chain verbatim, then the exact edit-distance
    // verification stage — texts re-joined by id, levenshtein ≤ 64 kept
    "d12_edit_verify" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4)
         SELECT p.id_a, p.id_b, p.agree,
                CAST(levenshtein(ta.text, tb.text) AS INT) AS dist
         FROM pairs p
           JOIN documents ta ON ta.doc_id = p.id_a
           JOIN documents tb ON tb.doc_id = p.id_b
         WHERE levenshtein(ta.text, tb.text) <= 64
         ORDER BY id_a, id_b""",

    // d23: the d8 chain twice — once over list_filter-stripped tokens,
    // once raw — left-joined on the pair key
    "d23_normalized_dedup" ->
      """WITH nd AS (
           SELECT doc_id,
                  array_to_string(list_filter(string_split(text, ' '),
                    tk -> tk NOT IN ('a', 'the')), ' ') AS text
           FROM documents),
         tn AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
         shn AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM tn),
         exn0 AS (SELECT doc_id, unnest(s) AS sg FROM shn),
         exn AS (SELECT doc_id, md5(sg) AS h FROM exn0),
         sgn AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM exn GROUP BY doc_id),
         pn AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sgn a JOIN sgn b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         tr AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         shr AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM tr),
         exr0 AS (SELECT doc_id, unnest(s) AS sg FROM shr),
         exr AS (SELECT doc_id, md5(sg) AS h FROM exr0),
         sgr AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM exr GROUP BY doc_id),
         pr AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sgr a JOIN sgr b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4)
         SELECT pn.id_a, pn.id_b, pn.agree,
                (pr.id_a IS NOT NULL) AS found_raw
         FROM pn LEFT JOIN pr ON pr.id_a = pn.id_a AND pr.id_b = pn.id_b
         ORDER BY pn.id_a, pn.id_b""",

    // d22: the d12 chain at minAgree=1, grouped by agree, the reverse
    // cumulative chain and one division per cutoff
    "d22_lsh_threshold_sweep" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 1),
         v AS (
           SELECT p.agree,
                  (levenshtein(ta.text, tb.text) <= 64) AS ok
           FROM pairs p
             JOIN documents ta ON ta.doc_id = p.id_a
             JOIN documents tb ON tb.doc_id = p.id_b),
         g AS (
           SELECT CAST(agree AS BIGINT) AS agree,
                  CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_true
           FROM v GROUP BY 1),
         c AS (
           SELECT agree, n_pairs, n_true,
                  CAST(sum(n_pairs) OVER w AS BIGINT) AS n_ge,
                  CAST(sum(n_true) OVER w AS BIGINT) AS v_ge
           FROM g
           WINDOW w AS (ORDER BY agree DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT agree, n_pairs, n_true, n_ge, v_ge,
                round(CAST(v_ge AS DOUBLE) / CAST(n_ge AS DOUBLE), 6)
                  AS precision_ge
         FROM c ORDER BY agree""",

    // d9: full SQL replay of md5 SimHash — 32-bit per-token hash from the
    // first 8 md5 hex chars, bits vote ±1 with term multiplicity
    "d9_simhash_md5" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM toks),
         bits AS (SELECT doc_id, b.bit AS bit,
                    CASE WHEN (h >> b.bit) % 2 = 1 THEN 1 ELSE -1 END AS v
                  FROM h, (SELECT unnest(range(0, 32)) AS bit) b),
         s AS (SELECT doc_id, bit, sum(v) AS s FROM bits GROUP BY doc_id, bit)
         SELECT doc_id AS id,
                CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END)
                     AS BIGINT) AS simhash_md5
         FROM s GROUP BY doc_id ORDER BY id""",

    // t8: cumulative token offsets + integer chunk spans — exact integer
    // window arithmetic on both engines
    "t8_chunk_map" ->
      """WITH n AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         o AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS BIGINT) AS start_offset
               FROM n)
         SELECT doc_id, n_tokens, start_offset,
                CAST(start_offset // 512 AS BIGINT) AS start_chunk,
                CAST(greatest(start_offset + n_tokens - 1, start_offset) // 512
                  AS BIGINT) AS end_chunk
         FROM o ORDER BY doc_id""",

    // t9: same distinct word-5-gram shingle sets as the Spark side, exact
    // string-equality join, integer shared counts
    "t9_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN list_distinct([array_to_string(w, ' ')])
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                              w[i+3] || ' ' || w[i+4])) END AS s
                FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS sg FROM sh)
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                CAST(count(*) AS BIGINT) AS shared_shingles
         FROM (SELECT * FROM ex WHERE doc_id >= 20) t
         JOIN (SELECT * FROM ex WHERE doc_id < 20) e ON t.sg = e.sg
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY train_id, eval_id""",

    // d10: span-level exact dedup — same aligned 8-token units, same
    // ≥2-distinct-docs boilerplate rule, survivors reassembled in order
    "d10_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         u0 AS (SELECT doc_id, w,
                  unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS pos
                FROM toks),
         u AS (SELECT doc_id, pos,
                 array_to_string(list_slice(w, CAST(pos*8+1 AS INT),
                   CAST(pos*8+8 AS INT)), ' ') AS unit
               FROM u0),
         d AS (SELECT unit FROM u GROUP BY unit HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT u.* FROM u ANTI JOIN d USING (unit)),
         k AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
                t.n_units, t.n_units - coalesce(k.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN k USING (doc_id) ORDER BY doc_id""",

    // d11: line-level exact dedup over the header/body/footer wrapping —
    // same ≥2-distinct-docs rule as d10, units are chr(10)-split lines
    "d11_line_dedup" ->
      """WITH aug AS (SELECT doc_id,
             'generated corpus export v1' || chr(10) || text || chr(10) ||
               'language: ' || lang AS text
           FROM documents),
         u0 AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug),
         u1 AS (SELECT doc_id, lines, unnest(range(0, len(lines))) AS pos FROM u0),
         u AS (SELECT doc_id, pos, lines[CAST(pos+1 AS INT)] AS unit FROM u1),
         d AS (SELECT unit FROM u GROUP BY unit HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT u.* FROM u ANTI JOIN d USING (unit)),
         k AS (SELECT doc_id, string_agg(unit, chr(10) ORDER BY pos) AS clean_text,
                 count(*) AS n_kept FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
                t.n_units, t.n_units - coalesce(k.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN k USING (doc_id) ORDER BY doc_id""",

    // t10: add-k bigram LM — every probability is a ratio of exact integer
    // counts (plus exact dyadic k terms), so only ln/exp touch libm; the
    // 6-decimal round absorbs any last-ulp drift
    "t10_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         bg0 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
         bg AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i+1 AS INT)] AS bigram,
                       w[CAST(i AS INT)] AS w1 FROM bg0),
         cb AS (SELECT bigram, count(*) AS c_bigram FROM bg GROUP BY 1),
         cc AS (SELECT w1, count(*) AS c_context FROM bg GROUP BY 1),
         v AS (SELECT count(*) AS v FROM cb),
         sc AS (SELECT bg.doc_id, ln((c_bigram + 0.5) / (c_context + 0.5 * v)) AS lp
                FROM bg JOIN cb USING (bigram) JOIN cc USING (w1) CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(sum(lp) / count(*), 6) AS avg_logprob,
                round(exp(-sum(lp) / count(*)), 6) AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",

    // n4: BM25 — idf and tf-saturation terms written with the exact same
    // association/parenthesization as the Spark expressions so both engines
    // evaluate the identical IEEE operation sequence
    "n4_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         p AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
                 unnest(list_filter(w, t ->
                   list_contains(['dup','spark','merge'], t))) AS term
               FROM toks),
         tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                FROM p GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         corpus AS (SELECT count(*) AS n_docs,
                      avg(CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) AS avgdl
                    FROM documents),
         s AS (SELECT doc_id,
                 ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * (tf * 2.2)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
               FROM tf JOIN dfc USING (term) CROSS JOIN corpus)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
                round(sum(s), 6) AS score
         FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""",

    // r13: distributed PERMANOVA pseudo-F — triangular self-join replayed;
    // d² = ((u−i)/u)² stays a ratio of exact integers until the squaring,
    // and the statistic's divisions happen once at the end on both engines
    "r13_permanova_stat" ->
      """WITH b AS (SELECT c_custkey AS id, c_mktsegment AS grp,
                      CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS f0,
                      CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS f1,
                      CASE WHEN c_nationkey < 12 THEN 1 ELSE 0 END AS f2,
                      CASE WHEN length(c_name) % 2 = 0 THEN 1 ELSE 0 END AS f3
                    FROM customer WHERE c_custkey <= 150),
         p AS (SELECT a.grp AS ga, bb.grp AS gb,
                 (a.f0*bb.f0 + a.f1*bb.f1 + a.f2*bb.f2 + a.f3*bb.f3) AS inter,
                 (greatest(a.f0,bb.f0) + greatest(a.f1,bb.f1) +
                  greatest(a.f2,bb.f2) + greatest(a.f3,bb.f3)) AS un
               FROM b a JOIN b bb ON a.id < bb.id),
         d AS (SELECT ga, gb, CASE WHEN un = 0 THEN 0.0
                 ELSE (1.0 - CAST(inter AS DOUBLE)/un) * (1.0 - CAST(inter AS DOUBLE)/un)
                 END AS d2 FROM p),
         nn AS (SELECT count(*) AS n, count(DISTINCT grp) AS g FROM b),
         sizes AS (SELECT grp, count(*) AS cnt FROM b GROUP BY 1),
         tot AS (SELECT sum(d2) AS ss_tot_raw FROM d),
         w AS (SELECT sum(ssg / cnt) AS ss_within FROM
                 (SELECT ga AS grp, sum(d2) AS ssg FROM d WHERE ga = gb GROUP BY 1) s
               JOIN sizes USING (grp))
         SELECT n, g, round(ss_tot_raw / n, 6) AS ss_total,
                round(ss_within, 6) AS ss_within,
                round(((ss_tot_raw / n - ss_within) / (g - 1)) /
                  (ss_within / (n - g)), 6) AS pseudo_f
         FROM nn, tot, w""",

    // r19: cells, window margins, the exact-long numerator trick
    // ((O·N − rt·ct)² / (N·rt·ct)), and the same ordered running chain
    "r19_chi2" ->
      """WITH cells AS (
           SELECT l_returnflag AS rf, l_linestatus AS ls,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           GROUP BY 1, 2),
         m AS (
           SELECT rf, ls, o,
                  sum(o) OVER (PARTITION BY rf) AS rt,
                  sum(o) OVER (PARTITION BY ls) AS ct,
                  sum(o) OVER () AS n
           FROM cells),
         c AS (
           SELECT rf, ls, o,
                  CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
                    AS expected,
                  (CAST(o * n - rt * ct AS DOUBLE)
                    * CAST(o * n - rt * ct AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
                      * CAST(ct AS DOUBLE)) AS contrib
           FROM m)
         SELECT rf AS l_returnflag, ls AS l_linestatus, o,
                round(expected, 4) AS expected,
                round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (ORDER BY rf, ls
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS chi2_running
         FROM c ORDER BY l_returnflag, l_linestatus""",

    // r17: value-level counts, windowed exclusive B-prefix, the 2U and
    // tie-term integer aggregates, and the IDENTICAL z expression tree
    "r17_mannwhitney" ->
      """WITH src AS (
           SELECT CAST(l_quantity AS DOUBLE) AS v,
                  (l_returnflag = 'R') AS a
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
         vc AS (
           SELECT v,
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(count(*) - sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM src GROUP BY v),
         pc AS (
           SELECT v, na, nb,
                  coalesce(sum(nb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
           FROM vc),
         ag AS (
           SELECT CAST(sum(na) AS BIGINT) AS n_a,
                  CAST(sum(nb) AS BIGINT) AS n_b,
                  CAST(sum(na * (2 * cumb + nb)) AS BIGINT) AS u2,
                  CAST(sum((na + nb) * (na + nb) * (na + nb) - (na + nb))
                    AS BIGINT) AS tie_term
           FROM pc)
         SELECT n_a, n_b, u2, tie_term,
                round((CAST(u2 AS DOUBLE) / 2.0
                        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                             * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                                - CAST(tie_term AS DOUBLE)
                                  / (CAST(n_a + n_b AS DOUBLE)
                                     * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
                             / 12.0), 6) AS z
         FROM ag""",

    // r74: same value-level prefix frame; doubled global midrank and
    // doubled placements are per-cell integer constants, squares ride
    // HUGEINT ≡ Spark decimal, the five trees replay fixed
    "r74_brunner_munzel" ->
      """WITH src AS (
           SELECT CAST(l_quantity AS DOUBLE) AS v,
                  (l_discount >= 0.05) AS a
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
         vc AS (
           SELECT v,
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(count(*) - sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM src GROUP BY v),
         pc AS (
           SELECT v, na, nb,
                  CAST(coalesce(sum(na) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cuma,
                  CAST(coalesce(sum(nb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cumb
           FROM vc),
         ag AS (
           SELECT CAST(sum(na) AS BIGINT) AS n_a,
                  CAST(sum(nb) AS BIGINT) AS n_b,
                  CAST(sum(na * (2 * (cuma + cumb) + (na + nb) + 1))
                    AS BIGINT) AS sr2a,
                  CAST(sum(nb * (2 * (cuma + cumb) + (na + nb) + 1))
                    AS BIGINT) AS sr2b,
                  CAST(sum(na * (2 * cumb + nb)) AS BIGINT) AS s2a,
                  CAST(sum(nb * (2 * cuma + na)) AS BIGINT) AS s2b,
                  sum(CAST(na AS HUGEINT) * (2 * cumb + nb) * (2 * cumb + nb))
                    AS q4a0,
                  sum(CAST(nb AS HUGEINT) * (2 * cuma + na) * (2 * cuma + na))
                    AS q4b0
           FROM pc),
         d1 AS (
           SELECT n_a, n_b,
                  CAST(n_a AS DOUBLE) AS n1, CAST(n_b AS DOUBLE) AS n2,
                  CAST(sr2a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m2a,
                  CAST(sr2b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m2b,
                  CAST(s2a AS DOUBLE) AS s2ad, CAST(s2b AS DOUBLE) AS s2bd,
                  CAST(q4a0 AS DOUBLE) AS q4ad, CAST(q4b0 AS DOUBLE) AS q4bd
           FROM ag),
         d2 AS (
           SELECT *,
                  (m2a - (n1 + 1.0)) / 2.0 AS c1,
                  (m2b - (n2 + 1.0)) / 2.0 AS c2
           FROM d1),
         d3 AS (
           SELECT *,
                  (q4ad / 4.0 - c1 * s2ad + n1 * c1 * c1) / (n1 - 1.0) AS v1,
                  (q4bd / 4.0 - c2 * s2bd + n2 * c2 * c2) / (n2 - 1.0) AS v2
           FROM d2)
         SELECT n_a, n_b,
                round(((m2b - (n2 + 1.0)) / 2.0) / n1, 6) AS p_hat,
                round(n1 * n2 * ((m2b - m2a) / 2.0) / (n1 + n2)
                      / sqrt(n1 * v1 + n2 * v2), 6) AS w_bm,
                round((n1 * v1 + n2 * v2) * (n1 * v1 + n2 * v2)
                      / ((n1 * v1) * (n1 * v1) / (n1 - 1.0)
                         + (n2 * v2) * (n2 * v2) / (n2 - 1.0)), 4) AS df
         FROM d3""",

    // r18: inclusive ECDF cross-difference, integer numerator extremum
    "r18_ks_test" ->
      """WITH src AS (
           SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                  (l_returnflag = 'R') AS a
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         vc AS (
           SELECT v,
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(count(*) - sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM src GROUP BY v),
         ic AS (
           SELECT v, sum(na) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ia,
                  sum(nb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ib
           FROM vc),
         t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                      CAST(sum(nb) AS BIGINT) AS n_b FROM vc)
         SELECT t.n_a, t.n_b,
                CAST(max(abs(ic.ia * t.n_b - ic.ib * t.n_a)) AS BIGINT) AS d_num,
                CAST(max(abs(ic.ia * t.n_b - ic.ib * t.n_a)) AS DOUBLE)
                  / CAST(t.n_a * t.n_b AS DOUBLE) AS d
         FROM ic, t GROUP BY t.n_a, t.n_b""",

    // r20: k-group doubled rank sums (tied block of size t at exclusive
    // prefix c contributes 2c+t+1 per member — integers), H as the SAME
    // fixed running chain in group order, tie-corrected twin alongside
    "r20_kruskal" ->
      """WITH src AS (
           SELECT CAST(l_quantity AS DOUBLE) AS v, l_returnflag AS grp
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
         vc AS (SELECT v, grp, CAST(count(*) AS BIGINT) AS c
                FROM src GROUP BY 1, 2),
         tot AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vc GROUP BY 1),
         pc AS (SELECT v, t,
                  CAST(coalesce(sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum
                FROM tot),
         pg AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
                  CAST(sum(c * (2 * cum + t + 1)) AS BIGINT) AS r2sum
                FROM vc JOIN pc USING (v) GROUP BY 1),
         tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
                  CAST(sum(t * t * t - t) AS BIGINT) AS tie_term FROM tot)
         SELECT grp, n_g, r2sum, tt.n, tt.tie_term,
                round(12.0 / (CAST(tt.n AS DOUBLE) * (CAST(tt.n AS DOUBLE) + 1.0))
                    * sum((CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE) / 2.0)
                          / CAST(n_g AS DOUBLE))
                      OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - 3.0 * (CAST(tt.n AS DOUBLE) + 1.0), 6) AS h_running,
                round((12.0 / (CAST(tt.n AS DOUBLE) * (CAST(tt.n AS DOUBLE) + 1.0))
                    * sum((CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE) / 2.0)
                          / CAST(n_g AS DOUBLE))
                      OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - 3.0 * (CAST(tt.n AS DOUBLE) + 1.0))
                  / (1.0 - CAST(tt.tie_term AS DOUBLE)
                     / (CAST(tt.n AS DOUBLE) * CAST(tt.n AS DOUBLE)
                        * CAST(tt.n AS DOUBLE) - CAST(tt.n AS DOUBLE))), 6)
                  AS h_corr_running
         FROM pg, tt ORDER BY grp""",

    // r21: two value-level rank maps (windowed exclusive prefixes), the
    // row-level re-join, exact integer power sums (HUGEINT here, DECIMAL
    // there — same integers), and the IDENTICAL closed-form ρ tree
    "r21_spearman" ->
      """WITH base AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         rx AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY 1),
         px AS (SELECT x,
                  2 * CAST(coalesce(sum(t) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) + t + 1 AS dx
                FROM rx),
         ry AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY 1),
         py AS (SELECT y,
                  2 * CAST(coalesce(sum(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) + t + 1 AS dy
                FROM ry),
         j AS (SELECT dx, dy FROM base JOIN px USING (x) JOIN py USING (y)),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  sum(dx) AS sdx0, sum(dy) AS sdy0, sum(dx * dy) AS sdxy0,
                  sum(dx * dx) AS sdx20, sum(dy * dy) AS sdy20
                FROM j)
         SELECT n, CAST(sdx0 AS DOUBLE) AS sdx, CAST(sdy0 AS DOUBLE) AS sdy,
                CAST(sdxy0 AS DOUBLE) AS sdxy,
                CAST(sdx20 AS DOUBLE) AS sdx2, CAST(sdy20 AS DOUBLE) AS sdy2,
                round((CAST(n AS DOUBLE) * CAST(sdxy0 AS DOUBLE)
                       - CAST(sdx0 AS DOUBLE) * CAST(sdy0 AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sdx20 AS DOUBLE)
                              - CAST(sdx0 AS DOUBLE) * CAST(sdx0 AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(sdy20 AS DOUBLE)
                                - CAST(sdy0 AS DOUBLE) * CAST(sdy0 AS DOUBLE))), 6)
                  AS rho
         FROM ag""",

    // r22: six exact aggregates in one pass, then the same fixed Welch
    // tree (means → (n−1) variances → t → Welch–Satterthwaite df)
    "r22_welch" ->
      """WITH src AS (
           SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS x,
                  (l_returnflag = 'R') AS a
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         ag AS (SELECT
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  sum(CASE WHEN a THEN x END) AS sa0,
                  sum(CASE WHEN NOT a THEN x END) AS sb0,
                  sum(CASE WHEN a THEN x * x END) AS ssa0,
                  sum(CASE WHEN NOT a THEN x * x END) AS ssb0
                FROM src),
         d1 AS (SELECT n_a, n_b,
                  CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                  CAST(sa0 AS DOUBLE) AS sa, CAST(sb0 AS DOUBLE) AS sb,
                  CAST(ssa0 AS DOUBLE) AS ssa, CAST(ssb0 AS DOUBLE) AS ssb
                FROM ag),
         d2 AS (SELECT *,
                  (ssa - sa * sa / na) / (na - 1.0) AS va,
                  (ssb - sb * sb / nb) / (nb - 1.0) AS vb
                FROM d1),
         d3 AS (SELECT *, va / na AS sea, vb / nb AS seb FROM d2)
         SELECT n_a, n_b,
                round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
                round((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t,
                round((sea + seb) * (sea + seb)
                      / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 4)
                  AS df
         FROM d3""",

    // r73: the same six-sum Welch trees per pair off the 5-row priority
    // cell frame; the Bonferroni critical value is the interpolated JVM
    // literal (Normal.quantile is deterministic, so this stays static)
    "r73_pairwise_welch" ->
      s"""WITH src AS (
           SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS x
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
         cells AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n0,
                  sum(x) AS s0, sum(x * x) AS ss0
           FROM src GROUP BY 1),
         p AS (
           SELECT a.g AS g_a, b.g AS g_b, a.n0 AS na0, b.n0 AS nb0,
                  CAST(a.n0 AS DOUBLE) AS na, CAST(b.n0 AS DOUBLE) AS nb,
                  CAST(a.s0 AS DOUBLE) AS sa, CAST(b.s0 AS DOUBLE) AS sb,
                  CAST(a.ss0 AS DOUBLE) AS ssa, CAST(b.ss0 AS DOUBLE) AS ssb
           FROM cells a JOIN cells b ON a.g < b.g),
         d2 AS (SELECT *,
                  (ssa - sa * sa / na) / (na - 1.0) AS va,
                  (ssb - sb * sb / nb) / (nb - 1.0) AS vb
                FROM p),
         d3 AS (SELECT *, va / na AS sea, vb / nb AS seb FROM d2)
         SELECT g_a, g_b, na0 AS n_a, nb0 AS n_b,
                round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
                round((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t,
                round((sea + seb) * (sea + seb)
                      / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 4)
                  AS df,
                (abs((sa / na - sb / nb) / sqrt(sea + seb)) > $r73CritZ)
                  AS sig_bonf
         FROM d3 ORDER BY g_a, g_b""",

    // e27: the same day frame, calendar self-joins at +7/+1, integer
    // error sums, one division each
    "e27_forecast_backtest" ->
      """WITH c AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         j AS (
           SELECT c.key, c.day, c.cnt, p7.cnt AS pred_s, p1.cnt AS pred_n
           FROM c
           JOIN c p7 ON c.key = p7.key AND c.day = p7.day + 7
           JOIN c p1 ON c.key = p1.key AND c.day = p1.day + 1),
         g AS (
           SELECT key, CAST(count(*) AS BIGINT) AS n_scored,
                  CAST(sum(abs(cnt - pred_s)) AS BIGINT) AS sae_seasonal,
                  CAST(sum(abs(cnt - pred_n)) AS BIGINT) AS sae_naive
           FROM j GROUP BY 1)
         SELECT key, n_scored, sae_seasonal, sae_naive,
                round(CAST(sae_seasonal AS DOUBLE)
                      / CAST(n_scored AS DOUBLE), 6) AS mae_seasonal,
                CASE WHEN sae_naive > 0 THEN
                  round(CAST(sae_seasonal AS DOUBLE)
                        / CAST(sae_naive AS DOUBLE), 6) END AS mase
         FROM g ORDER BY key""",

    // r23: per-group exact power sums, staged grand totals, the same
    // running SS chains in group order, F from the chained totals
    "r23_anova" ->
      """WITH src AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS x
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         pg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
                  sum(x) AS s0, sum(x * x) AS ss0
                FROM src GROUP BY 1),
         st AS (SELECT grp, n_g,
                  CAST(n_g AS DOUBLE) AS ng,
                  CAST(s0 AS DOUBLE) AS s, CAST(ss0 AS DOUBLE) AS ss,
                  CAST(sum(n_g) OVER () AS DOUBLE) AS bigN,
                  CAST(count(*) OVER () AS DOUBLE) AS k,
                  CAST(sum(s0) OVER () AS DOUBLE)
                    / CAST(sum(n_g) OVER () AS DOUBLE) AS m
                FROM pg),
         r AS (SELECT grp, n_g, s / ng AS mean_g, k, bigN,
                 sum(ss - s * s / ng) OVER (ORDER BY grp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssw,
                 sum(ng * (s / ng - m) * (s / ng - m)) OVER (ORDER BY grp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssb
               FROM st)
         SELECT grp, n_g, round(mean_g, 6) AS mean_g,
                ssw AS ssw_running, ssb AS ssb_running,
                round((ssb / (k - 1.0)) / (ssw / (bigN - k)), 6) AS f_running
         FROM r ORDER BY grp""",

    // r25: the r19 chain reduced — max of the running chi² is its final
    // link, V is the fixed normalization tree
    "r25_cramers_v" ->
      """WITH cells AS (
           SELECT l_returnflag AS rf, l_linestatus AS ls,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           GROUP BY 1, 2),
         m AS (
           SELECT rf, ls, o,
                  sum(o) OVER (PARTITION BY rf) AS rt,
                  sum(o) OVER (PARTITION BY ls) AS ct,
                  sum(o) OVER () AS n
           FROM cells),
         c AS (
           SELECT rf, ls, o,
                  (CAST(o * n - rt * ct AS DOUBLE)
                    * CAST(o * n - rt * ct AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
                      * CAST(ct AS DOUBLE)) AS contrib
           FROM m),
         run AS (
           SELECT rf, ls, o,
                  sum(contrib) OVER (ORDER BY rf, ls
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS chi2_running,
                  sum(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(n AS DOUBLE)) OVER (ORDER BY rf, ls
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS exp_running
           FROM (SELECT c.*, m.rt, m.ct, m.n FROM c
                 JOIN m USING (rf, ls))),
         ag AS (
           SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT rf) AS BIGINT) AS r,
                  CAST(count(DISTINCT ls) AS BIGINT) AS c,
                  max(chi2_running) AS chi2o,
                  max(exp_running) AS expo
           FROM run)
         SELECT n, r, c,
                round(chi2o + (CAST(n AS DOUBLE) - expo), 6) AS chi2,
                round(sqrt((chi2o + (CAST(n AS DOUBLE) - expo))
                  / (CAST(n AS DOUBLE)
                     * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS v
         FROM ag""",

    // r26: distinct-time counts, exclusive leave-prefix → n_risk, the
    // running ln-sum product with the dead-risk-set pin (t13 precedent)
    "r26_kaplan_meier" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
                  CAST(count(*) - sum(CASE WHEN e THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d, c,
                  CAST((SELECT sum(d + c) FROM tc)
                    - coalesce(sum(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM tc),
         lr AS (
           SELECT t, n_risk, d, c,
                  CASE WHEN d < n_risk
                       THEN ln(CAST(n_risk - d AS DOUBLE)
                               / CAST(n_risk AS DOUBLE))
                       ELSE 0.0 END AS lnr,
                  min(n_risk - d) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM pc)
         SELECT t, n_risk, d, c,
                CASE WHEN dead = 0 THEN 0.0
                     ELSE round(exp(sum(lnr) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                END AS survival
         FROM lr ORDER BY t""",

    // r66: r26's frame + the Greenwood variance chain (exact-long division
    // terms, one more running sum), linear 95% band clamped to [0,1]
    "r66_km_greenwood" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
                  CAST(count(*) - sum(CASE WHEN e THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d, c,
                  CAST((SELECT sum(d + c) FROM tc)
                    - coalesce(sum(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM tc),
         lr AS (
           SELECT t, n_risk, d, c,
                  CASE WHEN d < n_risk
                       THEN ln(CAST(n_risk - d AS DOUBLE)
                               / CAST(n_risk AS DOUBLE))
                       ELSE 0.0 END AS lnr,
                  CASE WHEN d < n_risk
                       THEN CAST(d AS DOUBLE)
                            / (CAST(n_risk AS DOUBLE)
                               * CAST(n_risk - d AS DOUBLE))
                       ELSE 0.0 END AS gterm,
                  min(n_risk - d) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM pc),
         ch AS (
           SELECT t, n_risk, d, c, dead,
                  exp(sum(lnr) OVER w) AS sraw,
                  exp(sum(lnr) OVER w) * sqrt(sum(gterm) OVER w) AS seraw
           FROM lr WINDOW w AS (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t, n_risk, d, c,
                CASE WHEN dead = 0 THEN 0.0 ELSE round(sraw, 6) END
                  AS survival,
                CASE WHEN dead = 0 THEN 0.0 ELSE round(seraw, 6) END AS se,
                CASE WHEN dead = 0 THEN 0.0
                     ELSE round(greatest(0.0, sraw - 1.96 * seraw), 6) END
                  AS lo,
                CASE WHEN dead = 0 THEN 0.0
                     ELSE round(least(1.0, sraw + 1.96 * seraw), 6) END
                  AS hi
         FROM ch ORDER BY t""",

    // r67: the r26 chains with every window PARTITION BY grp
    "r67_km_stratified" ->
      """WITH src AS (
           SELECT substring(o_orderpriority, 1, 1) AS grp,
                  CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL AND o_orderpriority IS NOT NULL),
         tc AS (
           SELECT grp, t,
                  CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
                  CAST(count(*) - sum(CASE WHEN e THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1, 2),
         pc AS (
           SELECT grp, t, d, c,
                  CAST(sum(d + c) OVER (PARTITION BY grp)
                    - coalesce(sum(d + c) OVER (PARTITION BY grp ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM tc),
         lr AS (
           SELECT grp, t, n_risk, d, c,
                  CASE WHEN d < n_risk
                       THEN ln(CAST(n_risk - d AS DOUBLE)
                               / CAST(n_risk AS DOUBLE))
                       ELSE 0.0 END AS lnr,
                  min(n_risk - d) OVER (PARTITION BY grp ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM pc)
         SELECT grp, t, n_risk, d, c,
                CASE WHEN dead = 0 THEN 0.0
                     ELSE round(exp(sum(lnr) OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                END AS survival
         FROM lr ORDER BY grp, t""",

    // r68: r26's frame + the lag/lead RMST increment chain, horizon 60
    "r68_rmst" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
                  CAST(count(*) - sum(CASE WHEN e THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d, c,
                  CAST((SELECT sum(d + c) FROM tc)
                    - coalesce(sum(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM tc),
         lr AS (
           SELECT t, n_risk, d, c,
                  CASE WHEN d < n_risk
                       THEN ln(CAST(n_risk - d AS DOUBLE)
                               / CAST(n_risk AS DOUBLE))
                       ELSE 0.0 END AS lnr,
                  min(n_risk - d) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM pc),
         ch AS (
           SELECT t, n_risk, d, c, dead,
                  CASE WHEN dead = 0 THEN 0.0
                       ELSE exp(sum(lnr) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  END AS sraw
           FROM lr),
         pr AS (
           SELECT t, n_risk, d, c, dead, sraw,
                  coalesce(lag(sraw) OVER (ORDER BY t), 1.0) AS sprev,
                  coalesce(lag(t) OVER (ORDER BY t), 0) AS tprev,
                  lead(t) OVER (ORDER BY t) AS tnext
           FROM ch),
         inc AS (
           SELECT t, n_risk, d, c, dead, sraw,
                  sprev * CAST(least(t, 60) - least(tprev, 60) AS DOUBLE)
                  + CASE WHEN tnext IS NULL
                         THEN sraw * CAST(greatest(0, 60 - t) AS DOUBLE)
                         ELSE 0.0 END AS incv
           FROM pr)
         SELECT t, n_risk, d, c,
                CASE WHEN dead = 0 THEN 0.0 ELSE round(sraw, 6) END
                  AS survival,
                round(sum(incv) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS rmst_running
         FROM inc ORDER BY t""",

    // r69: all-cause ln-chain + lag, one running CIF chain per cause
    "r69_competing_risks" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag = 'A') AS e1r,
                  (l_returnflag = 'N') AS e2r
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e1r THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN e2r AND NOT e1r THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2,
                  CAST(count(*) - sum(CASE WHEN e1r THEN 1 ELSE 0 END)
                    - sum(CASE WHEN e2r AND NOT e1r THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d1, d2, c,
                  CAST((SELECT sum(d1 + d2 + c) FROM tc)
                    - coalesce(sum(d1 + d2 + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM tc),
         lr AS (
           SELECT t, n_risk, d1, d2, c,
                  CASE WHEN d1 + d2 < n_risk
                       THEN ln(CAST(n_risk - d1 - d2 AS DOUBLE)
                               / CAST(n_risk AS DOUBLE))
                       ELSE 0.0 END AS lnr,
                  min(n_risk - d1 - d2) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM pc),
         ch AS (
           SELECT t, n_risk, d1, d2, c, dead,
                  CASE WHEN dead = 0 THEN 0.0
                       ELSE exp(sum(lnr) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  END AS sraw
           FROM lr),
         pr AS (
           SELECT t, n_risk, d1, d2, c, dead, sraw,
                  coalesce(lag(sraw) OVER (ORDER BY t), 1.0) AS sprev
           FROM ch),
         i AS (
           SELECT t, n_risk, d1, d2, c, dead, sraw,
                  sprev * (CAST(d1 AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS i1,
                  sprev * (CAST(d2 AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS i2
           FROM pr)
         SELECT t, n_risk, d1, d2, c,
                CASE WHEN dead = 0 THEN 0.0 ELSE round(sraw, 6) END
                  AS survival,
                round(sum(i1) OVER w, 6) AS cif1,
                round(sum(i2) OVER w, 6) AS cif2
         FROM i WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY t""",

    // r27: per-arm leave counts, two exclusive prefixes → risk sets,
    // event-time frame, the same fixed division trees + running chains
    "r27_logrank" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e,
                  (substring(o_orderpriority, 1, 1) IN ('1', '2')) AS g
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL AND o_orderpriority IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e AND g THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN e AND NOT g THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                  CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS leave1,
                  CAST(count(*) - sum(CASE WHEN g THEN 1 ELSE 0 END)
                    AS BIGINT) AS leave2
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d1, d2,
                  (SELECT sum(leave1) FROM tc)
                    - coalesce(sum(leave1) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n1,
                  (SELECT sum(leave2) FROM tc)
                    - coalesce(sum(leave2) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n2
           FROM tc),
         ev AS (
           SELECT t, n1, n2, d1, d2,
                  CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE) AS e1,
                  CASE WHEN n1 + n2 > 1 THEN
                    CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE)
                      * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                      * ((CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
                         / (CAST(n1 + n2 AS DOUBLE) - 1.0))
                  ELSE 0.0 END AS var1
           FROM pc WHERE d1 + d2 > 0),
         run AS (
           SELECT t, n1, n2, d1, d2, e1, var1,
                  sum(d1) OVER w AS o1_run,
                  sum(e1) OVER w AS e1_run,
                  sum(var1) OVER w AS v_run
           FROM ev
           WINDOW w AS (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                d1, d2,
                round(e1, 6) AS e1, round(var1, 6) AS var1,
                CAST(o1_run AS BIGINT) AS o1_run,
                round(e1_run, 6) AS e1_run, round(v_run, 6) AS v_run,
                CASE WHEN v_run > 0.0
                     THEN round((CAST(o1_run AS DOUBLE) - e1_run)
                                * (CAST(o1_run AS DOUBLE) - e1_run) / v_run, 6)
                     ELSE 0.0 END AS chi2_running
         FROM run ORDER BY t""",

    // r49: six exact decimal power sums → the identical staged fixed tree
    // (cxy/cxx/cyy shared subtrees named in both engines)
    "r49_ols" ->
      """WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         b AS (
           SELECT n, nd, sx, sy,
                  nd * sxy - sx * sy AS cxy,
                  nd * sxx - sx * sx AS cxx,
                  nd * syy - sy * sy AS cyy
           FROM a),
         c AS (SELECT *, cxy / cxx AS slope FROM b)
         SELECT n, round(slope, 6) AS slope,
                round(sy / nd - slope * (sx / nd), 6) AS intercept,
                round(cxy / cxx * (cxy / cyy), 6) AS r2,
                round(sqrt((cyy - slope * cxy) / (nd * (nd - 2.0))), 6)
                  AS se_resid,
                round(sx / nd, 6) AS mean_x,
                round(sy / nd, 6) AS mean_y
         FROM c""",

    // r51: the r26 frame, hazard increments as exact-long divisions on
    // running chains — no transcendentals at all
    "r51_nelson_aalen" ->
      """WITH src AS (
           SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
                  (l_returnflag <> 'R') AS e
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL),
         tc AS (
           SELECT t,
                  CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
                  CAST(count(*) - sum(CASE WHEN e THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM src GROUP BY 1),
         pc AS (
           SELECT t, d, c,
                  (SELECT sum(d + c) FROM tc)
                    - coalesce(sum(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
           FROM tc)
         SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
                round(sum(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                  OVER w, 6) AS h_cum,
                round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE)
                  * CAST(n_risk AS DOUBLE))) OVER w, 8) AS var_cum
         FROM pc WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY t""",

    // r52: per-group exact power sums + max/min, G as one fixed tree
    "r52_grubbs" ->
      """WITH g AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS s,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ss,
                  CAST(max(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS mx,
                  CAST(min(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS mn
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1)
         SELECT grp, n_g,
                round(s / CAST(n_g AS DOUBLE), 6) AS mean_g,
                round(sqrt((ss - s * s / CAST(n_g AS DOUBLE))
                  / (CAST(n_g AS DOUBLE) - 1.0)), 6) AS sd_g,
                mx AS x_max, mn AS x_min,
                round(greatest(mx - s / CAST(n_g AS DOUBLE),
                  s / CAST(n_g AS DOUBLE) - mn)
                  / sqrt((ss - s * s / CAST(n_g AS DOUBLE))
                    / (CAST(n_g AS DOUBLE) - 1.0)), 6) AS g_stat
         FROM g ORDER BY grp""",

    // r53: daily cent totals, lag differences (mean cancels), ONE
    // division of exact integer sums
    "r53_durbin_watson" ->
      """WITH daily AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
                    AS DECIMAL(19,0)) AS c
           FROM lineitem
           WHERE l_shipdate IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1),
         diffed AS (
           SELECT c, CAST(c - lag(c, 1) OVER (ORDER BY day)
             AS DECIMAL(19,0)) AS d
           FROM daily),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_days,
                  CAST(CAST(sum(c) AS DECIMAL(38,0)) AS DOUBLE) AS s,
                  CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS ss,
                  CAST(sum(CAST(d * d AS DECIMAL(38,0))) AS DOUBLE) AS num
           FROM diffed)
         SELECT n_days,
                round(s / (100.0 * CAST(n_days AS DOUBLE)), 2) AS mean_daily,
                round(CAST(n_days AS DOUBLE) * num
                  / (CAST(n_days AS DOUBLE) * ss - s * s), 6) AS dw
         FROM a""",

    // r54: per-group power sums, staged grand totals, the three group
    // accumulations as running chains, the same fixed T tree
    "r54_bartlett" ->
      """WITH g AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS s,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ss
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1),
         st AS (
           SELECT grp, n_g, CAST(n_g AS DOUBLE) AS ng, s, ss,
                  CAST(sum(n_g) OVER () AS DOUBLE) AS bigN,
                  CAST(count(*) OVER () AS DOUBLE) AS k
           FROM g),
         v AS (SELECT *, (ss - s * s / ng) / (ng - 1.0) AS vg FROM st),
         r AS (
           SELECT grp, n_g, vg, bigN, k,
                  sum((ng - 1.0) * vg) OVER w AS sw,
                  sum((ng - 1.0) * ln(vg)) OVER w AS lnv,
                  sum(1.0 / (ng - 1.0)) OVER w AS invn
           FROM v WINDOW w AS (ORDER BY grp
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT grp, n_g, round(vg, 6) AS var_g,
                sw AS sw_running, lnv AS lnv_running,
                round(invn, 6) AS invn_running,
                round(((bigN - k) * ln(sw / (bigN - k)) - lnv)
                  / (1.0 + (invn - 1.0 / (bigN - k))
                    / (3.0 * (k - 1.0))), 6) AS t_running
         FROM r ORDER BY grp""",

    // m12: all NB sufficient statistics are counts — cell/feature/class
    // frames as CTEs, the identical fixed ln chain, argmax off round-6
    "m12_naive_bayes" ->
      """WITH base AS (
           SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc_hi,
                  CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS qty_hi,
                  CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS tax_hi,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL),
         cells AS (
           SELECT disc_hi, qty_hi, tax_hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS y1
           FROM base GROUP BY 1, 2, 3),
         pr AS (
           SELECT CAST(sum(y) AS BIGINT) AS n1,
                  CAST(count(*) - sum(y) AS BIGINT) AS n0
           FROM base),
         f0 AS (SELECT disc_hi AS v0, CAST(sum(y) AS BIGINT) AS c1_0,
                  CAST(count(*) - sum(y) AS BIGINT) AS c0_0
                FROM base GROUP BY 1),
         f0k AS (SELECT v0, c1_0, c0_0,
                  CAST(count(*) OVER () AS BIGINT) AS k_0 FROM f0),
         f1 AS (SELECT qty_hi AS v1, CAST(sum(y) AS BIGINT) AS c1_1,
                  CAST(count(*) - sum(y) AS BIGINT) AS c0_1
                FROM base GROUP BY 1),
         f1k AS (SELECT v1, c1_1, c0_1,
                  CAST(count(*) OVER () AS BIGINT) AS k_1 FROM f1),
         f2 AS (SELECT tax_hi AS v2, CAST(sum(y) AS BIGINT) AS c1_2,
                  CAST(count(*) - sum(y) AS BIGINT) AS c0_2
                FROM base GROUP BY 1),
         f2k AS (SELECT v2, c1_2, c0_2,
                  CAST(count(*) OVER () AS BIGINT) AS k_2 FROM f2),
         s AS (
           SELECT cells.*, pr.n1, pr.n0,
                  f0k.c1_0, f0k.c0_0, f0k.k_0,
                  f1k.c1_1, f1k.c0_1, f1k.k_1,
                  f2k.c1_2, f2k.c0_2, f2k.k_2
           FROM cells CROSS JOIN pr
             JOIN f0k ON cells.disc_hi = f0k.v0
             JOIN f1k ON cells.qty_hi = f1k.v1
             JOIN f2k ON cells.tax_hi = f2k.v2),
         lo AS (
           SELECT disc_hi, qty_hi, tax_hi, n, y1,
                  (((ln(CAST(n1 AS DOUBLE)) - ln(CAST(n0 AS DOUBLE)))
                    + ((ln(CAST(c1_0 + 1 AS DOUBLE))
                        - ln(CAST(n1 + k_0 AS DOUBLE)))
                      - (ln(CAST(c0_0 + 1 AS DOUBLE))
                        - ln(CAST(n0 + k_0 AS DOUBLE)))))
                    + ((ln(CAST(c1_1 + 1 AS DOUBLE))
                        - ln(CAST(n1 + k_1 AS DOUBLE)))
                      - (ln(CAST(c0_1 + 1 AS DOUBLE))
                        - ln(CAST(n0 + k_1 AS DOUBLE)))))
                    + ((ln(CAST(c1_2 + 1 AS DOUBLE))
                        - ln(CAST(n1 + k_2 AS DOUBLE)))
                      - (ln(CAST(c0_2 + 1 AS DOUBLE))
                        - ln(CAST(n0 + k_2 AS DOUBLE)))) AS l
           FROM s)
         SELECT disc_hi, qty_hi, tax_hi, n, y1,
                round(l, 6) AS log_odds,
                CASE WHEN round(l, 6) > 0.0 THEN CAST(1 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END AS pred
         FROM lo ORDER BY disc_hi, qty_hi, tax_hi""",

    // n18: the n1 replay with a label join, top-7 votes, argmax with the
    // votes-DESC-then-label-ASC tie-break
    "n18_knn_classify" ->
      """WITH uv AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE label IS NOT NULL),
         nr AS (SELECT vec_id, label, v,
                  sqrt(list_dot_product(v, v)) AS nrm FROM uv),
         u AS (SELECT vec_id, label,
                 list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT vec_id AS query_id, label AS true_label, uvec AS qu
               FROM u WHERE vec_id < 16),
         scored AS (
           SELECT q.query_id, c.vec_id AS corpus_id, c.label AS nlabel,
                  list_dot_product(c.uvec, q.qu) AS cos
           FROM u c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked AS (
           SELECT query_id, nlabel,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, corpus_id) AS rn
           FROM scored),
         v2 AS (SELECT query_id, nlabel, CAST(count(*) AS BIGINT) AS votes
                FROM ranked WHERE rn <= 7 GROUP BY 1, 2),
         p AS (SELECT query_id, nlabel, votes,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, nlabel ASC) AS pr
               FROM v2)
         SELECT p.query_id, q.true_label, p.nlabel AS pred_label, p.votes,
                CAST(p.nlabel = q.true_label AS BIGINT) AS correct
         FROM p JOIN q ON p.query_id = q.query_id
         WHERE p.pr = 1 ORDER BY p.query_id""",

    // e24: +1/−1 events, day frame, inclusive running sum
    "e24_concurrency" ->
      """WITH iv AS (
           SELECT o_orderdate AS s0, l_shipdate AS e0
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ev AS (
           SELECT CAST(s0 AS DATE) AS d, 1 AS s, 0 AS e
           FROM iv WHERE s0 IS NOT NULL AND e0 IS NOT NULL
           UNION ALL
           SELECT CAST(e0 AS DATE) AS d, 0 AS s, 1 AS e
           FROM iv WHERE s0 IS NOT NULL AND e0 IS NOT NULL),
         g AS (SELECT d, CAST(sum(s) AS BIGINT) AS n_start,
                      CAST(sum(e) AS BIGINT) AS n_end
               FROM ev GROUP BY 1)
         SELECT d AS day, n_start, n_end,
                CAST(sum(n_start - n_end) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS "open"
         FROM g ORDER BY day""",

    // e25: two exact cent day frames, lag join over range(0,7), the
    // identical one-tree correlation per lag
    "e25_crosscorr" ->
      """WITH dx AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  CAST(sum(CAST(1 AS DECIMAL(12,2))) * 100
                    AS DECIMAL(19,0)) AS xv
           FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
         dyf AS (
           SELECT CAST(l_shipdate AS DATE) AS dd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100
                    AS DECIMAL(19,0)) AS yv
           FROM lineitem
           WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1),
         pairs AS (
           SELECT t.lag, dx.xv, dyf.yv
           FROM dx CROSS JOIN range(0, 7) t(lag)
           JOIN dyf ON dyf.dd = dx.d + CAST(t.lag AS INT)),
         a AS (
           SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(CAST(sum(xv) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
                  CAST(CAST(sum(yv) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
                  CAST(sum(CAST(xv * xv AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(xv * yv AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(yv * yv AS DECIMAL(38,0))) AS DOUBLE) AS syy
           FROM pairs GROUP BY 1)
         SELECT CAST(lag AS BIGINT) AS lag, n_days,
                round((CAST(n_days AS DOUBLE) * sxy - sx * sy)
                  / sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                       * (CAST(n_days AS DOUBLE) * syy - sy * sy)), 6) AS ccf
         FROM a ORDER BY lag""",

    // t22: token counts, 1-row totals, the per-row fixed G² tree
    "t22_keyness" ->
      """WITH base AS (
           SELECT unnest(string_split(text, ' ')) AS token,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
           FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         tok AS (
           SELECT token, CAST(sum(g) AS BIGINT) AS a,
                  CAST(count(*) - sum(g) AS BIGINT) AS b
           FROM base WHERE token <> '' GROUP BY 1),
         tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                        CAST(sum(b) AS BIGINT) AS tb FROM tok),
         s AS (SELECT token, a, b, ta, tb
               FROM tok CROSS JOIN tot WHERE a + b >= 20),
         c AS (SELECT token, a, b,
                 CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
                 CAST(ta AS DOUBLE) AS tad, CAST(tb AS DOUBLE) AS tbd
               FROM s),
         g2t AS (
           SELECT token, a, b, ad, bd, tad, tbd,
                  2.0 * ((CASE WHEN a > 0 THEN ad * ln(ad
                           / (tad * ((ad + bd) / (tad + tbd))))
                          ELSE 0.0 END)
                       + (CASE WHEN b > 0 THEN bd * ln(bd
                           / (tbd * ((ad + bd) / (tad + tbd))))
                          ELSE 0.0 END)) AS g2
           FROM c)
         SELECT token, a, b, round(g2, 4) AS g2,
                round(CASE WHEN ad / (ad + bd) >= tad / (tad + tbd)
                      THEN g2 ELSE -g2 END, 4) AS signed_g2
         FROM g2t ORDER BY token""",

    // t23: every rule an integer cross-multiplied comparison; the only
    // double is the display-only mean_wl (one division + round)
    "t23_gopher_rules" ->
      """WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x != '') AS toks,
             string_split(text, chr(10)) AS lns
           FROM documents),
         c AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks,
               t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks,
               t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_filter(
               ['the','a','table','value','row','data'],
               s -> list_contains(toks, s))) AS BIGINT) AS stop_hits,
             CAST(length(text) - length(replace(text, '#', ''))
               AS BIGINT)
               + (CAST(length(text) - length(replace(text, '...', ''))
                   AS BIGINT) // 3) AS symbols,
             CAST(len(lns) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lns,
               l -> regexp_matches(l, '^\s*[-*\x{2022}]')))
               AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lns,
               l -> regexp_matches(l, '\.\.\.$')))
               AS BIGINT) AS ellipsis_lines
           FROM base),
         f AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
                  THEN round(CAST(sum_len AS DOUBLE) / n_words, 6)
             END AS mean_wl,
             stop_hits,
             (n_words >= 30 AND n_words <= 100000) AS r_words,
             (n_words > 0 AND sum_len >= n_words * 3
               AND sum_len <= n_words * 10) AS r_meanlen,
             (symbols * 10 <= n_words) AS r_symbol,
             (bullet_lines * 10 <= n_lines * 9
               AND ellipsis_lines * 10 <= n_lines * 3) AS r_bullet,
             (alpha_words * 5 >= n_words * 4) AS r_alpha,
             (stop_hits >= 2) AS r_stops
           FROM c)
         SELECT doc_id, n_words, mean_wl, stop_hits, r_words, r_meanlen,
                r_symbol, r_bullet, r_alpha, r_stops,
                (r_words AND r_meanlen AND r_symbol AND r_bullet
                  AND r_alpha AND r_stops) AS keep
         FROM f ORDER BY doc_id""",

    // t24: bigram LM trained on the en slice, LEFT-join smoothed floor for
    // unseen bigrams, per-doc ORDERED ln chain (both engines add the same
    // doubles in the same order), fixed-threshold buckets
    "t24_perplexity_buckets" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x != '') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, lang,
             list_transform(tk[1:len(tk)-1],
               (x,i) -> x || ' ' || tk[i+1]) AS bgs
           FROM toks),
         train AS (
           SELECT unnest(bgs) AS bigram FROM bg WHERE lang = 'en'),
         bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram
                FROM train GROUP BY 1),
         cc AS (SELECT string_split(bigram, ' ')[1] AS w1,
                       CAST(count(*) AS BIGINT) AS c_context
                FROM train GROUP BY 1),
         v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM bc),
         stream AS (
           SELECT doc_id, u.b AS bigram, u.p AS pos
           FROM (SELECT doc_id,
                   unnest(list_transform(bgs,
                     (x,i) -> {'b': x, 'p': i})) AS u
                 FROM bg)),
         lp AS (
           SELECT s.doc_id, s.pos,
             ln((coalesce(bc.c_bigram, 0) + 0.5)
                / (coalesce(cc.c_context, 0)
                   + CAST(v.v AS DOUBLE) * 0.5)) AS lp
           FROM stream s
           LEFT JOIN bc ON s.bigram = bc.bigram
           LEFT JOIN cc ON string_split(s.bigram, ' ')[1] = cc.w1
           CROSS JOIN v),
         chain AS (
           SELECT doc_id, pos,
             sum(lp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM lp),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  max_by(cum, pos) AS sum_lp
           FROM chain GROUP BY 1)
         SELECT doc_id, n_bigrams,
                round(sum_lp / n_bigrams, 6) AS avg_logprob,
                CASE WHEN sum_lp >= n_bigrams * (-4.11) THEN 'head'
                     WHEN sum_lp >= n_bigrams * (-4.19) THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM agg ORDER BY doc_id""",

    // m18: m17's split/fit/residual chain with the quantile pick and
    // coverage PER GROUP (all windows PARTITION BY grp)
    "m18_mondrian_conformal" ->
      """WITH base AS (
           SELECT substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                    || CAST(l_linenumber AS VARCHAR)), 1, 1) AS h,
                  CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(l_quantity AS DECIMAL(12,2)) AS xd,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS yd
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_returnflag IS NOT NULL),
         fitagg AS (
           SELECT CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(xd) AS DOUBLE) AS sx,
                  CAST(sum(yd) AS DOUBLE) AS sy,
                  CAST(sum(xd * xd) AS DOUBLE) AS sxx,
                  CAST(sum(xd * yd) AS DOUBLE) AS sxy
           FROM base WHERE h <= '9'),
         fit AS (
           SELECT round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6)
                    AS slope,
                  round(sy / nd - ((nd * sxy - sx * sy)
                    / (nd * sxx - sx * sx)) * (sx / nd), 6) AS intercept
           FROM fitagg),
         cal AS (
           SELECT grp,
                  CAST(floor(abs(CAST(yd AS DOUBLE)
                    - (f.slope * CAST(xd AS DOUBLE) + f.intercept)) * 100.0)
                    AS BIGINT) AS v
           FROM base, fit f WHERE h >= 'a' AND h <= 'c'),
         cells AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
                   FROM cal GROUP BY 1, 2),
         ranked AS (
           SELECT grp, v, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n_cal
           FROM cells),
         ks AS (SELECT grp, v, cum, n_cal,
                  CAST(((n_cal + 1) * 9 + 9) // 10 AS BIGINT) AS k10
                FROM ranked),
         q AS (SELECT grp, min(n_cal) AS n_cal, min(k10) AS k10,
                  min(CASE WHEN cum >= k10 THEN v END) AS q10_cents
               FROM ks GROUP BY grp),
         tst AS (
           SELECT grp,
                  CAST(floor(abs(CAST(yd AS DOUBLE)
                    - (f.slope * CAST(xd AS DOUBLE) + f.intercept)) * 100.0)
                    AS BIGINT) AS v
           FROM base, fit f WHERE h >= 'd'),
         cov AS (
           SELECT t.grp AS grp, q.n_cal AS n_cal, q.k10 AS k10,
                  q.q10_cents AS q10_cents,
                  CAST(count(*) AS BIGINT) AS n_test,
                  CAST(sum(CASE WHEN t.v <= q.q10_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered10
           FROM tst t JOIN q ON q.grp = t.grp
           GROUP BY 1, 2, 3, 4)
         SELECT grp, n_cal, k10, q10_cents, n_test, covered10,
                round(CAST(covered10 AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
                  AS coverage10
         FROM cov ORDER BY grp""",

    // m17: md5 split, r49 OLS tree, floor-cent residual cells, the
    // integer conformal rank pick, held-out coverage counts
    "m17_conformal" ->
      """WITH base AS (
           SELECT substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                    || CAST(l_linenumber AS VARCHAR)), 1, 1) AS h,
                  CAST(l_quantity AS DECIMAL(12,2)) AS xd,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS yd
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         fitagg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_train,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(xd) AS DOUBLE) AS sx,
                  CAST(sum(yd) AS DOUBLE) AS sy,
                  CAST(sum(xd * xd) AS DOUBLE) AS sxx,
                  CAST(sum(xd * yd) AS DOUBLE) AS sxy
           FROM base WHERE h <= '9'),
         fit AS (
           SELECT n_train,
                  round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6)
                    AS slope,
                  round(sy / nd - ((nd * sxy - sx * sy)
                    / (nd * sxx - sx * sx)) * (sx / nd), 6) AS intercept
           FROM fitagg),
         cal AS (
           SELECT CAST(floor(abs(CAST(yd AS DOUBLE)
                    - (f.slope * CAST(xd AS DOUBLE) + f.intercept)) * 100.0)
                    AS BIGINT) AS v
           FROM base, fit f WHERE h >= 'a' AND h <= 'c'),
         cells AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY 1),
         ranked AS (
           SELECT v, c, CAST(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum
           FROM cells),
         ks AS (
           SELECT CAST(sum(c) AS BIGINT) AS n_cal,
                  CAST(((sum(c) + 1) * 19 + 19) // 20 AS BIGINT) AS k05,
                  CAST(((sum(c) + 1) * 9 + 9) // 10 AS BIGINT) AS k10,
                  CAST(((sum(c) + 1) * 4 + 4) // 5 AS BIGINT) AS k20
           FROM cells),
         q AS (
           SELECT min(k.n_cal) AS n_cal, min(k.k05) AS k05,
                  min(k.k10) AS k10, min(k.k20) AS k20,
                  min(CASE WHEN r.cum >= k.k05 THEN r.v END) AS q05_cents,
                  min(CASE WHEN r.cum >= k.k10 THEN r.v END) AS q10_cents,
                  min(CASE WHEN r.cum >= k.k20 THEN r.v END) AS q20_cents
           FROM ranked r, ks k),
         tst AS (
           SELECT CAST(floor(abs(CAST(yd AS DOUBLE)
                    - (f.slope * CAST(xd AS DOUBLE) + f.intercept)) * 100.0)
                    AS BIGINT) AS v
           FROM base, fit f WHERE h >= 'd'),
         cov AS (
           SELECT q.n_cal AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
                  q.k05 AS k05, q.q05_cents AS q05_cents,
                  CAST(sum(CASE WHEN t.v <= q.q05_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered05,
                  q.k10 AS k10, q.q10_cents AS q10_cents,
                  CAST(sum(CASE WHEN t.v <= q.q10_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered10,
                  q.k20 AS k20, q.q20_cents AS q20_cents,
                  CAST(sum(CASE WHEN t.v <= q.q20_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered20
           FROM tst t, q
           GROUP BY q.n_cal, q.k05, q.q05_cents, q.k10, q.q10_cents,
                    q.k20, q.q20_cents)
         SELECT f.n_train, c.n_cal, c.n_test, f.slope, f.intercept,
                c.k05, c.q05_cents, c.covered05,
                round(CAST(c.covered05 AS DOUBLE)
                  / CAST(c.n_test AS DOUBLE), 6) AS coverage05,
                c.k10, c.q10_cents, c.covered10,
                round(CAST(c.covered10 AS DOUBLE)
                  / CAST(c.n_test AS DOUBLE), 6) AS coverage10,
                c.k20, c.q20_cents, c.covered20,
                round(CAST(c.covered20 AS DOUBLE)
                  / CAST(c.n_test AS DOUBLE), 6) AS coverage20
         FROM cov c, fit f""",

    // m16: the PAVA minimax identity replayed relationally — cell frame,
    // k² cumulative self-join, range means, min-over-j then max-over-i;
    // every mean ONE long/long division, min/max order-independent
    "m16_isotonic" ->
      """WITH c AS (
           SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS cell,
                  CAST(count(*) AS BIGINT) AS w,
                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS sy
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1),
         cum AS (
           SELECT a.cell, a.w, a.sy,
                  CAST(sum(b.w) AS BIGINT) AS cw,
                  CAST(sum(b.sy) AS BIGINT) AS cy
           FROM c a JOIN c b ON b.cell <= a.cell GROUP BY 1, 2, 3),
         means AS (
           SELECT lo.cell AS i, hi.cell AS j,
                  CAST(hi.cy - (lo.cy - lo.sy) AS DOUBLE)
                    / CAST(hi.cw - (lo.cw - lo.w) AS DOUBLE) AS m
           FROM cum lo JOIN cum hi ON hi.cell >= lo.cell),
         inn AS (
           SELECT m.i, g.cell AS t, min(m.m) AS inner_min
           FROM means m JOIN c g ON g.cell >= m.i AND g.cell <= m.j
           GROUP BY 1, 2),
         iso AS (SELECT t AS cell, max(inner_min) AS iso0 FROM inn GROUP BY 1)
         SELECT c.cell, c.w,
                round(CAST(c.sy AS DOUBLE) / CAST(c.w AS DOUBLE), 6) AS rate,
                round(iso.iso0, 6) AS iso
         FROM c JOIN iso ON c.cell = iso.cell
         ORDER BY c.cell""",

    // n20: MSB-first sign words (acc·2+bit ≡ 1<<(31−i)), integer Hamming,
    // exact-cosine rerank over the survivors (the n1 dot-product idiom)
    "n20_binary_hamming" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(range(0, 2), w ->
               list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN embedding[w*32 + i + 1] > 0
                      THEN (CAST(1 AS BIGINT) << (31 - i))
                      ELSE CAST(0 AS BIGINT) END))) AS wds,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         q AS (SELECT vec_id AS query_id, wds AS qw, v AS qv
               FROM e WHERE vec_id < 8),
         pairs AS (
           SELECT q.query_id, c.vec_id AS corpus_id,
             CAST(bit_count(xor(c.wds[1], q.qw[1]))
               + bit_count(xor(c.wds[2], q.qw[2])) AS BIGINT) AS hamming,
             c.v AS cv, q.qv AS qv
           FROM e c CROSS JOIN q WHERE c.vec_id != q.query_id),
         rh AS (
           SELECT query_id, corpus_id, hamming, cv, qv,
             row_number() OVER (PARTITION BY query_id
               ORDER BY hamming, corpus_id) AS rank_h
           FROM pairs),
         topk AS (SELECT * FROM rh WHERE rank_h <= 5),
         rc AS (
           SELECT query_id, corpus_id, hamming,
             CAST(rank_h AS BIGINT) AS rank_h,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC,
               corpus_id) AS BIGINT) AS rank_c
           FROM topk)
         SELECT query_id, corpus_id, hamming, rank_h, rank_c FROM rc
         ORDER BY query_id, rank_h""",

    // e26: day frame, windowed cum ≡ the engine's sharded prefix, the
    // integer D_t score, argmax by (|D| desc, t asc)
    "e26_changepoint" ->
      """WITH d AS (
           SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         idx AS (
           SELECT day, c,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(c) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM d),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                        CAST(sum(c) AS BIGINT) AS total FROM d),
         s AS (
           SELECT i.day, i.t, i.cum, n_days, total,
                  n_days * i.cum - i.t * total AS dd
           FROM idx i CROSS JOIN tot WHERE i.t < n_days)
         SELECT CAST(day AS VARCHAR) AS split_day, t, n_days, total,
                cum AS cum_left, dd AS d,
                round(CAST(cum AS DOUBLE) / t, 6) AS mean_before,
                round(CAST(total - cum AS DOUBLE) / (n_days - t), 6)
                  AS mean_after
         FROM s ORDER BY abs(dd) DESC, t LIMIT 1""",

    // r60: two longs (ssq, c2) over eligible subjects, one fixed tree
    "r60_fleiss_kappa" ->
      """WITH base AS (
           SELECT l_orderkey AS subj, l_returnflag AS cat FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
         nij AS (SELECT subj, cat, CAST(count(*) AS BIGINT) AS nij
                 FROM base GROUP BY 1, 2),
         ps AS (SELECT subj, CAST(sum(nij) AS BIGINT) AS mi,
                       CAST(sum(nij * nij) AS BIGINT) AS sq
                FROM nij GROUP BY 1),
         el AS (SELECT subj, sq FROM ps WHERE mi = 4),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
                      CAST(sum(sq) AS BIGINT) AS ssq FROM el),
         cj AS (SELECT n.cat, CAST(sum(n.nij) AS BIGINT) AS cj
                FROM nij n JOIN el e ON n.subj = e.subj GROUP BY 1),
         c2 AS (SELECT CAST(coalesce(sum(cj * cj), 0) AS BIGINT) AS c2
                FROM cj),
         st AS (SELECT n_subjects, ssq, c2.c2,
                  CAST(ssq - n_subjects * 4 AS DOUBLE)
                    / (CAST(n_subjects AS DOUBLE) * 4.0 * 3.0) AS pbar0,
                  CAST(c2.c2 AS DOUBLE)
                    / ((CAST(n_subjects AS DOUBLE) * 4.0)
                       * (CAST(n_subjects AS DOUBLE) * 4.0)) AS pe0
                FROM a CROSS JOIN c2)
         SELECT n_subjects, CAST(4 AS BIGINT) AS m, ssq, c2,
                round(pbar0, 6) AS pbar, round(pe0, 6) AS pe,
                round((pbar0 - pe0) / (1.0 - pe0), 6) AS kappa
         FROM st""",

    // x7: per-frame 8-bin integer grid sums replayed from char codes
    // (3× the bin's 32 char codes — gray PNG r=g=b), L1 frame distances,
    // the islands census; all integer
    "x7_shot_boundaries" ->
      """WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 1024, ' ')
                    AS padded
           FROM documents),
         d AS (
           SELECT doc_id, f,
             list_transform(range(0, 8), b ->
               3 * list_sum(list_transform(range(1, 33), i ->
                 unicode(substr(padded,
                   CAST(256 * f + 32 * b + i AS INT), 1))))) AS bins
           FROM p CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(f)),
         dist AS (
           SELECT a.doc_id, a.f,
             CAST(list_sum(list_transform(range(1, 9),
               b -> abs(a.bins[b] - pr.bins[b]))) AS BIGINT) AS dist
           FROM d a JOIN d pr
             ON a.doc_id = pr.doc_id AND pr.f = a.f - 1)
         SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
                CAST(sum(CASE WHEN dist > 5000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boundaries,
                CAST(1 + sum(CASE WHEN dist > 5000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shots,
                CAST(max(dist) AS BIGINT) AS max_dist,
                CAST(sum(dist) AS BIGINT) AS total_dist
         FROM dist GROUP BY 1 ORDER BY 1""",

    // j9: forward as-of ≡ DuckDB backward ASOF on NEGATED epoch
    "j9_asof_forward" ->
      """SELECT v.user_id, v.event_id, p.pid AS next_purchase_id,
                p.pv AS next_value
         FROM (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view') v
         ASOF LEFT JOIN
              (SELECT user_id, ts, CAST(min(event_id) AS BIGINT) AS pid,
                      max(value) AS pv
               FROM events WHERE event_type = 'purchase'
               GROUP BY 1, 2) p
           ON v.user_id = p.user_id AND -epoch_us(v.ts) >= -epoch_us(p.ts)
         ORDER BY v.event_id""",

    // r63: doubled-cent global median off the value-cell cumsum, integer
    // split, then the r25 chi² completion template on the 2×k cells
    "r63_mood_median" ->
      """WITH base AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 200
                    AS BIGINT) AS v2
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         vc AS (SELECT v2 AS v, CAST(count(*) AS BIGINT) AS c
                FROM base GROUP BY 1),
         cum AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS BIGINT) AS ci,
                   CAST(sum(c) OVER () AS BIGINT) AS n FROM vc),
         med AS (SELECT CAST((min(CASE WHEN ci >= (n + 1) // 2 THEN v END)
                            + min(CASE WHEN ci >= (n + 2) // 2 THEN v END))
                         // 2 AS BIGINT) AS med2 FROM cum),
         cl AS (SELECT grp,
                  CASE WHEN v2 > med2 THEN 1 ELSE 0 END AS above
                FROM base CROSS JOIN med),
         cells AS (SELECT grp, above, CAST(count(*) AS BIGINT) AS o
                   FROM cl GROUP BY 1, 2),
         m AS (SELECT grp, above, o,
                 sum(o) OVER (PARTITION BY grp) AS rt,
                 sum(o) OVER (PARTITION BY above) AS ct,
                 sum(o) OVER () AS n
               FROM cells),
         cc AS (SELECT grp, above, o,
                  (CAST(o * n - rt * ct AS DOUBLE)
                    * CAST(o * n - rt * ct AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
                      * CAST(ct AS DOUBLE)) AS contrib,
                  rt, ct, n
                FROM m),
         run AS (SELECT grp, above, o,
                   sum(contrib) OVER (ORDER BY grp, above
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS chi2_running,
                   sum(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                       / CAST(n AS DOUBLE)) OVER (ORDER BY grp, above
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS exp_running
                 FROM cc),
         ag AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                       CAST(count(DISTINCT grp) AS BIGINT) AS r,
                       CAST(count(DISTINCT above) AS BIGINT) AS c,
                       max(chi2_running) AS chi2o,
                       max(exp_running) AS expo
                FROM run)
         SELECT round(CAST(med.med2 AS DOUBLE) / 200.0, 3) AS median_v,
                n, r, c,
                round(chi2o + (CAST(n AS DOUBLE) - expo), 6) AS chi2,
                round(sqrt((chi2o + (CAST(n AS DOUBLE) - expo))
                  / (CAST(n AS DOUBLE)
                     * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS v
         FROM ag CROSS JOIN med""",

    // r64: exact per-group DECIMAL power sums, the identical staged trees
    "r64_cohens_d" ->
      """WITH a AS (
           SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) END)
                    AS DOUBLE) AS sa,
                  CAST(sum(CASE WHEN l_returnflag <> 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) END)
                    AS DOUBLE) AS sb,
                  CAST(sum(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(l_extendedprice AS DECIMAL(12,2)) END)
                    AS DOUBLE) AS ssa,
                  CAST(sum(CASE WHEN l_returnflag <> 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(l_extendedprice AS DECIMAL(12,2)) END)
                    AS DOUBLE) AS ssb
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         st AS (SELECT n_a, n_b,
                  sa / CAST(n_a AS DOUBLE) AS ma,
                  sb / CAST(n_b AS DOUBLE) AS mb,
                  sqrt(((ssa - sa * sa / CAST(n_a AS DOUBLE))
                        + (ssb - sb * sb / CAST(n_b AS DOUBLE)))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))
                    AS sp
                FROM a),
         st2 AS (SELECT n_a, n_b, ma, mb, sp, (ma - mb) / sp AS d FROM st)
         SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                round(sp, 6) AS sd_pooled, round(d, 6) AS d,
                round(d * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)
                  + CAST(n_b AS DOUBLE)) - 9.0)), 6) AS g
         FROM st2""",

    // r65: cent cells, windowed cum ≡ the sharded prefix, integer
    // two-limit supremum, argmax by (d desc, v asc), one division
    "r65_ks_uniform" ->
      """WITH base AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             AS BIGINT) AS vc
           FROM orders WHERE o_totalprice IS NOT NULL),
         cells AS (SELECT vc AS v, CAST(count(*) AS BIGINT) AS c
                   FROM base GROUP BY 1),
         cum AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS BIGINT) AS ci,
                   CAST(sum(c) OVER () AS BIGINT) AS n,
                   CAST(min(v) OVER () AS BIGINT) AS lo,
                   CAST(max(v) OVER () AS BIGINT) AS hi
                 FROM cells),
         s AS (SELECT v, n, lo, hi, hi - lo AS span,
                 abs(ci * (hi - lo) - n * (v - lo)) AS d1,
                 abs((ci - c) * (hi - lo) - n * (v - lo)) AS d2
               FROM cum),
         s2 AS (SELECT v, n, lo, hi, span,
                  greatest(d1, d2) AS dmax FROM s)
         SELECT n,
                round(CAST(lo AS DOUBLE) / 100.0, 2) AS lo,
                round(CAST(hi AS DOUBLE) / 100.0, 2) AS hi,
                dmax AS d_num,
                CASE WHEN span > 0 THEN
                  round(CAST(dmax AS DOUBLE)
                    / CAST(n * span AS DOUBLE), 6) END AS d,
                round(CAST(v AS DOUBLE) / 100.0, 2) AS at_v
         FROM s2 ORDER BY dmax DESC, v LIMIT 1""",

    // r61: three longs, exact integer identities to MSB/MSW, fixed trees
    "r61_icc" ->
      """WITH pg AS (
           SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
                  CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1),
         el AS (SELECT * FROM pg WHERE n_g = 4),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                       CAST(sum(sy * sy) AS BIGINT) AS a,
                       CAST(sum(sy) AS BIGINT) AS t,
                       CAST(sum(syy) AS BIGINT) AS q FROM el),
         st AS (SELECT n_groups, a, t, q,
                  CAST(n_groups * a - t * t AS DOUBLE)
                    / (CAST(n_groups AS DOUBLE) * 4.0
                       * (CAST(n_groups AS DOUBLE) - 1.0)) AS msb0,
                  CAST(q * 4 - a AS DOUBLE)
                    / (4.0 * CAST(n_groups AS DOUBLE) * (4.0 - 1.0)) AS msw0
                FROM ag)
         SELECT n_groups, CAST(4 AS BIGINT) AS k, a, t, q,
                round(msb0, 6) AS msb, round(msw0, 6) AS msw,
                round((msb0 - msw0) / (msb0 + (4.0 - 1.0) * msw0), 6) AS icc
         FROM st""",

    // r62: observed cells, margin windows, SIGNED ln chain, last by rank
    "r62_gtest" ->
      """WITH cells AS (
           SELECT l_returnflag AS r, l_linestatus AS c,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT r, c, o,
                 CAST(sum(o) OVER (PARTITION BY r) AS BIGINT) AS rt,
                 CAST(sum(o) OVER (PARTITION BY c) AS BIGINT) AS ct,
                 CAST(sum(o) OVER () AS BIGINT) AS n FROM cells),
         ch AS (SELECT r, c,
                  sum(2.0 * CAST(o AS DOUBLE)
                    * ln(CAST(o * n AS DOUBLE) / CAST(rt * ct AS DOUBLE)))
                    OVER (ORDER BY r, c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS g_run
                FROM m),
         lastg AS (SELECT g_run FROM ch ORDER BY r DESC, c DESC LIMIT 1),
         meta AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                         CAST(count(DISTINCT r) AS BIGINT) AS r,
                         CAST(count(DISTINCT c) AS BIGINT) AS c
                  FROM cells)
         SELECT meta.n, meta.r, meta.c, round(lastg.g_run, 6) AS g
         FROM meta CROSS JOIN lastg""",

    // t25: per-(doc, token) multiplicities, the ordered m·ln m chain,
    // H = ln n − Σ/n
    "t25_token_entropy" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x != '')) AS token
           FROM documents),
         cnt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS m
                 FROM tok GROUP BY 1, 2),
         ch AS (SELECT doc_id, token, m,
                  sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)))
                    OVER (PARTITION BY doc_id ORDER BY token
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS mlm
                FROM cnt),
         agg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                        CAST(count(*) AS BIGINT) AS n_types,
                        max_by(mlm, token) AS mlm
                 FROM ch GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
                round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                  AS ttr,
                round(ln(CAST(n_tokens AS DOUBLE))
                  - mlm / CAST(n_tokens AS DOUBLE), 6) AS entropy
         FROM agg ORDER BY doc_id""",

    // t26: vocab top-k by (freq desc, token), ordered ln chains, the
    // closed-form OLS over the chains' last links
    "t26_zipf_fit" ->
      """WITH vocab AS (
           SELECT token, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(list_filter(
                   string_split_regex(trim(text), '\s+'), x -> x != ''))
                   AS token
                 FROM documents WHERE text IS NOT NULL)
           GROUP BY 1),
         top AS (
           SELECT token, freq,
                  CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS rnk
           FROM vocab ORDER BY freq DESC, token LIMIT 100),
         ch AS (
           SELECT rnk, freq,
             CAST(count(*) OVER w AS DOUBLE) AS cn,
             sum(ln(CAST(rnk AS DOUBLE))) OVER w AS cx,
             sum(ln(CAST(freq AS DOUBLE))) OVER w AS cy,
             sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(freq AS DOUBLE)))
               OVER w AS cxy,
             sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)))
               OVER w AS cxx,
             sum(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE)))
               OVER w AS cyy,
             max(CASE WHEN rnk = 1 THEN freq END) OVER w AS tf
           FROM top
           WINDOW w AS (ORDER BY rnk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         lastc AS (SELECT * FROM ch ORDER BY rnk DESC LIMIT 1),
         st AS (SELECT cn AS nd, cx AS sx, cy AS sy, cxy AS sxy,
                       cxx AS sxx, cyy AS syy, tf AS top_freq
                FROM lastc),
         st2 AS (SELECT nd, top_freq,
                   nd * sxy - sx * sy AS num,
                   nd * sxx - sx * sx AS den,
                   sx, sy, syy
                 FROM st)
         SELECT CAST(nd AS BIGINT) AS n_ranks, CAST(top_freq AS BIGINT)
                  AS top_freq,
                round(num / den, 6) AS slope,
                round((sy - (num / den) * sx) / nd, 6) AS intercept,
                round(num * num / (den * (nd * syy - sy * sy)), 6) AS r2
         FROM st2""",

    // q22: stratum 2×2 longs, cross-product signs, 1-row pooled combine
    // q23: per-key counts → value-level frequency cells → prefix; Gini
    // via the per-cell Σi·x closed form, p99 the integer rank pick,
    // top-10 mass down the descending prefix — all exact longs
    "q23_key_skew" ->
      """WITH counts AS (
           SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         vc AS (SELECT cnt AS v, CAST(count(*) AS BIGINT) AS k
                FROM counts GROUP BY 1),
         pref AS (
           SELECT v, k,
                  CAST(coalesce(sum(k) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum
           FROM vc),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_keys,
                        CAST(sum(v * k) AS BIGINT) AS n_rows,
                        CAST(max(v) AS BIGINT) AS max_count
                 FROM vc),
         tw AS (SELECT p.v, p.k, p.cum, t.n_keys, t.n_rows, t.max_count,
                       CAST((t.n_keys * 99 + 99) // 100 AS BIGINT) AS k99,
                       t.n_keys - p.cum - p.k AS keys_above
                FROM pref p, tot t),
         agg AS (
           SELECT min(n_rows) AS n_rows, min(n_keys) AS n_keys,
                  min(max_count) AS max_count,
                  min(CASE WHEN cum + k >= k99 THEN v END) AS p99_count,
                  CAST(sum(v * greatest(0, least(k, 10 - keys_above)))
                    AS BIGINT) AS top10_count,
                  CAST(sum(v * (k * cum + (k * (k + 1)) // 2)) AS BIGINT) AS s
           FROM tw)
         SELECT n_rows, n_keys, max_count, p99_count, top10_count,
                round(CAST(top10_count AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
                  AS top10_share,
                round(2.0 * CAST(s AS DOUBLE)
                  / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
                  - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
                  AS gini
         FROM agg""",

    "q22_simpson_audit" ->
      """WITH base AS (
           SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT)
                    AS stratum,
                  (o_orderpriority = '1-URGENT') AS e,
                  (o_orderstatus = 'F') AS o
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
             AND o_orderstatus IS NOT NULL),
         cells AS (
           SELECT stratum,
             CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
               AS BIGINT) AS d
           FROM base GROUP BY 1),
         pooled AS (
           SELECT CASE WHEN sum(a) * sum(d) > sum(b) * sum(c) THEN 1
                       WHEN sum(a) * sum(d) < sum(b) * sum(c) THEN -1
                       ELSE 0 END AS pooled_dir
           FROM cells)
         SELECT stratum, a, b, c, d,
                CASE WHEN a * d > b * c THEN 1
                     WHEN a * d < b * c THEN -1 ELSE 0 END AS dir,
                pooled_dir,
                (CASE WHEN a * d > b * c THEN 1
                      WHEN a * d < b * c THEN -1 ELSE 0 END) != 0
                  AND pooled_dir != 0
                  AND (CASE WHEN a * d > b * c THEN 1
                            WHEN a * d < b * c THEN -1 ELSE 0 END)
                    != pooled_dir AS flipped
         FROM cells CROSS JOIN pooled
         ORDER BY stratum""",

    // s36: base nonnegatives + repaired |negatives| ≡ abs over everyone
    "s36_check_enforced" ->
      """SELECT c_mktsegment,
                CAST(count(*) AS BIGINT) AS n,
                round(min(abs(c_acctbal)), 2) AS min_bal,
                round(CAST(sum(CAST(abs(c_acctbal) AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS sum_bal
         FROM customer
         GROUP BY 1 ORDER BY 1""",

    // r55: nine exact power sums in one aggregate, three identical
    // correlation trees, the closed partial-correlation form over the
    // UNROUNDED staged values
    "r55_partial_corr" ->
      """WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx0,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy0,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sz0,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx0,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy0,
                  CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS szz0,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy0,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sxz0,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS syz0
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
         st AS (
           SELECT n,
                  (CAST(n AS DOUBLE) * sxy0 - sx0 * sy0)
                    / sqrt((CAST(n AS DOUBLE) * sxx0 - sx0 * sx0)
                         * (CAST(n AS DOUBLE) * syy0 - sy0 * sy0)) AS r_xy,
                  (CAST(n AS DOUBLE) * sxz0 - sx0 * sz0)
                    / sqrt((CAST(n AS DOUBLE) * sxx0 - sx0 * sx0)
                         * (CAST(n AS DOUBLE) * szz0 - sz0 * sz0)) AS r_xz,
                  (CAST(n AS DOUBLE) * syz0 - sy0 * sz0)
                    / sqrt((CAST(n AS DOUBLE) * syy0 - sy0 * sy0)
                         * (CAST(n AS DOUBLE) * szz0 - sz0 * sz0)) AS r_yz
           FROM a)
         SELECT n, round(r_xy, 6) AS r_xy, round(r_xz, 6) AS r_xz,
                round(r_yz, 6) AS r_yz,
                round((r_xy - r_xz * r_yz)
                  / sqrt((1.0 - r_xz * r_xz)
                       * (1.0 - r_yz * r_yz)), 6) AS pcor
         FROM st""",

    // r57: customer unit frame, six exact DECIMAL power sums, the
    // identical θ/ρ²/adjusted-mean trees
    "r57_cuped" ->
      """WITH units AS (
           SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE 0 END AS arm,
                  CAST(sum(CASE WHEN o_orderdate < DATE '1995-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END)
                    AS DECIMAL(18,2)) AS x,
                  CAST(sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END)
                    AS DECIMAL(18,2)) AS y
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
             AND o_custkey IS NOT NULL
           GROUP BY o_custkey),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS n_all,
                  CAST(sum(x) AS DOUBLE) AS gsx,
                  CAST(sum(y) AS DOUBLE) AS gsy,
                  CAST(sum(x * x) AS DOUBLE) AS gsxx,
                  CAST(sum(x * y) AS DOUBLE) AS gsxy,
                  CAST(sum(y * y) AS DOUBLE) AS gsyy
           FROM units),
         a AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS DOUBLE) AS asx,
                  CAST(sum(y) AS DOUBLE) AS asy
           FROM units GROUP BY 1),
         s AS (SELECT * FROM a CROSS JOIN g),
         f AS (
           SELECT arm, n,
                  asy / CAST(n AS DOUBLE) AS mean_y,
                  (CAST(n_all AS DOUBLE) * gsxy - gsx * gsy)
                    / (CAST(n_all AS DOUBLE) * gsxx - gsx * gsx) AS theta,
                  ((CAST(n_all AS DOUBLE) * gsxy - gsx * gsy)
                    * (CAST(n_all AS DOUBLE) * gsxy - gsx * gsy))
                    / ((CAST(n_all AS DOUBLE) * gsxx - gsx * gsx)
                     * (CAST(n_all AS DOUBLE) * gsyy - gsy * gsy)) AS rho2,
                  asx / CAST(n AS DOUBLE) AS mean_x,
                  gsx / CAST(n_all AS DOUBLE) AS gmean_x
           FROM s)
         SELECT arm, n, round(mean_y, 6) AS mean_y,
                round(mean_y - theta * (mean_x - gmean_x), 6)
                  AS mean_y_cuped,
                round(theta, 6) AS theta, round(rho2, 6) AS rho2
         FROM f ORDER BY arm""",

    // r58: category counts, exact DECIMAL ΣO², the one-division closed
    // form k·ΣO²/n − n
    "r58_gof_uniform" ->
      """WITH cells AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS obs
           FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(obs) AS BIGINT) AS n,
                  sum(CAST(obs AS DECIMAL(18,0))
                    * CAST(obs AS DECIMAL(18,0))) AS soo
           FROM cells)
         SELECT k, n,
                round(CAST(k AS DOUBLE) * CAST(soo AS DOUBLE)
                  / CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 6) AS chi2,
                k - 1 AS df
         FROM a""",

    // q21: cent cells, partitioned cumsum ranks, LONG overlap sums, the
    // identical display-division trees
    "q21_trimmed_mean" ->
      """WITH cells AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS vc,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2),
         r AS (
           SELECT grp, vc, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM cells),
         r2 AS (SELECT grp, vc, c, ci, n, n * 10 // 100 AS k FROM r),
         clamps AS (
           SELECT grp, n, k,
                  min(CASE WHEN ci >= k + 1 THEN vc END) AS lo_clamp_c,
                  min(CASE WHEN ci >= n - k THEN vc END) AS hi_clamp_c
           FROM r2 GROUP BY 1, 2, 3),
         sums AS (
           SELECT grp,
                  CAST(sum(c * vc) AS BIGINT) AS raw_sum,
                  CAST(sum(greatest(0, least(ci, n - k)
                    - greatest(ci - c, k)) * vc) AS BIGINT) AS trim_sum
           FROM r2 GROUP BY 1)
         SELECT grp, n, k,
                round(CAST(raw_sum AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 100.0), 6) AS mean,
                round(CAST(trim_sum AS DOUBLE)
                  / (CAST(n - 2 * k AS DOUBLE) * 100.0), 6) AS trimmed_mean,
                round(CAST(trim_sum + k * lo_clamp_c + k * hi_clamp_c
                    AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 100.0), 6) AS winsor_mean,
                CAST(lo_clamp_c AS DOUBLE) / 100.0 AS lo_clamp,
                CAST(hi_clamp_c AS DOUBLE) / 100.0 AS hi_clamp
         FROM clamps JOIN sums USING (grp) ORDER BY grp""",

    // n19: distinct basket edges, size-capped baskets, basket-key
    // self-join pair census, integer totals, one final divide
    "n19_cooccurrence" ->
      """WITH e0 AS (
           SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         ok AS (SELECT bk FROM e0 GROUP BY bk HAVING count(*) <= 100),
         e AS (SELECT e0.bk, e0.it FROM e0 JOIN ok USING (bk)),
         tot AS (SELECT it, CAST(count(*) AS BIGINT) AS n_item
                 FROM e GROUP BY 1),
         p AS (SELECT a.it AS item_a, b.it AS item_b
               FROM e a JOIN e b ON a.bk = b.bk AND a.it < b.it),
         c AS (SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_ab
               FROM p GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT item_a, item_b, n_ab, ta.n_item AS n_a, tb.n_item AS n_b,
                round(CAST(n_ab AS DOUBLE)
                  / sqrt(CAST(ta.n_item * tb.n_item AS DOUBLE)), 6)
                  AS cosine
         FROM c JOIN tot ta ON c.item_a = ta.it
                JOIN tot tb ON c.item_b = tb.it
         ORDER BY item_a, item_b""",

    // r28: paired diffs, |d| value counts, exclusive prefix ranks, the
    // three exact longs and the identical closed-form z tree
    "r28_signed_rank" ->
      """WITH pairs AS (
           SELECT a.l_quantity AS x, b.l_quantity AS y
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_linenumber = 1 AND b.l_linenumber = 2
             AND a.l_quantity IS NOT NULL AND b.l_quantity IS NOT NULL),
         nz AS (
           SELECT abs(dd) AS v, CASE WHEN dd > 0 THEN 1 ELSE 0 END AS p
           FROM (SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS dd
                 FROM pairs) WHERE dd <> 0),
         vc AS (
           SELECT v, CAST(count(*) AS BIGINT) AS t,
                  CAST(sum(p) AS BIGINT) AS pos
           FROM nz GROUP BY v),
         pc AS (
           SELECT v, t, pos,
                  coalesce(sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM vc),
         ag AS (
           SELECT CAST(sum(t) AS BIGINT) AS n,
                  CAST(sum(pos * (2 * cum + t + 1)) AS BIGINT) AS w2plus,
                  CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
           FROM pc)
         SELECT n, w2plus, tie_term,
                round((CAST(w2plus AS DOUBLE) / 2.0
                        - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
                      / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                             * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                             - CAST(tie_term AS DOUBLE) / 48.0), 6) AS z
         FROM ag""",

    // r29: stratum 2×2 cells, fixed OR/RR trees, MH/CMH running chains
    // in stratum order — the identical left-to-right expression shapes
    "r29_mantel_haenszel" ->
      """WITH src AS (
           SELECT CAST(year(CAST(l_shipdate AS DATE)) AS VARCHAR) AS stratum,
                  (l_discount >= 0.05) AS x, (l_returnflag = 'R') AS y
           FROM lineitem
           WHERE l_shipdate IS NOT NULL AND l_discount IS NOT NULL
             AND l_returnflag IS NOT NULL),
         cells AS (
           SELECT stratum,
                  CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM src GROUP BY 1),
         run AS (
           SELECT stratum, a, b, c, d,
                  sum(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      / CAST(a + b + c + d AS DOUBLE)) OVER w AS mhn,
                  sum(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(a + b + c + d AS DOUBLE)) OVER w AS mhd,
                  sum(a) OVER w AS a_run,
                  sum(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                      / CAST(a + b + c + d AS DOUBLE)) OVER w AS er,
                  sum(CASE WHEN a + b + c + d > 1 THEN
                        CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                          * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                          / (CAST(a + b + c + d AS DOUBLE)
                             * CAST(a + b + c + d AS DOUBLE)
                             * (CAST(a + b + c + d AS DOUBLE) - 1.0))
                      ELSE 0.0 END) OVER w AS vr
           FROM cells
           WINDOW w AS (ORDER BY stratum
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT stratum, a, b, c, d,
                CASE WHEN b * c > 0
                     THEN round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                                / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6)
                END AS odds_ratio,
                CASE WHEN c > 0
                     THEN round(CAST(a AS DOUBLE)
                                * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                                / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                                   * CAST(c AS DOUBLE)), 6)
                END AS risk_ratio,
                CASE WHEN mhd > 0.0 THEN round(mhn / mhd, 6) END AS or_mh_run,
                CAST(a_run AS BIGINT) AS a_run,
                round(er, 6) AS e_run, round(vr, 6) AS v_run,
                CASE WHEN vr > 0.0
                     THEN round((CAST(a_run AS DOUBLE) - er)
                                * (CAST(a_run AS DOUBLE) - er) / vr, 6)
                     ELSE 0.0 END AS cmh_running
         FROM run ORDER BY stratum""",

    // n11: per-dim explode via the 64-dim cross join, min/max stats, the
    // identical floor-based code and reconstruction-error trees
    "n11_embed_quantize" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS dim),
         ex AS (
           SELECT CAST(d.dim AS BIGINT) AS dim,
                  CAST(embedding[d.dim + 1] AS DOUBLE) AS v
           FROM embeddings, dims d
           WHERE embedding IS NOT NULL),
         st AS (
           SELECT dim, min(v) AS vmin, max(v) AS vmax,
                  CAST(count(*) AS BIGINT) AS n
           FROM ex GROUP BY dim),
         q AS (
           SELECT e.dim, s.n, s.vmin, s.vmax, e.v,
                  CAST(CASE WHEN s.vmax > s.vmin
                       THEN floor((e.v - s.vmin) * 255.0 / (s.vmax - s.vmin)
                                  + 0.5)
                       ELSE 0.0 END AS BIGINT) AS code
           FROM ex e JOIN st s USING (dim))
         SELECT dim, n, vmin, vmax,
                CAST(sum(code) AS BIGINT) AS code_sum,
                CAST(min(code) AS BIGINT) AS code_min,
                CAST(max(code) AS BIGINT) AS code_max,
                round(max(abs(v - (vmin + CAST(code AS DOUBLE)
                                          * (vmax - vmin) / 255.0))), 6)
                  AS max_abs_err
         FROM q GROUP BY dim, n, vmin, vmax ORDER BY dim""",

    // r30: cell frame + margins, MI/entropy running chains (last link via
    // max_by on the cell rank — MI terms are signed), 1-row combine
    "r30_mutual_info" ->
      """WITH cells AS (
           SELECT l_returnflag AS rf, l_linestatus AS ls,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           GROUP BY 1, 2),
         m AS (
           SELECT rf, ls, o,
                  sum(o) OVER (PARTITION BY rf) AS rt,
                  sum(o) OVER (PARTITION BY ls) AS ct,
                  sum(o) OVER () AS n
           FROM cells),
         run AS (
           SELECT o, n,
                  sum(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
                      * ln(CAST(o * n AS DOUBLE) / CAST(rt * ct AS DOUBLE)))
                    OVER (ORDER BY rf, ls
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS mi_run,
                  row_number() OVER (ORDER BY rf, ls) AS rn
           FROM m),
         mi AS (
           SELECT CAST(sum(o) AS BIGINT) AS n, max_by(mi_run, rn) AS mi0
           FROM run),
         hr AS (
           SELECT max(h_run) AS hr0 FROM (
             SELECT sum(0.0 - CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)))
                      OVER (ORDER BY rf
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS h_run
             FROM (SELECT rf, sum(o) AS mt, sum(sum(o)) OVER () AS n
                   FROM cells GROUP BY rf))),
         hc AS (
           SELECT max(h_run) AS hc0 FROM (
             SELECT sum(0.0 - CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)))
                      OVER (ORDER BY ls
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS h_run
             FROM (SELECT ls, sum(o) AS mt, sum(sum(o)) OVER () AS n
                   FROM cells GROUP BY ls)))
         SELECT n, round(mi0, 6) AS mi,
                round(hr0, 6) AS h_r, round(hc0, 6) AS h_c,
                CASE WHEN hr0 * hc0 > 0.0
                     THEN round(mi0 / sqrt(hr0 * hc0), 6)
                     ELSE 0.0 END AS nmi
         FROM mi, hr, hc""",

    // d13: the same planted delta, md5 anti-join vs base, first-id-wins
    // within delta via QUALIFY (the bloom prefilter is exact-invisible)
    "d13_incremental_dedup" ->
      """WITH docs AS (
           SELECT doc_id, text, lang, source, n_chars FROM documents),
         base AS (SELECT * FROM docs WHERE doc_id < 400),
         fresh AS (SELECT * FROM docs WHERE doc_id >= 400),
         delta AS (
           SELECT * FROM fresh
           UNION ALL
           SELECT doc_id + 10000, text, lang, source, n_chars
           FROM base WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 20000, text, lang, source, n_chars
           FROM fresh WHERE doc_id % 17 = 0),
         nodup AS (
           SELECT d.* FROM delta d
           ANTI JOIN base b ON md5(d.text) = md5(b.text))
         SELECT doc_id, lang, source, n_chars FROM nodup
         QUALIFY row_number() OVER (PARTITION BY md5(text)
           ORDER BY doc_id) = 1
         ORDER BY doc_id""",

    // r31: five exact integer sums, the identical closed-form z tree
    "r31_trend_test" ->
      """WITH src AS (
           SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS w,
                  (l_returnflag = 'R') AS y
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
         ag AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS r,
                  CAST(sum(w) AS BIGINT) AS sw_n,
                  CAST(sum(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS sw_r,
                  CAST(sum(w * w) AS BIGINT) AS sw2_n
           FROM src)
         SELECT n, r, sw_n, sw_r, sw2_n,
                round((CAST(n AS DOUBLE) * CAST(sw_r AS DOUBLE)
                        - CAST(sw_n AS DOUBLE) * CAST(r AS DOUBLE))
                      / sqrt(CAST(r AS DOUBLE)
                             * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(sw2_n AS DOUBLE)
                                - CAST(sw_n AS DOUBLE) * CAST(sw_n AS DOUBLE))
                             / CAST(n AS DOUBLE)), 6) AS z
         FROM ag""",

    // r32: in-block doubled ranks via the same two partitioned windows,
    // treatment frame running chain with the identical χ² trees
    "r32_friedman" ->
      """WITH li AS (
           SELECT l_orderkey AS blk, CAST(l_linenumber AS VARCHAR) AS trt,
                  CAST(l_quantity AS BIGINT) AS v
           FROM lineitem
           WHERE l_linenumber <= 3 AND l_quantity IS NOT NULL),
         complete AS (
           SELECT blk FROM li GROUP BY blk HAVING count(*) = 3),
         base AS (SELECT li.* FROM li JOIN complete USING (blk)),
         ranked AS (
           SELECT trt,
                  2 * count(*) OVER (PARTITION BY blk ORDER BY v
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  + count(*) OVER (PARTITION BY blk, v) + 1 AS r2
           FROM base),
         pert AS (
           SELECT trt, CAST(count(*) AS BIGINT) AS n_blocks,
                  CAST(sum(r2) AS BIGINT) AS r2sum
           FROM ranked GROUP BY trt),
         tots AS (
           SELECT CAST(count(DISTINCT blk) AS BIGINT) AS n,
                  (SELECT CAST(sum(t * t * t - t) AS BIGINT) FROM
                    (SELECT count(*) AS t FROM base GROUP BY blk, v)) AS tie_term,
                  (SELECT CAST(count(*) AS BIGINT) FROM pert) AS k
           FROM base),
         run AS (
           SELECT trt, n_blocks, r2sum, n, k, tie_term,
                  12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                          * (CAST(k AS DOUBLE) + 1.0))
                    * sum((CAST(r2sum AS DOUBLE) / 2.0)
                          * (CAST(r2sum AS DOUBLE) / 2.0))
                        OVER (ORDER BY trt
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) AS chi2
           FROM pert, tots)
         SELECT trt, n_blocks, r2sum, n, k, tie_term,
                round(chi2, 6) AS chi2_running,
                round(chi2 / (1.0 - CAST(tie_term AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                     * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0))), 6)
                  AS chi2_corr_running
         FROM run ORDER BY trt""",

    // r33: matching count + margin product sum, kappa as ONE integer-ratio
    // division — (n·agree − pe) / (n² − pe)
    "r33_cohen_kappa" ->
      """WITH src AS (
           SELECT l_returnflag AS a,
                  CASE WHEN l_discount >= 0.06 THEN 'R'
                       WHEN l_discount >= 0.03 THEN 'N'
                       ELSE 'A' END AS b
           FROM lineitem WHERE l_returnflag IS NOT NULL),
         ag AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
           FROM src),
         pe AS (
           SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS pe_num FROM
             (SELECT a AS cat, CAST(count(*) AS BIGINT) AS na FROM src GROUP BY a) x
             JOIN
             (SELECT b AS cat, CAST(count(*) AS BIGINT) AS nb FROM src GROUP BY b) y
             USING (cat))
         SELECT n, agree, pe_num,
                round(CAST(n * agree - pe_num AS DOUBLE)
                      / CAST(n * n - pe_num AS DOUBLE), 6) AS kappa
         FROM ag, pe""",

    // r34: four integer sums, the identical IRR and score-z trees
    "r34_rate_ratio" ->
      """WITH src AS (
           SELECT datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) + 1 AS days,
                  (l_returnflag = 'R') AS ret,
                  (substring(o_orderpriority, 1, 1) IN ('1', '2')) AS g
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
             AND l_returnflag IS NOT NULL AND o_orderpriority IS NOT NULL),
         f AS (SELECT CAST(days AS BIGINT) AS t,
                      CASE WHEN ret THEN 1 ELSE 0 END AS e,
                      CASE WHEN g THEN 1 ELSE 0 END AS gg
               FROM src WHERE days > 0),
         ag AS (
           SELECT CAST(sum(e * gg) AS BIGINT) AS a,
                  CAST(sum(e * (1 - gg)) AS BIGINT) AS b,
                  CAST(sum(t * gg) AS BIGINT) AS t1,
                  CAST(sum(t * (1 - gg)) AS BIGINT) AS t2
           FROM f)
         SELECT a, b, t1, t2,
                CASE WHEN b * t1 > 0
                     THEN round(CAST(a AS DOUBLE) * CAST(t2 AS DOUBLE)
                                / (CAST(b AS DOUBLE) * CAST(t1 AS DOUBLE)), 6)
                END AS irr,
                CASE WHEN a + b > 0 AND t1 > 0 AND t2 > 0
                     THEN round((CAST(a AS DOUBLE) * CAST(t1 + t2 AS DOUBLE)
                                 - CAST(a + b AS DOUBLE) * CAST(t1 AS DOUBLE))
                                / sqrt(CAST(a + b AS DOUBLE)
                                       * CAST(t1 AS DOUBLE)
                                       * CAST(t2 AS DOUBLE)), 6)
                END AS z
         FROM ag""",

    // e15: prefix sum + prefix min — the reflection form of the CUSUM
    // recurrence, pure doubled-unit integer arithmetic
    "e15_cusum" ->
      """WITH counts AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    AS bucket_ts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         pp AS (
           SELECT key, bucket_ts, c,
                  sum(2 * c - 5) OVER (PARTITION BY key ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM counts),
         p AS (
           SELECT key, bucket_ts, c, pp,
                  least(0, min(pp) OVER (PARTITION BY key ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mm
           FROM pp)
         SELECT key, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts, c,
                CAST(pp - mm AS BIGINT) AS cusum2,
                (pp - mm >= 40) AS alarm
         FROM p ORDER BY key, bucket_ts""",

    // e16: distinct (user, day) activity → per-user first day → k-day
    // offsets; count(*) over unique pairs IS the distinct-user count
    "e16_retention" ->
      """WITH act AS (
           SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         f AS (SELECT u, min(d) AS cohort FROM act GROUP BY u),
         j AS (SELECT cohort, datediff('day', cohort, d) AS k
               FROM act JOIN f USING (u)
               WHERE datediff('day', cohort, d) <= 14),
         c AS (SELECT cohort, CAST(k AS BIGINT) AS k,
                 CAST(count(*) AS BIGINT) AS n_users
               FROM j GROUP BY 1, 2),
         sz AS (SELECT cohort, n_users AS cohort_size FROM c WHERE k = 0)
         SELECT CAST(c.cohort AS VARCHAR) AS cohort, c.k, c.n_users,
                sz.cohort_size,
                round(CAST(c.n_users AS DOUBLE)
                      / CAST(sz.cohort_size AS DOUBLE), 6) AS pct
         FROM c JOIN sz USING (cohort)
         ORDER BY cohort, k""",

    // e17: the q10 cent-cell cumsum per (type, day), exact type-1 ranks
    "e17_latency_bands" ->
      """WITH cells AS (
           SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
             AND ts IS NOT NULL
           GROUP BY 1, 2, 3),
         cum AS (
           SELECT event_type, day, vc, c,
                  CAST(sum(c) OVER (PARTITION BY event_type, day
                    ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY event_type, day)
                    AS BIGINT) AS n
           FROM cells),
         f AS (
           SELECT event_type, day, n,
                  min(CASE WHEN ci >= (n + 1) // 2 THEN vc END) AS p50c,
                  min(CASE WHEN ci >= (19 * n + 19) // 20 THEN vc END) AS p95c,
                  max(vc) AS maxc
           FROM cum GROUP BY 1, 2, 3)
         SELECT event_type, day, n,
                CAST(p50c AS DOUBLE) / 100.0 AS p50,
                CAST(p95c AS DOUBLE) / 100.0 AS p95,
                CAST(maxc AS DOUBLE) / 100.0 AS vmax
         FROM f ORDER BY event_type, day""",

    // e18: the n²-scaled integer ACF — six lead arms, HUGEINT sums,
    // one division per (key, lag)
    "e18_acf" -> {
      val arms = (1 to 6).map(k =>
        s"""SELECT key, n, $k AS lag, m,
              lead(m, $k) OVER (PARTITION BY key ORDER BY b) AS ml
            FROM mm""").mkString("\n           UNION ALL\n           ")
      s"""WITH counts AS (
           SELECT event_type AS key,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         mf AS (
           SELECT key, b, c,
                  CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
                  CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS s
           FROM counts),
         mm AS (SELECT key, b, n, n * c - s AS m FROM mf),
         lagged AS (
           $arms),
         num AS (
           SELECT key, CAST(lag AS BIGINT) AS lag, n,
                  sum(CAST(m AS HUGEINT) * ml) AS num
           FROM lagged WHERE ml IS NOT NULL GROUP BY 1, 2, 3),
         den AS (
           SELECT key, sum(CAST(m AS HUGEINT) * m) AS den FROM mm GROUP BY 1)
         SELECT key, lag, n AS n_buckets,
                CASE WHEN den > 0
                     THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
                     ELSE 0.0 END AS acf
         FROM num JOIN den USING (key)
         ORDER BY key, lag"""
    },

    // r75: the e18 moment chain kept at FULL precision, then the
    // ρ²/(n−k) chain per key
    "r75_ljung_box" -> {
      val arms = (1 to 6).map(k =>
        s"""SELECT key, n, $k AS lag, m,
              lead(m, $k) OVER (PARTITION BY key ORDER BY b) AS ml
            FROM mm""").mkString("\n           UNION ALL\n           ")
      s"""WITH counts AS (
           SELECT event_type AS key,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         mf AS (
           SELECT key, b, c,
                  CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
                  CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS s
           FROM counts),
         mm AS (SELECT key, b, n, n * c - s AS m FROM mf),
         lagged AS (
           $arms),
         num AS (
           SELECT key, CAST(lag AS BIGINT) AS lag, n,
                  sum(CAST(m AS HUGEINT) * ml) AS num
           FROM lagged WHERE ml IS NOT NULL GROUP BY 1, 2, 3),
         den AS (
           SELECT key, sum(CAST(m AS HUGEINT) * m) AS den FROM mm GROUP BY 1),
         r AS (
           SELECT key, lag, n,
                  CASE WHEN den > 0
                       THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                       ELSE 0.0 END AS rho
           FROM num JOIN den USING (key))
         SELECT key, lag, n AS n_buckets, round(rho, 6) AS acf,
                round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                      * sum(rho * rho / CAST(n - lag AS DOUBLE))
                        OVER (PARTITION BY key ORDER BY lag
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  6) AS q_run
         FROM r ORDER BY key, lag"""
    },

    // q13: identical digit extraction (decimal-string, no log10), the
    // SAME JVM probability literals, the same running χ² chain
    "q13_benford" ->
      s"""WITH d AS (
           SELECT substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
                    1, 1) AS digit
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1.0),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         e AS (
           SELECT digit, n,
                  CAST(sum(n) OVER () AS DOUBLE)
                    * (CASE digit ${graft.ops.Profile.benfordP.map {
                        case (dd, p) => s"WHEN '$dd' THEN $p" }.mkString(" ")}
                       END) AS expected
           FROM c),
         x AS (
           SELECT digit, n, expected,
                  (CAST(n AS DOUBLE) - expected)
                    * (CAST(n AS DOUBLE) - expected) / expected AS contrib
           FROM e)
         SELECT digit, n, round(expected, 4) AS expected,
                round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (ORDER BY digit
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS chi2_running
         FROM x ORDER BY digit""",

    // q14: the stacked ordered-pair cells as a UNION ALL chain, then the
    // identical dedup + distinct-count integers
    "q14_fd_discovery" -> {
      val fdCols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus")
      val cellSql = (for (a <- fdCols; b <- fdCols if a != b) yield
        s"""SELECT '$a' AS det, '$b' AS dep,
             CAST($a AS VARCHAR) AS dv, CAST($b AS VARCHAR) AS pv
           FROM lineitem""").mkString("\n           UNION ALL\n           ")
      s"""WITH cells AS (
           $cellSql),
         d1 AS (
           SELECT det, dep, dv, pv FROM cells
           WHERE dv IS NOT NULL AND pv IS NOT NULL
           GROUP BY 1, 2, 3, 4)
         SELECT det, dep,
                CAST(count(DISTINCT dv) AS BIGINT) AS n_det,
                CAST(count(*) AS BIGINT) AS n_pairs,
                count(*) = count(DISTINCT dv) AS holds,
                CAST(count(*) - count(DISTINCT dv) AS BIGINT) AS violations,
                round(CAST(count(DISTINCT dv) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 6) AS strength
         FROM d1 GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // q15: the r30 chains PARTITIONED by feature over stacked cells
    "q15_info_gain" ->
      """WITH cells AS (
           SELECT feat, x, y, CAST(count(*) AS BIGINT) AS o FROM (
             SELECT 'l_linestatus' AS feat, CAST(l_linestatus AS VARCHAR) AS x,
                    CAST(l_returnflag AS VARCHAR) AS y FROM lineitem
             UNION ALL
             SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR),
                    CAST(l_returnflag AS VARCHAR) FROM lineitem
             UNION ALL
             SELECT 'ship_year',
                    CAST(year(CAST(l_shipdate AS DATE)) AS VARCHAR),
                    CAST(l_returnflag AS VARCHAR) FROM lineitem)
           WHERE x IS NOT NULL AND y IS NOT NULL
           GROUP BY 1, 2, 3),
         m AS (
           SELECT feat, x, y, o,
                  sum(o) OVER (PARTITION BY feat, x) AS rt,
                  sum(o) OVER (PARTITION BY feat, y) AS ct,
                  sum(o) OVER (PARTITION BY feat) AS n
           FROM cells),
         run AS (
           SELECT feat, o, n,
                  sum(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
                      * ln(CAST(o * n AS DOUBLE) / CAST(rt * ct AS DOUBLE)))
                    OVER (PARTITION BY feat ORDER BY x, y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS mi_run,
                  row_number() OVER (PARTITION BY feat ORDER BY x, y) AS rn
           FROM m),
         mi AS (
           SELECT feat, CAST(sum(o) AS BIGINT) AS n,
                  max_by(mi_run, rn) AS mi0
           FROM run GROUP BY 1),
         hy AS (
           SELECT feat, max(h_run) AS hy0 FROM (
             SELECT feat,
                    sum(0.0 - CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(mt AS DOUBLE) / CAST(n AS DOUBLE)))
                      OVER (PARTITION BY feat ORDER BY y
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS h_run
             FROM (SELECT feat, y, sum(o) AS mt,
                     sum(sum(o)) OVER (PARTITION BY feat) AS n
                   FROM cells GROUP BY 1, 2))
           GROUP BY 1)
         SELECT mi.feat AS feature, mi.n, round(mi0, 6) AS info_gain,
                round(hy0, 6) AS h_label,
                CASE WHEN hy0 > 0.0 THEN round(mi0 / hy0, 6)
                     ELSE 0.0 END AS u_coef
         FROM mi JOIN hy USING (feat) ORDER BY feature""",

    // q16: identical row-local bins, smoothed shares, the same chain
    "q16_psi" ->
      """WITH base AS (
           SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
                  (year(CAST(o_orderdate AS DATE)) <= 1995) AS ref
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
         cells AS (
           SELECT bin,
                  CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
                  CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
                    AS c_cur
           FROM base GROUP BY 1),
         st AS (SELECT bin, c_ref, c_cur,
                  CAST(sum(c_ref) OVER () AS BIGINT) AS n_ref,
                  CAST(sum(c_cur) OVER () AS BIGINT) AS n_cur,
                  CAST(count(*) OVER () AS BIGINT) AS k
                FROM cells),
         t AS (SELECT bin, c_ref, c_cur,
                 ((CAST(c_ref AS DOUBLE) + 0.5)
                    / (CAST(n_ref AS DOUBLE) + CAST(k AS DOUBLE) / 2.0)
                  - (CAST(c_cur AS DOUBLE) + 0.5)
                    / (CAST(n_cur AS DOUBLE) + CAST(k AS DOUBLE) / 2.0))
                 * ln(((CAST(c_ref AS DOUBLE) + 0.5)
                    / (CAST(n_ref AS DOUBLE) + CAST(k AS DOUBLE) / 2.0))
                   / ((CAST(c_cur AS DOUBLE) + 0.5)
                    / (CAST(n_cur AS DOUBLE) + CAST(k AS DOUBLE) / 2.0)))
                   AS contrib
               FROM st)
         SELECT bin, c_ref, c_cur, round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS psi_running
         FROM t ORDER BY bin""",

    // q24: the q16 Laplace trees swept per year against the min-year ref
    // over the complete period×bin grid; chains partitioned by period
    "q24_psi_drift" ->
      """WITH base AS (
           SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS period,
                  CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
         cells AS (
           SELECT period, bin, CAST(count(*) AS BIGINT) AS c
           FROM base GROUP BY 1, 2),
         grid AS (
           SELECT p.period, b.bin
           FROM (SELECT DISTINCT period FROM cells) p,
                (SELECT DISTINCT bin FROM cells) b),
         f AS (
           SELECT g.period, g.bin, coalesce(c.c, 0) AS c
           FROM grid g LEFT JOIN cells c
             ON c.period = g.period AND c.bin = g.bin),
         rp AS (SELECT min(period) AS ref_period FROM cells),
         rf AS (SELECT f.bin, f.c AS c_ref FROM f, rp
                WHERE f.period = rp.ref_period),
         st AS (
           SELECT f.period, f.bin, f.c AS c_cur, r.c_ref,
                  CAST(sum(f.c) OVER (PARTITION BY f.period) AS BIGINT)
                    AS n_cur,
                  CAST(sum(r.c_ref) OVER (PARTITION BY f.period) AS BIGINT)
                    AS n_ref,
                  CAST(count(*) OVER (PARTITION BY f.period) AS BIGINT) AS k
           FROM f JOIN rf r ON r.bin = f.bin),
         t AS (SELECT period, bin, c_ref, c_cur,
                 ((CAST(c_ref AS DOUBLE) + 0.5)
                    / (CAST(n_ref AS DOUBLE) + CAST(k AS DOUBLE) / 2.0)
                  - (CAST(c_cur AS DOUBLE) + 0.5)
                    / (CAST(n_cur AS DOUBLE) + CAST(k AS DOUBLE) / 2.0))
                 * ln(((CAST(c_ref AS DOUBLE) + 0.5)
                    / (CAST(n_ref AS DOUBLE) + CAST(k AS DOUBLE) / 2.0))
                   / ((CAST(c_cur AS DOUBLE) + 0.5)
                    / (CAST(n_cur AS DOUBLE) + CAST(k AS DOUBLE) / 2.0)))
                   AS contrib
               FROM st)
         SELECT period, bin, c_ref, c_cur, round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (PARTITION BY period ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS psi_running
         FROM t ORDER BY period, bin""",

    // j10: the relational BETWEEN left join over the same literal dim —
    // non-overlap guarantees at most one match per point
    "j10_bracket_lookup" ->
      """WITH dim(lo, hi, bracket) AS (VALUES
             (0, 9999999, 'lt_100k'),
             (10000000, 24999999, '100k_250k'),
             (25000000, 39999999, '250k_400k')),
         pts AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
           FROM orders),
         j AS (SELECT p.cents, d.bracket FROM pts p
               LEFT JOIN dim d ON p.cents BETWEEN d.lo AND d.hi)
         SELECT coalesce(bracket, 'none') AS bracket,
                bracket IS NOT NULL AS in_range,
                CAST(count(*) AS BIGINT) AS n,
                min(cents) AS min_cents, max(cents) AS max_cents
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",

    // q17: one conditional-aggregate arm per pair — the identical CENT-long
    // power sums (BIGINT products, HUGEINT totals — exact like Spark's
    // decimal(30,0)) and the identical corr double tree
    "q17_corr_matrix" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val arms = (for (i <- cs.indices; j <- (i + 1) until cs.size) yield {
        val a = cs(i); val b = cs(j)
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
              CASE WHEN sqrt((n_d * sxx - sx * sx) * (n_d * syy - sy * sy))
                     > 0.0
                   THEN round((n_d * sxy - sx * sy)
                     / sqrt((n_d * sxx - sx * sx) * (n_d * syy - sy * sy)), 6)
              END AS corr
           FROM (
             SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(count(*) AS DOUBLE) AS n_d,
                    CAST(sum(xa) AS DOUBLE) AS sx,
                    CAST(sum(xb) AS DOUBLE) AS sy,
                    CAST(sum(xa * xa) AS DOUBLE) AS sxx,
                    CAST(sum(xb * xb) AS DOUBLE) AS syy,
                    CAST(sum(xa * xb) AS DOUBLE) AS sxy
             FROM (
               SELECT CAST(CAST($a AS DECIMAL(12,2)) * 100 AS BIGINT) AS xa,
                      CAST(CAST($b AS DECIMAL(12,2)) * 100 AS BIGINT) AS xb
               FROM lineitem
               WHERE $a IS NOT NULL AND $b IS NOT NULL))"""
      }).mkString("\n           UNION ALL\n           ")
      s"""SELECT * FROM (
           $arms)
         ORDER BY col_a, col_b"""
    },

    // r35: the r29 cell/chain machinery, pooled ψ by max_by last-link,
    // the identical quadratic/harmonic trees, nested CASE so sqrt never
    // sees a negative discriminant
    "r35_breslow_day" ->
      """WITH src AS (
           SELECT CAST(year(CAST(l_shipdate AS DATE)) AS VARCHAR) AS stratum,
                  (l_discount >= 0.05) AS x, (l_returnflag = 'R') AS y
           FROM lineitem
           WHERE l_shipdate IS NOT NULL AND l_discount IS NOT NULL
             AND l_returnflag IS NOT NULL),
         cells AS (
           SELECT stratum,
                  CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM src GROUP BY 1),
         chains AS (
           SELECT stratum, a, b, c, d,
                  sum(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      / CAST(a + b + c + d AS DOUBLE)) OVER w AS mhn,
                  sum(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(a + b + c + d AS DOUBLE)) OVER w AS mhd,
                  row_number() OVER (ORDER BY stratum) AS rn
           FROM cells
           WINDOW w AS (ORDER BY stratum
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pooled AS (
           SELECT max_by(mhn, rn) / max_by(mhd, rn) AS psi FROM chains),
         ex AS (
           SELECT stratum, a, b, c, d,
                  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                    CASE WHEN (psi * CAST(a + b + a + c AS DOUBLE)
                                 + CAST(c + d - a - c AS DOUBLE))
                              * (psi * CAST(a + b + a + c AS DOUBLE)
                                 + CAST(c + d - a - c AS DOUBLE))
                              - 4.0 * (psi - 1.0) * psi
                                * CAST((a + b) * (a + c) AS DOUBLE) >= 0 THEN
                      CASE WHEN psi = 1.0
                           THEN CAST((a + b) * (a + c) AS DOUBLE)
                                / CAST(a + b + c + d AS DOUBLE)
                           ELSE ((psi * CAST(a + b + a + c AS DOUBLE)
                                   + CAST(c + d - a - c AS DOUBLE))
                                 - sqrt((psi * CAST(a + b + a + c AS DOUBLE)
                                          + CAST(c + d - a - c AS DOUBLE))
                                        * (psi * CAST(a + b + a + c AS DOUBLE)
                                           + CAST(c + d - a - c AS DOUBLE))
                                        - 4.0 * (psi - 1.0) * psi
                                          * CAST((a + b) * (a + c) AS DOUBLE)))
                                / (2.0 * (psi - 1.0))
                      END
                    END
                  END AS aexp
           FROM cells, pooled),
         terms AS (
           SELECT stratum, a, b, c, d, aexp,
                  CASE WHEN aexp IS NOT NULL THEN
                    CASE WHEN aexp > 0.0
                              AND CAST(a + b AS DOUBLE) - aexp > 0.0
                              AND CAST(a + c AS DOUBLE) - aexp > 0.0
                              AND CAST(c + d - a - c AS DOUBLE) + aexp > 0.0
                         THEN (CAST(a AS DOUBLE) - aexp)
                              * (CAST(a AS DOUBLE) - aexp)
                              * (1.0 / aexp
                                 + 1.0 / (CAST(a + b AS DOUBLE) - aexp)
                                 + 1.0 / (CAST(a + c AS DOUBLE) - aexp)
                                 + 1.0 / (CAST(c + d - a - c AS DOUBLE) + aexp))
                    END
                  END AS bd_term
           FROM ex)
         SELECT stratum, a, b, c, d,
                round(aexp, 6) AS a_exp, round(bd_term, 6) AS bd_term,
                round(sum(coalesce(bd_term, 0.0)) OVER (ORDER BY stratum
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS bd_running
         FROM terms ORDER BY stratum""",

    // r71: per-nation 2×2 cells, Haldane log-OR/variance trees, running
    // fixed-effect chains, max_by last-link Q/τ², random-effects rechain
    "r71_meta_dl" ->
      """WITH src AS (
           SELECT n_name AS stratum,
                  (substring(o_orderpriority, 1, 1) IN ('1', '2')) AS x,
                  (l_returnflag = 'R') AS y
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE l_returnflag IS NOT NULL AND o_orderpriority IS NOT NULL),
         cells AS (
           SELECT stratum,
                  CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM src GROUP BY 1),
         base AS (
           SELECT stratum, a, b, c, d,
                  ln((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5)
                     / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)))
                    AS y,
                  1.0 / (CAST(a AS DOUBLE) + 0.5) + 1.0 / (CAST(b AS DOUBLE) + 0.5)
                    + 1.0 / (CAST(c AS DOUBLE) + 0.5)
                    + 1.0 / (CAST(d AS DOUBLE) + 0.5) AS v
           FROM cells),
         chains AS (
           SELECT stratum, a, b, c, d, y, v,
                  sum(1.0 / v) OVER w AS sw,
                  sum(1.0 / v * y) OVER w AS swy,
                  sum(1.0 / v * y * y) OVER w AS swy2,
                  sum(1.0 / v * (1.0 / v)) OVER w AS sw2,
                  row_number() OVER (ORDER BY stratum) AS rn
           FROM base
           WINDOW w AS (ORDER BY stratum
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pooled AS (
           SELECT max_by(swy2, rn)
                    - max_by(swy, rn) * max_by(swy, rn) / max_by(sw, rn) AS q,
                  greatest(0.0,
                    (max_by(swy2, rn)
                       - max_by(swy, rn) * max_by(swy, rn) / max_by(sw, rn)
                       - CAST(count(*) - 1 AS DOUBLE))
                    / (max_by(sw, rn) - max_by(sw2, rn) / max_by(sw, rn)))
                    AS tau2
           FROM chains)
         SELECT stratum, a, b, c, d,
                round(y, 6) AS y, round(v, 6) AS v,
                round(q, 6) AS q, round(tau2, 6) AS tau2,
                round(swy / sw, 6) AS fe_run,
                round(sum(1.0 / (v + tau2) * y) OVER w
                      / sum(1.0 / (v + tau2)) OVER w, 6) AS re_run,
                round(1.0 / sqrt(sum(1.0 / (v + tau2)) OVER w), 6) AS re_se_run
         FROM chains, pooled
         WINDOW w AS (ORDER BY stratum
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY stratum""",

    // r36: the four concordance cells and the identical discordant trees
    "r36_mcnemar" ->
      """WITH pairs AS (
           SELECT (a.l_returnflag = 'R') AS r1, (b.l_returnflag = 'R') AS r2
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_linenumber = 1 AND b.l_linenumber = 2
             AND a.l_returnflag IS NOT NULL AND b.l_returnflag IS NOT NULL),
         ag AS (
           SELECT CAST(sum(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n00,
                  CAST(sum(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n01,
                  CAST(sum(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
                  CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11
           FROM pairs)
         SELECT n00, n01, n10, n11,
                CASE WHEN n01 + n10 > 0
                     THEN round(CAST(n01 - n10 AS DOUBLE)
                                * CAST(n01 - n10 AS DOUBLE)
                                / CAST(n01 + n10 AS DOUBLE), 6)
                END AS chi2,
                CASE WHEN n01 + n10 > 0
                     THEN round(CAST(abs(n01 - n10) - 1 AS DOUBLE)
                                * CAST(abs(n01 - n10) - 1 AS DOUBLE)
                                / CAST(n01 + n10 AS DOUBLE), 6)
                END AS chi2_cc
         FROM ag""",

    // r38: the q10 half-cent cell/cumsum median, integer |dev| power sums
    // (HUGEINT ≡ Spark's DECIMAL(38,0)), then the identical r23 chains
    "r38_levene" ->
      """WITH cells AS (
           SELECT CAST(o_orderpriority AS VARCHAR) AS grp,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 200
                    AS BIGINT) AS v2,
                  CAST(count(*) AS BIGINT) AS c
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
           GROUP BY 1, 2),
         cum AS (
           SELECT grp, v2, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM cells),
         med AS (
           SELECT grp, min(CASE WHEN ci >= (n + 1) // 2 THEN v2 END) AS med2
           FROM cum GROUP BY 1),
         z AS (
           SELECT c.grp, med2, abs(v2 - med2) AS z2, c.c
           FROM cells c JOIN med USING (grp)),
         pg AS (
           SELECT grp, med2, CAST(sum(c) AS BIGINT) AS n_g,
                  sum(CAST(c * z2 AS HUGEINT)) AS s0,
                  sum(CAST(z2 * z2 AS HUGEINT) * c) AS ss0
           FROM z GROUP BY 1, 2),
         st AS (
           SELECT grp, med2, n_g,
                  CAST(n_g AS DOUBLE) AS ng,
                  CAST(s0 AS DOUBLE) / 200.0 AS s,
                  CAST(ss0 AS DOUBLE) / 40000.0 AS ss,
                  CAST(sum(n_g) OVER () AS DOUBLE) AS bigN,
                  CAST(count(*) OVER () AS DOUBLE) AS k,
                  CAST(sum(s0) OVER () AS DOUBLE) / 200.0
                    / CAST(sum(n_g) OVER () AS DOUBLE) AS m
           FROM pg),
         r AS (
           SELECT grp, n_g, med2, s / ng AS mad_mean, k, bigN,
                  sum(ss - s * s / ng) OVER (ORDER BY grp
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssw,
                  sum(ng * (s / ng - m) * (s / ng - m)) OVER (ORDER BY grp
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssb
           FROM st)
         SELECT grp, n_g, CAST(med2 AS DOUBLE) / 200.0 AS med,
                round(mad_mean, 6) AS mad_mean,
                ssw AS ssw_running,
                ssb AS ssb_running,
                round((ssb / (k - 1.0)) / (ssw / (bigN - k)), 6) AS w_running
         FROM r ORDER BY grp""",

    // r39: the identical Wilson tree with the SAME JVM z literal
    "r39_wilson" -> {
      val z = graft.stats.Proportion.z95
      val z2 = z * z
      s"""WITH base AS (
           SELECT CAST(o_orderpriority AS VARCHAR) AS grp,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
           FROM orders
           WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
           GROUP BY 1),
         c AS (SELECT grp, n, y,
                 CAST(y AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
                 1.0 + ($z2) / CAST(n AS DOUBLE) AS d
               FROM base),
         f AS (SELECT grp, n, y, phat,
                 (phat + ($z2) / (2.0 * CAST(n AS DOUBLE))) / d AS center,
                 (($z) * sqrt(phat * (1.0 - phat) / CAST(n AS DOUBLE)
                    + ($z2) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                   / d AS half
               FROM c)
         SELECT grp, n, y, round(phat, 6) AS p_hat,
                round(center - half, 6) AS lo,
                round(center + half, 6) AS hi
         FROM f ORDER BY grp"""
    },

    // r40: the identical cell self-join census and tie trees
    "r40_kendall" ->
      """WITH cells AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_discount AS DOUBLE) AS y,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
           GROUP BY 1, 2),
         cd AS (
           SELECT coalesce(sum(CASE WHEN b.y > a.y
                    THEN CAST(a.o AS HUGEINT) * b.o END), 0) AS conc,
                  coalesce(sum(CASE WHEN b.y < a.y
                    THEN CAST(a.o AS HUGEINT) * b.o END), 0) AS disc
           FROM cells a JOIN cells b ON b.x > a.x),
         tx AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS s1 FROM
                  (SELECT x, CAST(sum(o) AS BIGINT) AS t FROM cells
                   GROUP BY x)),
         ty AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS s2 FROM
                  (SELECT y, CAST(sum(o) AS BIGINT) AS t FROM cells
                   GROUP BY y)),
         nr AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_cells FROM cells)
         SELECT n, n_cells, CAST(conc AS BIGINT) AS conc,
                CAST(disc AS BIGINT) AS disc,
                round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                            - CAST(s1 AS DOUBLE) / 2.0)
                         * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                            - CAST(s2 AS DOUBLE) / 2.0)), 6) AS tau_b
         FROM nr, cd, tx, ty""",

    // e20: the identical idx − row_number island constant
    "e20_islands" ->
      """WITH counts AS (
           SELECT event_type AS key,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE value >= 19.0 AND ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         g AS (SELECT key, b, c,
                 epoch_us(b) // 3600000000
                   - row_number() OVER (PARTITION BY key ORDER BY b) AS grp
               FROM counts)
         SELECT key, CAST(epoch(min(b)) AS BIGINT) AS start_ts,
                CAST(epoch(max(b)) AS BIGINT) AS end_ts,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(c) AS BIGINT) AS n_events
         FROM g GROUP BY key, grp ORDER BY key, start_ts""",

    // u7: the identical ALL-variant multiset semantics
    "u7_multiset_ops" ->
      """WITH cust AS (SELECT c_nationkey AS nationkey FROM customer),
         supp AS (SELECT s_nationkey AS nationkey FROM supplier),
         ia AS (SELECT 'intersect_all' AS op, nationkey,
                  CAST(count(*) AS BIGINT) AS n
                FROM (SELECT nationkey FROM cust
                      INTERSECT ALL SELECT nationkey FROM supp)
                GROUP BY 2),
         ea AS (SELECT 'except_all' AS op, nationkey,
                  CAST(count(*) AS BIGINT) AS n
                FROM (SELECT nationkey FROM cust
                      EXCEPT ALL SELECT nationkey FROM supp)
                GROUP BY 2)
         SELECT op, nationkey, n FROM ia
         UNION ALL SELECT op, nationkey, n FROM ea
         ORDER BY op, nationkey""",

    // r41: the identical three-long reduction and continuity-corrected z
    "r41_sign_test" ->
      """WITH p AS (
           SELECT a.l_quantity AS x, b.l_quantity AS y
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_linenumber = 1 AND b.l_linenumber = 2),
         c AS (SELECT
                 CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
                 CAST(sum(CASE WHEN x < y THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
                 CAST(sum(CASE WHEN x = y THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tie
               FROM p)
         SELECT n_pos, n_neg, n_tie,
                CASE WHEN n_pos + n_neg > 0
                     THEN round((abs(CAST(n_pos AS DOUBLE)
                            - CAST(n_pos + n_neg AS DOUBLE) / 2.0) - 0.5)
                          / sqrt(CAST(n_pos + n_neg AS DOUBLE) / 4.0), 6)
                END AS z
         FROM c""",

    // h4: the decade from the decimal string's dot position — no log10
    "h4_log_histogram" ->
      """WITH d AS (
           SELECT CAST(instr(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    AS VARCHAR), '.') - 2 AS BIGINT) AS decade,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1.0)
         SELECT decade, CAST(count(*) AS BIGINT) AS n,
                CAST(min(v) AS DOUBLE) AS vmin,
                CAST(max(v) AS DOUBLE) AS vmax
         FROM d GROUP BY 1 ORDER BY 1""",

    // h3: in-subquery extrema, the identical least/floor bin trees
    "h3_heatmap" ->
      """WITH base AS (
           SELECT CAST(l_extendedprice AS DOUBLE) AS x,
                  CAST(l_quantity AS DOUBLE) AS y
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
         ext AS (
           SELECT min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
           FROM base),
         bins AS (
           SELECT CASE WHEN mxx > mnx
                       THEN least(7, CAST(floor((x - mnx) * 8.0 / (mxx - mnx))
                                          AS BIGINT))
                       ELSE 0 END AS xbin,
                  CASE WHEN mxy > mny
                       THEN least(7, CAST(floor((y - mny) * 8.0 / (mxy - mny))
                                          AS BIGINT))
                       ELSE 0 END AS ybin
           FROM base, ext)
         SELECT CAST(xbin AS BIGINT) AS xbin, CAST(ybin AS BIGINT) AS ybin,
                CAST(count(*) AS BIGINT) AS cnt
         FROM bins GROUP BY 1, 2 ORDER BY 1, 2""",

    // h2: value cells, exclusive cumulative rank, (cum·k) DIV n buckets
    "h2_histogram_depth" ->
      """WITH cells AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         pc AS (SELECT v, c,
                  CAST(coalesce(sum(c) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum
                FROM cells),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
         SELECT cum * 16 // n AS bucket,
                CAST(min(v) AS DOUBLE) / 100.0 AS lo,
                CAST(max(v) AS DOUBLE) / 100.0 AS hi,
                CAST(sum(c) AS BIGINT) AS cnt
         FROM pc, t GROUP BY 1 ORDER BY bucket""",

    // s33: dense row ids are exactly row_number over the unique key order
    // (the two slices are key-contiguous, so one global ranking replays
    // both writes and the metadata-derived append start)
    "s33_identity" ->
      """SELECT doc_id,
                999 + row_number() OVER (ORDER BY doc_id) AS row_id
         FROM documents ORDER BY doc_id""",

    // r24: cent-integer power sums (HUGEINT here, DECIMAL there — same
    // integers), the identical central-moment → skew/kurt → JB tree
    "r24_jarque_bera" ->
      """WITH src AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         p AS (SELECT xc, xc * xc AS x2 FROM src),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(xc) AS DOUBLE) AS s1,
                  CAST(sum(x2) AS DOUBLE) AS s2,
                  CAST(sum(CAST(x2 AS HUGEINT) * xc) AS DOUBLE) AS s3,
                  CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s4
                FROM p),
         d AS (SELECT n, CAST(n AS DOUBLE) AS nd, s1, s2, s3, s4,
                 s1 / CAST(n AS DOUBLE) AS mu FROM ag),
         m AS (SELECT n, nd, mu,
                 s2 / nd - mu * mu AS m2,
                 s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
                 s4 / nd - 4.0 * mu * (s3 / nd)
                   + 6.0 * mu * mu * (s2 / nd)
                   - 3.0 * mu * mu * mu * mu AS m4
               FROM d),
         k AS (SELECT n, nd, m3 / sqrt(m2 * m2 * m2) AS skew,
                 m4 / (m2 * m2) - 3.0 AS kurt FROM m)
         SELECT n, round(skew, 6) AS skew, round(kurt, 6) AS kurt_excess,
                round(nd / 6.0 * (skew * skew + kurt * kurt / 4.0), 4) AS jb
         FROM k""",

    // q10: half-cent integer cells, partitioned cumulative ranks, type-1
    // quantiles at ⌈n/4⌉/⌈3n/4⌉, LONG fences, cell-level outlier census
    "q10_iqr_outliers" ->
      """WITH cells AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 200 AS BIGINT) AS v2,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2),
         cum AS (
           SELECT grp, v2, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM cells),
         f AS (
           SELECT grp, n,
                  min(CASE WHEN ci >= (n + 3) // 4 THEN v2 END) AS q25_2,
                  min(CASE WHEN ci >= (3 * n + 3) // 4 THEN v2 END) AS q75_2
           FROM cum GROUP BY 1, 2),
         f2 AS (
           SELECT grp, n, q25_2, q75_2,
                  q25_2 - 3 * (q75_2 - q25_2) // 2 AS lo2,
                  q75_2 + 3 * (q75_2 - q25_2) // 2 AS hi2
           FROM f)
         SELECT c.grp, f2.n,
                CAST(q25_2 AS DOUBLE) / 200.0 AS q25,
                CAST(q75_2 AS DOUBLE) / 200.0 AS q75,
                CAST(lo2 AS DOUBLE) / 200.0 AS lo_fence,
                CAST(hi2 AS DOUBLE) / 200.0 AS hi_fence,
                CAST(coalesce(sum(CASE WHEN v2 < lo2 THEN c.c END), 0)
                  AS BIGINT) AS n_below,
                CAST(coalesce(sum(CASE WHEN v2 > hi2 THEN c.c END), 0)
                  AS BIGINT) AS n_above
         FROM cells c JOIN f2 USING (grp)
         GROUP BY c.grp, f2.n, q25_2, q75_2, lo2, hi2
         ORDER BY c.grp""",

    // q11: per-column census — counts/extrema + exact distinct + the
    // deterministic mode (count desc, value asc), one block per column
    "q11_profile" ->
      """WITH s1 AS (SELECT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem),
         s2 AS (SELECT CAST(l_linestatus AS VARCHAR) AS v FROM lineitem),
         s3 AS (SELECT CAST(l_linenumber AS VARCHAR) AS v FROM lineitem),
         a1 AS (SELECT count(*) AS n_rows, count(v) AS n_nonnull,
                  count(DISTINCT v) AS n_distinct, min(v) AS min_value,
                  max(v) AS max_value FROM s1),
         t1 AS (SELECT v AS top_value, count(*) AS top_count FROM s1
                WHERE v IS NOT NULL GROUP BY 1
                ORDER BY top_count DESC, top_value LIMIT 1),
         a2 AS (SELECT count(*) AS n_rows, count(v) AS n_nonnull,
                  count(DISTINCT v) AS n_distinct, min(v) AS min_value,
                  max(v) AS max_value FROM s2),
         t2 AS (SELECT v AS top_value, count(*) AS top_count FROM s2
                WHERE v IS NOT NULL GROUP BY 1
                ORDER BY top_count DESC, top_value LIMIT 1),
         a3 AS (SELECT count(*) AS n_rows, count(v) AS n_nonnull,
                  count(DISTINCT v) AS n_distinct, min(v) AS min_value,
                  max(v) AS max_value FROM s3),
         t3 AS (SELECT v AS top_value, count(*) AS top_count FROM s3
                WHERE v IS NOT NULL GROUP BY 1
                ORDER BY top_count DESC, top_value LIMIT 1)
         SELECT * FROM (
           SELECT 'l_returnflag' AS "column", a1.*, t1.* FROM a1, t1
           UNION ALL
           SELECT 'l_linenumber' AS "column", a3.*, t3.* FROM a3, t3
           UNION ALL
           SELECT 'l_linestatus' AS "column", a2.*, t2.* FROM a2, t2)
         ORDER BY "column"""",

    // r16: the distributed dispersion replayed relationally — directed
    // same-group pairs, integer-scaled distances (12·d), one final
    // division per output row (exact-integer discipline, no FP drift)
    "r16_dispersion" ->
      """WITH b AS (SELECT c_custkey AS id, c_mktsegment AS grp,
                      CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS f0,
                      CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS f1,
                      CASE WHEN c_nationkey < 12 THEN 1 ELSE 0 END AS f2,
                      CASE WHEN length(c_name) % 2 = 0 THEN 1 ELSE 0 END AS f3
                    FROM customer WHERE c_custkey <= 150),
         p AS (SELECT a.id AS ida, a.grp AS ga,
                 (a.f0*bb.f0 + a.f1*bb.f1 + a.f2*bb.f2 + a.f3*bb.f3) AS inter,
                 (greatest(a.f0,bb.f0) + greatest(a.f1,bb.f1) +
                  greatest(a.f2,bb.f2) + greatest(a.f3,bb.f3)) AS un
               FROM b a JOIN b bb ON a.id <> bb.id AND a.grp = bb.grp),
         pp AS (SELECT ida, ga,
                  sum(CASE WHEN un = 0 THEN 0 ELSE (12*(un-inter)) // un END) AS s,
                  count(*) AS cnt
                FROM p GROUP BY 1, 2)
         SELECT ga AS grp, max(cnt) + 1 AS gsize,
                round(CAST(sum(s) AS DOUBLE) /
                  (12 * (max(cnt) + 1 - 1) * (max(cnt) + 1)), 6) AS mean_disp,
                round(CAST(max(s) AS DOUBLE) / (12 * max(cnt)), 6) AS max_disp
         FROM pp GROUP BY 1 ORDER BY 1""",

    // x1: the Spark side encodes text as a real 16×16 gray PNG and decodes
    // it back through javax.imageio; gray PNG is lossless and bin 0's mean is
    // sum(first 32 char codes)/32 — a /2^5 dyadic rational, exact in both
    // Float and Double. The oracle recomputes that mean from the char codes.
    // x2: bin 0 of the energy embedding = sum over the first 64 samples
    // of ((code-64)*256)^2 — pure integer replay of the decoded PCM
    "x2_audio_features" ->
      """SELECT doc_id AS media_id, 8000 AS sample_rate, 512 AS n_samples,
           CAST(list_sum(list_transform(
             list_transform(range(1, 65),
               i -> CAST((unicode(substr(padded, CAST(i AS INT), 1)) - 64) * 256 AS BIGINT)),
             v -> v * v)) AS BIGINT) AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 512, ' ') AS padded
               FROM documents)
         ORDER BY media_id""",

    // x6: frame dev² sums from char codes (×65536 = energy), threshold
    // ⟺ Σ(code−64)² > 64·1024, islands via lag-start + run grouping
    "x6_voiced_segments" ->
      """WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 512, ' ')
                    AS padded
           FROM documents),
         fr AS (
           SELECT doc_id, f,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> CAST(unicode(substr(padded,
                           CAST(f * 64 + i AS INT), 1)) - 64 AS BIGINT)
                         * CAST(unicode(substr(padded,
                           CAST(f * 64 + i AS INT), 1)) - 64 AS BIGINT)))
                    AS BIGINT) AS dev2
           FROM p CROSS JOIN range(0, 8) t(f)),
         v AS (
           SELECT doc_id, f,
                  CASE WHEN dev2 > 64 * 1024 THEN 1 ELSE 0 END AS voiced
           FROM fr),
         w AS (
           SELECT doc_id, f, voiced,
                  CASE WHEN voiced = 1 AND coalesce(lag(voiced)
                    OVER (PARTITION BY doc_id ORDER BY f), 0) = 0
                    THEN 1 ELSE 0 END AS seg_start,
                  CAST(f AS BIGINT) - CAST(row_number()
                    OVER (PARTITION BY doc_id, voiced ORDER BY f)
                    AS BIGINT) AS isl
           FROM v),
         runs AS (
           SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS rl
           FROM w WHERE voiced = 1 GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(voiced) AS BIGINT) AS n_voiced,
                  CAST(sum(seg_start) AS BIGINT) AS n_segments
           FROM w GROUP BY 1),
         lr AS (
           SELECT doc_id, CAST(max(rl) AS BIGINT) AS longest_run
           FROM runs GROUP BY 1)
         SELECT a.doc_id AS media_id, CAST(8 AS BIGINT) AS n_frames,
                n_voiced, n_segments,
                coalesce(longest_run, 0) AS longest_run
         FROM agg a LEFT JOIN lr USING (doc_id) ORDER BY media_id""",

    "x1_multimodal_features" ->
      """SELECT doc_id AS media_id, 16 AS width, 16 AS height,
           round(list_sum(list_transform(range(1, 33),
             i -> unicode(substr(padded, CAST(i AS INT), 1)))) / 32.0, 4) AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ') AS padded
               FROM documents)
         ORDER BY media_id""",

    // x4: nearest-neighbor 16→8 keeps even-indexed pixels; resized bin 0
    // is row 0 of the 8×8 image = padded chars at 1-based 2i+1, i<8
    "x4_image_resize" ->
      """SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           round(list_sum(list_transform(range(0, 8),
             i -> unicode(substr(padded, CAST(2 * i + 1 AS INT), 1)))) / 8.0, 4)
             AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ') AS padded
               FROM documents)
         ORDER BY media_id""",

    // x8: each 4×4 tile's mean replayed straight from the padded char
    // codes — pixel (4pr + k/4, 4pc + k%4) is 1-based char 64pr +
    // 16(k/4) + 4pc + k%4 + 1
    "x8_patch_grid" ->
      """WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ')
                    AS padded
           FROM documents),
         g AS (
           SELECT doc_id, padded, pr.i AS patch_row, pc.i AS patch_col
           FROM p, range(0, 4) pr(i), range(0, 4) pc(i))
         SELECT doc_id * 100 + patch_row * 10 + patch_col AS media_id,
                4 AS width, 4 AS height,
                round(list_sum(list_transform(range(0, 16),
                  k -> unicode(substr(padded,
                    CAST(patch_row * 64 + (k // 4) * 16 + patch_col * 4
                         + (k % 4) + 1 AS INT), 1)))) / 16.0, 4) AS e0
         FROM g ORDER BY media_id""",

    // x3: the stride-sampled frames replayed — sample 0 reads chunk 0
    // (chars 1-256), sample 1 reads chunk 2 (chars 513-768) of the padded
    // printable text; e0 is the first 32-pixel bin mean as in x1
    "x3_video_frames" ->
      """WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 1024, ' ')
                    AS padded
           FROM documents),
         f AS (
           SELECT doc_id, 0 AS s, substr(padded, 1, 256) AS fr FROM p
           UNION ALL
           SELECT doc_id, 1 AS s, substr(padded, 513, 256) AS fr FROM p)
         SELECT doc_id * 10 + s AS media_id, 16 AS width, 16 AS height,
                round(list_sum(list_transform(range(1, 33),
                  i -> unicode(substr(fr, CAST(i AS INT), 1)))) / 32.0, 4) AS e0
         FROM f ORDER BY media_id""",

    // e21: identical lead pairing (total order via event_id) + one
    // integer→double division per transition cell
    "e21_markov" ->
      """WITH seq AS (
           SELECT event_type AS src,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS dst
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL),
         tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, n,
                round(CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY src) AS BIGINT)
                         AS DOUBLE), 6) AS p
         FROM tr ORDER BY src, dst""",

    // e22: the identical Σ xᵢ·2^(i−1) LONG numerator and (2^i − 1)
    // denominator — one final division
    "e22_ewma" ->
      """WITH daily AS (
           SELECT event_type AS key,
                  CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
                    AS month,
                  CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                    AS BIGINT)) AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2, 3),
         idx AS (SELECT key, month, day, vc,
                  CAST(row_number() OVER (PARTITION BY key, month
                    ORDER BY day) AS BIGINT) AS i
                 FROM daily),
         run AS (SELECT key, month, day, i,
                  CAST(sum(vc * (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)))
                    OVER (PARTITION BY key, month ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS wsum
                 FROM idx)
         SELECT key, CAST(month AS VARCHAR) AS month,
                CAST(day AS VARCHAR) AS day, i,
                round(CAST(wsum AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << CAST(i AS INT)) - 1 AS DOUBLE)
                  / 100.0, 6) AS ewma
         FROM run ORDER BY key, day""",

    // q18: the identical doubled-cent cell medians and d2 > 3·mad2 rule
    "q18_mad_outliers" ->
      """WITH cells AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS grp,
                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 200
                    AS BIGINT) AS v2,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2),
         base AS (
           SELECT grp, v2, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM cells),
         med AS (
           SELECT grp, n,
                  (min(CASE WHEN ci >= (n + 1) // 2 THEN v2 END)
                   + min(CASE WHEN ci >= (n + 2) // 2 THEN v2 END)) // 2
                    AS med
           FROM base GROUP BY grp, n),
         dev AS (
           SELECT c2.grp AS grp, abs(c2.v2 - m.med) * 2 AS d2,
                  CAST(sum(c2.c) AS BIGINT) AS c
           FROM cells c2 JOIN med m ON c2.grp = m.grp
           GROUP BY 1, 2),
         devb AS (
           SELECT grp, d2, c,
                  CAST(sum(c) OVER (PARTITION BY grp ORDER BY d2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM dev),
         mad AS (
           SELECT grp,
                  (min(CASE WHEN ci >= (n + 1) // 2 THEN d2 END)
                   + min(CASE WHEN ci >= (n + 2) // 2 THEN d2 END)) // 2
                    AS mad2
           FROM devb GROUP BY grp, n)
         SELECT d.grp AS grp, m.n AS n,
                round(CAST(m.med AS DOUBLE) / 200.0, 3) AS median_v,
                round(CAST(a.mad2 AS DOUBLE) / 400.0, 4) AS mad_v,
                CAST(coalesce(sum(CASE WHEN d.d2 > a.mad2 * 3
                  THEN d.c END), 0) AS BIGINT) AS n_outliers
         FROM dev d JOIN mad a ON d.grp = a.grp JOIN med m ON d.grp = m.grp
         GROUP BY 1, 2, 3, 4 ORDER BY grp""",

    // r44: identical cell pair census, slope = one division, weighted
    // interpolating median off the cumsum
    "r44_theil_sen" ->
      """WITH cells AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_discount AS DOUBLE) AS y,
                  CAST(count(*) AS BIGINT) AS o
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
           GROUP BY 1, 2),
         sl AS (
           SELECT (b.y - a.y) / (b.x - a.x) AS v,
                  CAST(sum(a.o * b.o) AS BIGINT) AS w
           FROM cells a JOIN cells b ON b.x > a.x
           GROUP BY 1),
         pr AS (
           SELECT v, w,
                  CAST(sum(w) OVER (ORDER BY v ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(w) OVER () AS BIGINT) AS tw
           FROM sl),
         np AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
         SELECT n, tw AS n_pairs,
                (min(CASE WHEN ci >= (tw + 1) // 2 THEN v END)
                 + min(CASE WHEN ci >= (tw + 2) // 2 THEN v END)) / 2
                  AS slope_med
         FROM pr, np GROUP BY n, tw""",

    // r45: identical exclusive-prefix TP/FP and one division per ratio
    "r45_pr_curve" ->
      """WITH byscore AS (
           SELECT CAST(c_acctbal AS DOUBLE) AS v,
                  CAST(count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END)
                    AS BIGINT) AS np,
                  CAST(count(CASE WHEN NOT (c_mktsegment = 'BUILDING')
                    THEN 1 END) AS BIGINT) AS nn
           FROM customer
           WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
           GROUP BY 1),
         pref AS (
           SELECT v,
                  CAST(coalesce(sum(np) OVER (ORDER BY v ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cumnp,
                  CAST(coalesce(sum(nn) OVER (ORDER BY v ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cumnn,
                  CAST(sum(np) OVER () AS BIGINT) AS p,
                  CAST(sum(nn) OVER () AS BIGINT) AS nneg
           FROM byscore)
         SELECT v AS threshold, p - cumnp AS tp, nneg - cumnn AS fp,
                round(CAST(p - cumnp AS DOUBLE)
                  / CAST((p - cumnp) + (nneg - cumnn) AS DOUBLE), 6) AS prec,
                round(CAST(p - cumnp AS DOUBLE) / CAST(p AS DOUBLE), 6)
                  AS rec,
                round(2.0 * CAST(p - cumnp AS DOUBLE)
                  / CAST((p - cumnp) + (nneg - cumnn) + p AS DOUBLE), 6)
                  AS f1
         FROM pref ORDER BY threshold DESC""",

    // n15: the n4 BM25 CTEs (k=50) + the n1 dense CTEs (query vec 0,
    // k=50), fused by the identical two-term lex + dense chain
    "n15_rrf_fusion" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                       FROM documents),
         p AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
                 unnest(list_filter(w, t ->
                   list_contains(['dup','spark','merge'], t))) AS term
               FROM toks),
         tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                FROM p GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         corpus AS (SELECT count(*) AS n_docs,
                      avg(CAST(len(string_split(lower(text), ' ')) AS DOUBLE))
                        AS avgdl
                    FROM documents),
         s AS (SELECT doc_id,
                 ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * (tf * 2.2)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
               FROM tf JOIN dfc USING (term) CROSS JOIN corpus),
         lexs AS (SELECT doc_id, round(sum(s), 6) AS score
                  FROM s GROUP BY doc_id ORDER BY score DESC, doc_id
                  LIMIT 50),
         lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS r
                 FROM lexs),
         uv AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
         nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                FROM uv),
         u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uvec
               FROM nr WHERE nrm > 0),
         q AS (SELECT uvec AS qu FROM u WHERE vec_id = 0),
         scored AS (SELECT c.vec_id AS corpus_id,
                      list_dot_product(c.uvec, q.qu) AS cos
                    FROM u c CROSS JOIN q WHERE c.vec_id != 0),
         dense AS (SELECT corpus_id,
                     row_number() OVER (ORDER BY cos DESC, corpus_id) AS r
                   FROM scored ORDER BY cos DESC, corpus_id LIMIT 50),
         fused AS (
           SELECT coalesce(l.doc_id, d.corpus_id) AS doc_id,
                  l.r AS rank_lex, d.r AS rank_dense,
                  (CASE WHEN l.r IS NULL THEN 0.0
                        ELSE 1.0 / (60 + l.r) END)
                  + (CASE WHEN d.r IS NULL THEN 0.0
                          ELSE 1.0 / (60 + d.r) END) AS rrf
           FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.corpus_id)
         SELECT doc_id, rank_lex, rank_dense, rrf
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""",

    // t20: the identical md5-char bucket/sign featurizer
    "t20_hashing_trick" ->
      """WITH tk AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), t -> t != '')) AS t
           FROM documents),
         f AS (SELECT doc_id, md5(t) AS h FROM tk),
         g AS (SELECT doc_id,
                 CAST((unicode(substr(h, 1, 1)) * 31
                       + unicode(substr(h, 2, 1))) % 64 AS BIGINT) AS bucket,
                 CASE WHEN unicode(substr(h, 3, 1)) % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
               FROM f)
         SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v,
                CAST(count(*) AS BIGINT) AS n_tokens
         FROM g GROUP BY 1, 2 ORDER BY doc_id, bucket""",

    // d19: identical ASCII-normalized key, per-block ranks, rank-adjacency
    // join, and the d4 shingle Jaccard (rounded before the threshold)
    "d19_sorted_neighborhood" ->
      """WITH keyed AS (
           SELECT doc_id AS id,
                  substr(regexp_replace(lower(trim(regexp_replace(text,
                    '[^ -~]', '', 'g'))), '\s+', ' ', 'g'), 1, 24) AS skey,
                  list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '') AS tk
           FROM documents),
         sh AS (SELECT id, skey, substr(skey, 1, 2) AS block,
                  CASE WHEN len(tk) < 3
                       THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(
                              generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
                FROM keyed),
         rk AS (SELECT id, block, s,
                  CAST(row_number() OVER (PARTITION BY block
                    ORDER BY skey, id) AS BIGINT) AS rnk
                FROM sh),
         cand AS (
           SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
                  b.rnk - a.rnk AS rank_dist,
                  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / CAST(len(a.s) + len(b.s)
                           - len(list_intersect(a.s, b.s)) AS DOUBLE), 6)
                    AS jaccard
           FROM rk a JOIN rk b ON a.block = b.block
             AND b.rnk > a.rnk AND b.rnk <= a.rnk + 3)
         SELECT id_a, id_b, rank_dist, jaccard
         FROM cand WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",

    // s34: the interval history rebuilt relationally — arrivals per
    // version, lead() closes replacements, the delete closes 390..395
    "s34_scd2" ->
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg,
                      c_acctbal AS bal FROM customer),
         v1 AS (SELECT k, seg, bal, 1 AS vf FROM c WHERE k <= 400),
         v2 AS (SELECT k, seg, round(bal + 1000, 2) AS bal, 2 AS vf
                FROM c WHERE k BETWEEN 350 AND 420),
         v3 AS (SELECT k, seg, round(bal + 500, 2) AS bal, 3 AS vf
                FROM c WHERE k BETWEEN 380 AND 410),
         allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
                  UNION ALL SELECT * FROM v3),
         closed AS (SELECT k, seg, bal, vf,
                      lead(vf) OVER (PARTITION BY k ORDER BY vf) AS vt0
                    FROM allv),
         fin AS (SELECT k, seg, bal, vf,
                   CASE WHEN vt0 IS NOT NULL THEN vt0
                        WHEN k BETWEEN 390 AND 395 THEN 4 END AS vt
                 FROM closed)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
                CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to,
                (vt IS NULL) AS is_current
         FROM fin ORDER BY c_custkey, valid_from""",

    // e23: identical rational residual 7x − Σ₇ and epoch-arithmetic dow
    "e23_dow_seasonality" ->
      """WITH daily AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                    AS BIGINT)) AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2),
         win AS (SELECT key, day, vc,
                  CAST(sum(vc) OVER (PARTITION BY key ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    AS w7,
                  count(*) OVER (PARTITION BY key ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
                 FROM daily),
         interior AS (
           SELECT key, (CAST(day - DATE '1970-01-01' AS INT) + 4) % 7 AS dow,
                  vc * 7 - w7 AS detr7
           FROM win WHERE n7 = 7)
         SELECT key, CAST(dow AS BIGINT) AS dow,
                CAST(count(*) AS BIGINT) AS n_days,
                round(CAST(sum(detr7) AS DOUBLE)
                  / CAST(count(*) * 7 AS DOUBLE) / 100.0, 6) AS seasonal
         FROM interior GROUP BY 1, 2 ORDER BY key, dow""",

    // r70: day-frame LLR chain, JVM-interpolated Wald constants
    "r70_sprt" -> {
      val c1 = math.log(0.22 / 0.18)
      val c0 = math.log((1.0 - 0.22) / (1.0 - 0.18))
      val up = math.log((1.0 - 0.05) / 0.05)
      val dn = math.log(0.05 / (1.0 - 0.05))
      s"""WITH day AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
           FROM events
           WHERE ts IS NOT NULL AND user_id % 2 = 1
             AND event_type IS NOT NULL
           GROUP BY 1),
         ll AS (SELECT day, n, x,
                  x * $c1 + (n - x) * $c0 AS llr
                FROM day),
         run AS (SELECT day, n, x, llr,
                  sum(llr) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lr
                 FROM ll),
         fl AS (SELECT day, n, x, llr, lr,
                  max(CASE WHEN lr >= $up THEN 1 ELSE 0 END)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) = 1 AS crossed_up,
                  max(CASE WHEN lr <= $dn THEN 1 ELSE 0 END)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) = 1 AS crossed_dn
                FROM run)
         SELECT day, n, x,
                round(llr, 6) AS llr_day, round(lr, 6) AS llr_run,
                crossed_up, crossed_dn,
                CASE WHEN lr >= $up THEN 'accept_h1'
                     WHEN lr <= $dn THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM fl ORDER BY day""" },

    // r46: identical doubled-cent median, tie drop, lag run boundaries,
    // and the fixed (R − μ)/σ tree
    "r46_runs_test" ->
      """WITH base AS (
           SELECT event_type AS key, ts, event_id AS tie,
                  CAST(CAST(value AS DECIMAL(12,2)) * 200 AS BIGINT) AS v2
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
         cells AS (SELECT key, v2, CAST(count(*) AS BIGINT) AS c
                   FROM base GROUP BY 1, 2),
         cum AS (SELECT key, v2, c,
                  CAST(sum(c) OVER (PARTITION BY key ORDER BY v2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS n
                 FROM cells),
         med AS (SELECT key,
                   (min(CASE WHEN ci >= (n + 1) // 2 THEN v2 END)
                    + min(CASE WHEN ci >= (n + 2) // 2 THEN v2 END)) // 2
                     AS med
                 FROM cum GROUP BY key, n),
         fl AS (SELECT b.key AS key, b.ts, b.tie,
                  CASE WHEN b.v2 > m.med THEN 1 ELSE 0 END AS above
                FROM base b JOIN med m ON b.key = m.key
                WHERE b.v2 != m.med),
         br AS (SELECT key, above,
                  CASE WHEN lag(above) OVER (PARTITION BY key
                         ORDER BY ts, tie) IS DISTINCT FROM above
                       THEN 1 ELSE 0 END AS brk
                FROM fl),
         agg AS (SELECT key,
                   CAST(sum(above) AS BIGINT) AS n_above,
                   CAST(count(*) - sum(above) AS BIGINT) AS n_below,
                   CAST(sum(brk) AS BIGINT) AS runs
                 FROM br GROUP BY key)
         SELECT key, n_above, n_below, runs,
                CASE WHEN n_above > 0 AND n_below > 0
                      AND 2.0 * n_above * n_below
                          * (2.0 * CAST(n_above AS DOUBLE) * n_below
                             - (CAST(n_above AS DOUBLE) + n_below)) > 0
                     THEN round((CAST(runs AS DOUBLE)
                       - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * n_below
                          / (CAST(n_above AS DOUBLE) + n_below)))
                       / sqrt(2.0 * CAST(n_above AS DOUBLE) * n_below
                          * (2.0 * CAST(n_above AS DOUBLE) * n_below
                             - (CAST(n_above AS DOUBLE) + n_below))
                          / ((CAST(n_above AS DOUBLE) + n_below)
                             * (CAST(n_above AS DOUBLE) + n_below)
                             * ((CAST(n_above AS DOUBLE) + n_below) - 1.0))),
                       6) END AS z
         FROM agg ORDER BY key""",

    // t21: the t1 classifier CTEs with the truth column carried through
    "t21_langid_confusion" ->
      """WITH scored AS (
           SELECT lang,
                  list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '') AS toks,
                  text
           FROM documents WHERE lang IS NOT NULL),
         s2 AS (
           SELECT lang, text,
             len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','que','pour','dans','des'], t))) AS s_fr,
             len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','que','por','con','para'], t))) AS s_es
           FROM scored),
         lp AS (
           SELECT lang,
                  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
                       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
                       ELSE 'unknown' END AS lang_pred
           FROM s2),
         cf AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                FROM lp GROUP BY 1, 2)
         SELECT lang, lang_pred, n,
                round(CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
                         AS DOUBLE), 6) AS recall_cell
         FROM cf ORDER BY lang, lang_pred""",

    // q19: identical distinct-parent left joins and conditional counts
    "q19_fk_audit" ->
      """WITH li AS (
           SELECT 'lineitem.l_orderkey->orders' AS relationship,
                  CAST(count(*) AS BIGINT) AS n_child,
                  CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END)
                    AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN l_orderkey IS NOT NULL
                    AND o.k IS NULL THEN 1 END) AS BIGINT) AS n_orphans
           FROM lineitem l LEFT JOIN
             (SELECT DISTINCT o_orderkey AS k FROM orders
              WHERE o_orderkey IS NOT NULL) o ON l.l_orderkey = o.k),
         oc AS (
           SELECT 'orders.o_custkey->customer' AS relationship,
                  CAST(count(*) AS BIGINT) AS n_child,
                  CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END)
                    AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN o_custkey IS NOT NULL
                    AND c.k IS NULL THEN 1 END) AS BIGINT) AS n_orphans
           FROM orders ord LEFT JOIN
             (SELECT DISTINCT c_custkey AS k FROM customer
              WHERE c_custkey IS NOT NULL) c ON ord.o_custkey = c.k),
         cn AS (
           SELECT 'customer.c_nationkey->nation' AS relationship,
                  CAST(count(*) AS BIGINT) AS n_child,
                  CAST(count(CASE WHEN c_nationkey IS NULL THEN 1 END)
                    AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN c_nationkey IS NOT NULL
                    AND n.k IS NULL THEN 1 END) AS BIGINT) AS n_orphans
           FROM customer cu LEFT JOIN
             (SELECT DISTINCT n_nationkey AS k FROM nation
              WHERE n_nationkey IS NOT NULL) n ON cu.c_nationkey = n.k),
         u AS (SELECT * FROM li UNION ALL SELECT * FROM oc
               UNION ALL SELECT * FROM cn)
         SELECT relationship, n_child, n_null, n_orphans,
                round(CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE), 6)
                  AS orphan_rate
         FROM u ORDER BY relationship""",

    // x5: the x1 dyadic grid embedding rebuilt bin-by-bin, cosine via
    // list_dot_product (sequential double dot), rounded pre-threshold
    "x5_image_neardup" ->
      """WITH p AS (
           SELECT doc_id,
                  substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'),
                    256, ' '), 1, 256) AS s
           FROM documents),
         v AS (
           SELECT doc_id AS id,
                  list_transform(range(0, 8), b ->
                    list_sum(list_transform(range(1, 33),
                      i -> CAST(unicode(substr(s, CAST(b * 32 + i AS INT), 1))
                           AS DOUBLE))) / 32.0) AS v
           FROM p),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
           FROM v a JOIN v b ON b.id > a.id AND b.id <= a.id + 25)
         SELECT id_a, id_b, cos FROM pairs
         WHERE cos >= 0.9999 ORDER BY id_a, id_b""",

    // w9: session_window replayed as break-cumsum islands; half-open
    // windows make the break rule gap >= 30min exactly
    "w9_session_window" ->
      """WITH e AS (SELECT user_id, ts FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         b AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER
                        (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                      THEN 1 ELSE 0 END AS brk
               FROM e),
         g AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM b)
         SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
                CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT) AS end_us,
                CAST(count(*) AS BIGINT) AS n_events
         FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""",

    // q20: identical cell census per audited key
    "q20_pk_audit" ->
      """WITH la AS (
           SELECT 'lineitem(l_orderkey,l_linenumber)' AS key,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(CASE WHEN k1 IS NULL OR k2 IS NULL
                    THEN c END), 0) AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
                    THEN 1 END) AS BIGINT) AS n_keys,
                  CAST(coalesce(sum(CASE WHEN k1 IS NOT NULL
                    AND k2 IS NOT NULL AND c > 1 THEN 1 END), 0)
                    AS BIGINT) AS n_dup_keys,
                  CAST(coalesce(max(CASE WHEN k1 IS NOT NULL
                    AND k2 IS NOT NULL THEN c END), 0) AS BIGINT)
                    AS max_multiplicity
           FROM (SELECT l_orderkey AS k1, l_linenumber AS k2,
                   count(*) AS c FROM lineitem GROUP BY 1, 2)),
         ok AS (
           SELECT 'orders(o_orderkey)' AS key,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(CASE WHEN k1 IS NULL THEN c END), 0)
                    AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN k1 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_keys,
                  CAST(coalesce(sum(CASE WHEN k1 IS NOT NULL AND c > 1
                    THEN 1 END), 0) AS BIGINT) AS n_dup_keys,
                  CAST(coalesce(max(CASE WHEN k1 IS NOT NULL THEN c END), 0)
                    AS BIGINT) AS max_multiplicity
           FROM (SELECT o_orderkey AS k1, count(*) AS c FROM orders
                 GROUP BY 1)),
         oc AS (
           SELECT 'orders(o_custkey)' AS key,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(CASE WHEN k1 IS NULL THEN c END), 0)
                    AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN k1 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_keys,
                  CAST(coalesce(sum(CASE WHEN k1 IS NOT NULL AND c > 1
                    THEN 1 END), 0) AS BIGINT) AS n_dup_keys,
                  CAST(coalesce(max(CASE WHEN k1 IS NOT NULL THEN c END), 0)
                    AS BIGINT) AS max_multiplicity
           FROM (SELECT o_custkey AS k1, count(*) AS c FROM orders
                 GROUP BY 1))
         SELECT * FROM la UNION ALL SELECT * FROM ok
         UNION ALL SELECT * FROM oc ORDER BY key""",

    // r47: identical one-aggregate sums and the fixed Q tree
    "r47_cochran_q" ->
      """WITH l1 AS (SELECT l_orderkey AS k,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x1
                FROM lineitem WHERE l_linenumber = 1),
         l2 AS (SELECT l_orderkey AS k,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x2
                FROM lineitem WHERE l_linenumber = 2),
         l3 AS (SELECT l_orderkey AS k,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x3
                FROM lineitem WHERE l_linenumber = 3),
         b AS (SELECT x1, x2, x3 FROM l1 JOIN l2 USING (k)
               JOIN l3 USING (k)),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                 CAST(sum(x1) AS BIGINT) AS c1,
                 CAST(sum(x2) AS BIGINT) AS c2,
                 CAST(sum(x3) AS BIGINT) AS c3,
                 CAST(sum(x1 + x2 + x3) AS BIGINT) AS sr,
                 CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2
               FROM b)
         SELECT n_blocks, c1, c2, c3,
                CASE WHEN 3.0 * CAST(sr AS DOUBLE) - CAST(sr2 AS DOUBLE) > 0.0
                     THEN round(2.0 *
                       (3.0 * (CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)
                               + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)
                               + CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE))
                        - (CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)
                           + CAST(c3 AS DOUBLE))
                          * (CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)
                             + CAST(c3 AS DOUBLE)))
                       / (3.0 * CAST(sr AS DOUBLE) - CAST(sr2 AS DOUBLE)), 6)
                END AS q
         FROM a"""
  )
}
