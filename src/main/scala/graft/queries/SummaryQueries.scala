package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{AggSpec, Cleaning, Cohort, Summarize}

import Oracle.Sql
import Shared._

/** g-family: the reference's categorized summary tables
  * (dataSummaries1.scala), one query per table. Each oracle replays one
  * dataSummaries1.scala instantiation's shape via the summarizeOracleSql
  * GROUPING SETS builder (the q2 pattern) — derived metric/category columns
  * defined in the FROM subquery with the same names and the same arithmetic
  * as the Spark side, cross-cohort shapes via the j1 1-row CROSS JOIN
  * pattern. */
object SummaryQueries extends Family("g") {

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

  val queries: Seq[Query] = Seq(
    // g1 ≡ DatesSummary (dataSummaries1.scala:96-107): median/min/max over
    // two derived date-interval columns, no categories.
    Query("g1_dates_summary", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS daysOrderToShip,
                floor(date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) / 365.25) AS yearsOrderToShip
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""",
      Seq("median", "min", "max"),
      Seq("daysOrderToShip" -> "daysOrderToShip",
        "yearsOrderToShip" -> "yearsOrderToShip"),
      Seq.empty))),

    // g2 ≡ surgeryCouses (dataSummaries1.scala:118-128): sum over four
    // indicator columns by three categories.
    Query("g2_surgery_causes", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
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
        "shipYear" -> "ShipYear")))),

    // g3 ≡ MaterialEtcPerGender (dataSummaries1.scala:144-171): count of
    // when/otherwise-derived indicators by four categories.
    Query("g3_material_per_gender", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS isUrgent,
                CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS isHigh,
                o_orderstatus, c_mktsegment,
                year(o_orderdate) AS orderYear, o_orderpriority
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)""",
      Seq("count"),
      Seq("isUrgent" -> "isUrgent", "isHigh" -> "isHigh"),
      Seq("o_orderstatus" -> "OrderStatus", "c_mktsegment" -> "MktSegment",
        "orderYear" -> "OrderYear", "o_orderpriority" -> "Priority")))),

    // g4 ≡ OtherRiskFactors (dataSummaries1.scala:188-196): countTrues over
    // five boolean columns by three categories.
    Query("g4_other_risk_factors", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
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
        "shipMonth" -> "ShipMonth")))),

    // g5 ≡ LabolatoryInflammation (dataSummaries1.scala:207-214):
    // median/min/max of two lab metrics by three categories.
    Query("g5_lab_inflammation", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("shipYear", year(col("l_shipdate")))
      gProject(Summarize.summarize(li,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("l_extendedprice" -> "Price", "l_quantity" -> "Qty"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
          "shipYear" -> "ShipYear")),
        Seq("Price", "Qty"))
    },
      Sql(summarizeOracleSql(
      """(SELECT l_extendedprice, l_quantity, l_returnflag, l_linestatus,
                year(l_shipdate) AS shipYear
           FROM lineitem)""",
      Seq("median", "min", "max"),
      Seq("l_extendedprice" -> "Price", "l_quantity" -> "Qty"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus",
        "shipYear" -> "ShipYear")))),

    // g6 ≡ MicrobiologicDataStudyGroup (dataSummaries1.scala:224-236): sum
    // over culture-result indicators, no categories.
    Query("g6_microbiologic", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("isReturned", when(col("l_returnflag") === "R", 1).otherwise(0))
        .withColumn("isDiscounted", when(col("l_discount") > 0.05, 1).otherwise(0))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum),
        Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted"),
        Seq.empty), Seq("isReturned", "isDiscounted"))
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isReturned,
                CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS isDiscounted
           FROM lineitem)""",
      Seq("sum"),
      Seq("isReturned" -> "isReturned", "isDiscounted" -> "isDiscounted"),
      Seq.empty))),

    // g7 ≡ BasicDataTwoPointStudy (dataSummaries1.scala:246-260): count of
    // one threshold-derived when-indicator, no categories.
    Query("g7_basic_two_point", (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("isHighValue", when(col("value") > 50, 1).otherwise(0))
      gProject(Summarize.summarize(e, Seq(AggSpec.count),
        Seq("isHighValue" -> "isHighValue"), Seq.empty), Seq("isHighValue"))
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS isHighValue
           FROM events)""",
      Seq("count"),
      Seq("isHighValue" -> "isHighValue"),
      Seq.empty))),

    // g8 ≡ BasicInControlGroup (dataSummaries1.scala:270-284): sum over
    // three bool→int advancedCasting metrics by two categories.
    Query("g8_basic_control", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS isPositiveBal,
                CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS isRich,
                CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS isEvenKey,
                c_mktsegment, n_name
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)""",
      Seq("sum"),
      Seq("isPositiveBal" -> "isPositiveBal", "isRich" -> "isRich",
        "isEvenKey" -> "isEvenKey"),
      Seq("c_mktsegment" -> "MktSegment", "n_name" -> "Nation")))),

    // g9 ≡ ControlGroupDates (dataSummaries1.scala:289-303): median/min/max
    // of a datediff-derived interval by two categories.
    Query("g9_control_dates", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("daysFromEpochToOrder",
          datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("double"))
      gProject(Summarize.summarize(o,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("daysFromEpochToOrder" -> "daysFromEpochToOrder"),
        Seq("o_orderstatus" -> "OrderStatus", "o_orderpriority" -> "Priority")),
        Seq("daysFromEpochToOrder"))
    },
      Sql(summarizeOracleSql(
      """(SELECT date_diff('day', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS daysFromEpochToOrder,
                o_orderstatus, o_orderpriority
           FROM orders)""",
      Seq("median", "min", "max"),
      Seq("daysFromEpochToOrder" -> "daysFromEpochToOrder"),
      Seq("o_orderstatus" -> "OrderStatus", "o_orderpriority" -> "Priority")))),

    // g10 ≡ StudyGroupLoc (dataSummaries1.scala:329-342): sum over four
    // location-band indicators by three categories.
    Query("g10_study_loc", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN p_size < 10 THEN 1 ELSE 0 END AS isSmall,
                CASE WHEN p_size >= 10 AND p_size <= 25 THEN 1 ELSE 0 END AS isMedium,
                CASE WHEN p_size > 25 THEN 1 ELSE 0 END AS isLarge,
                CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS isPricey,
                p_brand, p_type, p_size // 10 AS sizeBand
           FROM part)""",
      Seq("sum"),
      Seq("isSmall" -> "isSmall", "isMedium" -> "isMedium",
        "isLarge" -> "isLarge", "isPricey" -> "isPricey"),
      Seq("p_brand" -> "Brand", "p_type" -> "Type", "sizeBand" -> "SizeBand")))),

    // g11 ≡ StudyGroupSuv (dataSummaries1.scala:360-369): sum + median +
    // min + max over four metrics including the lit(1.0) AllPatients column,
    // by two categories. Money rides cent longs so the sums stay exact.
    Query("g11_study_suv", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT l_quantity,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discountCents,
                1.0 AS AllPatients, l_returnflag, l_linestatus
           FROM lineitem)""",
      Seq("sum", "median", "min", "max"),
      Seq("l_quantity" -> "Qty", "priceCents" -> "PriceCents",
        "discountCents" -> "DiscountCents", "AllPatients" -> "AllPatients"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")))),

    // g12 ≡ StudyGroupImageCharacteristic (dataSummaries1.scala:380-400):
    // sum over three bool→int advancedCasting columns by three categories
    // (the :382-383 advancedCasting recipe).
    Query("g12_image_characteristic", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
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
        "shipMonth" -> "ShipMonth")))),

    // g13 ≡ SuvVsVisualScales (dataSummaries1.scala:411-420): sum + median
    // over four metrics including Evrybody, by two scale categories.
    Query("g13_suv_vs_scales", (s, dir) => {
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
    },
      Sql(summarizeOracleSql(
      """(SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS valueCents,
                hour(ts) AS hourOfDay, minute(ts) AS minuteOfHour,
                1.0 AS Evrybody, event_type, user_id % 4 AS userBucket
           FROM events)""",
      Seq("sum", "median"),
      Seq("valueCents" -> "ValueCents", "hourOfDay" -> "HourOfDay",
        "minuteOfHour" -> "MinuteOfHour", "Evrybody" -> "Evrybody"),
      Seq("event_type" -> "EventType", "userBucket" -> "UserBucket")))),

    // g14 ≡ SuvTwoPointStudy (dataSummaries1.scala:434-445): median/min/max
    // over four metrics, no categories.
    Query("g14_suv_two_point", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("priceCents", centsOf(col("l_extendedprice")).cast("double"))
        .withColumn("discountCents", centsOf(col("l_discount")).cast("double"))
        .withColumn("taxCents", centsOf(col("l_tax")).cast("double"))
      gProject(Summarize.summarize(li,
        Seq(AggSpec.median, AggSpec.min, AggSpec.max),
        Seq("priceCents" -> "PriceCents", "l_quantity" -> "Qty",
          "discountCents" -> "DiscountCents", "taxCents" -> "TaxCents"),
        Seq.empty), Seq("PriceCents", "Qty", "DiscountCents", "TaxCents"))
    },
      Sql(summarizeOracleSql(
      """(SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                l_quantity,
                CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discountCents,
                CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS taxCents
           FROM lineitem)""",
      Seq("median", "min", "max"),
      Seq("priceCents" -> "PriceCents", "l_quantity" -> "Qty",
        "discountCents" -> "DiscountCents", "taxCents" -> "TaxCents"),
      Seq.empty))),

    // g15 ≡ SuvVsVisualScalesControlGroup (dataSummaries1.scala:458-469):
    // sum + median over two metrics including the :461 ratio-derived TBR,
    // by two categories. The ratio floors to integer milli-units so the
    // row value and its sums are cross-engine exact.
    Query("g15_suv_scales_control", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("tbrMilli",
          floor(col("l_extendedprice") / col("l_quantity") * lit(1000.0))
            .cast("double"))
        .withColumn("priceCents", centsOf(col("l_extendedprice")).cast("double"))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum, AggSpec.median),
        Seq("tbrMilli" -> "TbrMilli", "priceCents" -> "PriceCents"),
        Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")),
        Seq("TbrMilli", "PriceCents"))
    },
      Sql(summarizeOracleSql(
      """(SELECT floor(l_extendedprice / l_quantity * 1000.0) AS tbrMilli,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS priceCents,
                l_returnflag, l_linestatus
           FROM lineitem)""",
      Seq("sum", "median"),
      Seq("tbrMilli" -> "TbrMilli", "priceCents" -> "PriceCents"),
      Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus")))),

    // g16 ≡ SuvStudyVsCrontrol (dataSummaries1.scala:478-491): six metrics
    // across cross-joined cohorts — the per-side-aggregate crossJoin
    // rewrite (duplication-invariant aggs only, §4).
    Query("g16_suv_study_vs_control", (s, dir) => {
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
    },
      Sql("""SELECT round(partPriceMedian, 3) AS partPriceMedian,
                partPriceMin, partPriceMax,
                round(itemPriceMedian, 3) AS itemPriceMedian,
                itemPriceMin, itemPriceMax
         FROM (SELECT CAST(quantile_cont(p_retailprice, 0.5) AS DOUBLE) AS partPriceMedian,
                      CAST(min(p_retailprice) AS DOUBLE) AS partPriceMin,
                      CAST(max(p_retailprice) AS DOUBLE) AS partPriceMax FROM part)
         CROSS JOIN
              (SELECT CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS itemPriceMedian,
                      CAST(min(l_extendedprice) AS DOUBLE) AS itemPriceMin,
                      CAST(max(l_extendedprice) AS DOUBLE) AS itemPriceMax FROM lineitem)""")),

    // g17 ≡ CtDoneBefore (dataSummaries1.scala:507-537): sum of the
    // chained-when "any finding" column (:511-519), no categories.
    Query("g17_ct_done_before", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("anyFlag",
          when(col("l_returnflag") === "R", 1)
            .when(col("l_discount") > 0.05, 1)
            .when(col("l_tax") > 0.04, 1)
            .otherwise(0))
      gProject(Summarize.summarize(li, Seq(AggSpec.sum),
        Seq("anyFlag" -> "anyFlag"), Seq.empty), Seq("anyFlag"))
    },
      Sql(summarizeOracleSql(
      """(SELECT CASE WHEN l_returnflag = 'R' THEN 1
                      WHEN l_discount > 0.05 THEN 1
                      WHEN l_tax > 0.04 THEN 1
                      ELSE 0 END AS anyFlag
           FROM lineitem)""",
      Seq("sum"),
      Seq("anyFlag" -> "anyFlag"),
      Seq.empty))),

    // g18 ≡ TechnicalDataInStudyAndControlGroup (dataSummaries1.scala:
    // 547-558): four medians across cross-joined cohorts, the same
    // per-side-aggregate rewrite.
    Query("g18_technical_cross", (s, dir) => {
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
    },
      Sql("""SELECT round(orderPriceMedian, 3) AS orderPriceMedian,
                round(orderYearMedian, 3) AS orderYearMedian,
                round(valueMedian, 3) AS valueMedian,
                round(hourMedian, 3) AS hourMedian
         FROM (SELECT CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS orderPriceMedian,
                      CAST(quantile_cont(year(o_orderdate), 0.5) AS DOUBLE) AS orderYearMedian
               FROM orders)
         CROSS JOIN
              (SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) AS valueMedian,
                      CAST(quantile_cont(hour(ts), 0.5) AS DOUBLE) AS hourMedian
               FROM events)"""))
  )
}
