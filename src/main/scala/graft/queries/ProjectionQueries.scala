package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.Cleaning

import Oracle.Sql
import Shared._

/** p-family: projection, casting, renaming, pivots and layout-aware scans. */
object ProjectionQueries extends Family("p") {

  val queries: Seq[Query] = Seq(
    // ---- §2.2 P1/P4: projection + predicate filter ----------------------
    Query("p1_project_filter", (s, dir) => {
      Cleaning.selectColumns(
        t(s, dir, "orders")
          .where(col("o_orderstatus").isNotNull && col("o_totalprice") > 100000),
        Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderstatus IS NOT NULL AND o_totalprice > 100000
         ORDER BY o_orderkey""")),

    // ---- §2.2 P2: advancedCasting (conditional cast-projection) ---------
    Query("p2_cast_project", (s, dir) => {
      val base = Cleaning.selectColumns(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
      val cast1 = Cleaning.advancedCasting(base, Seq("l_quantity"), "int")
      Cleaning.advancedCasting(cast1, Seq("l_shipdate"), "date")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      Sql("""SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS INTEGER) AS l_quantity,
         CAST(l_shipdate AS DATE) AS l_shipdate
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---- §2.2 P3: boolean normalization from strings --------------------
    Query("p3_boolean_normalize", (s, dir) => {
      val base = Cleaning.selectColumns(t(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus"))
      Cleaning.booleanFromString(base, "o", Seq("o_orderstatus"))
        .withColumnRenamed("o_orderstatus", "is_open")
        .orderBy(col("o_orderkey"))
    },
      Sql("""SELECT o_orderkey, (lower(CAST(o_orderstatus AS VARCHAR)) = 'o') AS is_open
         FROM orders ORDER BY o_orderkey""")),

    // ---- §2.2 P7-P9 rename/drop batch -----------------------------------
    Query("p4_rename_drop", (s, dir) => {
      val renamed = Cleaning.renameByMap(
        Cleaning.dropColumns(t(s, dir, "nation"), Seq("n_regionkey")),
        Map("n_nationkey" -> "id", "n_name" -> "nation_name"))
      Cleaning.selectRenamed(renamed, Seq("nation_name" -> "name", "id" -> "id"))
        .orderBy(col("id"))
    },
      Sql("""SELECT n_name AS name, n_nationkey AS id FROM nation ORDER BY id""")),

    // ---- partitioned layout + dynamic partition pruning -----------------
    // The first IO lever at 100 TB: a date-partitioned fact layout lets a
    // selective dim join read only the matching partitions. The dim filter
    // (days with value-sum above 7/8 of the max day) is NOT statically
    // inferable on the fact side, so the pruning must happen at runtime —
    // DPP reuses the broadcast dim to prune fact partitions before the scan.
    Query("p7_partition_prune", (s, dir) => {
      val ev = Tables.events(s, dir)
      val root = scratch("p7", "events_by_day", dir)
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
    },
      // p7: the oracle replays the dim filter and join over the ORIGINAL
      // events table — partitioning is a layout change, not a semantic one.
      // day_value*8 > max*7 compares exact decimals on both engines.
      Sql("""WITH d AS (SELECT CAST(ts AS DATE) AS event_date,
                           sum(CAST(value AS DECIMAL(18,2))) AS day_value
                    FROM events GROUP BY 1),
         dim AS (SELECT event_date FROM d
                 WHERE day_value * 8 > (SELECT max(day_value) FROM d) * 7)
         SELECT event_type, count(*) AS n_events,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
         FROM events JOIN dim ON CAST(ts AS DATE) = dim.event_date
         GROUP BY event_type ORDER BY event_type""")),

    // ---- Z-ORDER layout scan (p8): lineitem re-clustered on the Z-curve
    // of (l_partkey, l_suppkey) so parquet file/row-group stats prune 2-D
    // box predicates — the Delta OPTIMIZE ZORDER BY capability as an
    // operator (ops.Layout; LayoutSpec measures the actual file pruning:
    // 3/32 files touched vs 32/32 under a single-column sort). The oracle
    // replays the box filter + aggregate on the RAW table, so the hash
    // match proves the re-layout changed bytes-on-disk, not content. ------
    Query("p8_zorder_scan", (s, dir) => {
      val root = scratch("p8", "li_z", dir)
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
    },
      // p8: the z-ordered copy must answer exactly like the raw table
      Sql("""SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 10 AND 150 AND l_suppkey BETWEEN 2 AND 8
         GROUP BY 1 ORDER BY 1""")),

    // ---- §2.5 reshaping: pivot (explicit values → static schema) --------
    Query("p5_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(moneySum(col("l_extendedprice")))
        .orderBy(col("l_returnflag"))
    },
      Sql("""SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 2) AS F,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 2) AS O
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- §2.5 reshaping: unpivot / melt ---------------------------------
    Query("p6_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    },
      Sql("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                CAST(l_quantity AS DOUBLE) AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
         ORDER BY l_orderkey, l_linenumber, measure"""))
  )
}
