package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AggSpec, Quality, Summarize}

import Oracle.Sql
import Shared._

/** q-family: grouped aggregation, the summary engine, profiling and
  * data-quality audits. */
object QualityQueries extends Family("q") {

  private[graft] def revenuePerNation(s: SparkSession, dir: String): DataFrame = {
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

  val queries: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      Sql("""SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- §2.5: the categorized-aggregation summary engine ---------------
    Query("q2_summary_engine", (s, dir) => {
      val res = Summarize.summarize(
        t(s, dir, "lineitem"),
        aggs = Seq(AggSpec.sum, AggSpec.median, AggSpec.min, AggSpec.max, AggSpec.count),
        metrics = Seq("l_quantity" -> "qty"),
        cats = Seq("l_returnflag" -> "ReturnFlag", "l_linestatus" -> "LineStatus"))
      res.select(col("Division"), col("DivisionCategory"), col("aggregation"),
          round(col("qty"), 3).as("qty"))
        .orderBy(col("Division"), col("DivisionCategory"), col("aggregation"))
    },
      Sql("""WITH g AS (
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
         ORDER BY Division, DivisionCategory, aggregation""")),

    // ---- §2 quality operator family (fused single-pass checks) ----------
    Query("q3_quality_report", (s, dir) => {
      Quality.report(t(s, dir, "lineitem"), Seq(
        Quality.RangeCheck(Seq("l_quantity"), 1, 50),
        Quality.RangeCheck(Seq("l_discount"), 0, 0.08),
        Quality.NotNullCheck(Seq("l_quantity", "l_returnflag")),
        Quality.ZScoreCheck(Seq("l_extendedprice"), 3.0)))
        .orderBy(col("description"), col("columnName"))
    },
      Sql("""SELECT * FROM (
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
         ) ORDER BY description, columnName""")),

    // ---- multi-join + aggregation (scale path: broadcast dims) ----------
    Query("q5_join_agg", (s, dir) => revenuePerNation(s, dir),
      Sql("""SELECT n_name,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS DOUBLE), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")),

    // ---- data quality: Benford first-digit audit (q13) — the fraud /
    // entry-error screen: decimal-string digit census vs log10(1+1/d),
    // χ² as the r19 running chain over the 9-digit frame. ----------------
    Query("q13_benford", (s, dir) => {
      graft.ops.Profile.benfordDF(t(s, dir, "lineitem"), "l_extendedprice")
    },
      // q13: identical digit extraction (decimal-string, no log10), the
      // SAME JVM probability literals, the same running χ² chain
      Sql(s"""WITH d AS (
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
         FROM x ORDER BY digit""")),

    // ---- data quality: functional-dependency discovery (q14) — the
    // key/normalization census over every ordered column pair: one
    // stacked explode, one dedup shuffle, pure distinct-count integers. --
    Query("q14_fd_discovery", (s, dir) => {
      graft.ops.Profile.fdDiscovery(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
    },
      // q14: the stacked ordered-pair cells as a UNION ALL chain, then the
      // identical dedup + distinct-count integers
      Sql {
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
      }),

    // ---- feature selection: information-gain census (q15) — r30's MI
    // swept across many features vs one label in ONE stacked job; every
    // window PARTITIONED by feature, nothing global. ---------------------
    Query("q15_info_gain", (s, dir) => {
      graft.stats.ChiSquare.featureInfoGainDF(
        t(s, dir, "lineitem"), col("l_returnflag"),
        Seq("l_linestatus" -> col("l_linestatus"),
          "l_linenumber" -> col("l_linenumber"),
          "ship_year" -> year(col("l_shipdate"))))
    },
      // q15: the r30 chains PARTITIONED by feature over stacked cells
      Sql("""WITH cells AS (
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
         FROM mi JOIN hy USING (feat) ORDER BY feature""")),

    // ---- monitoring: population stability index (q16) — input-drift
    // census between two cohorts over row-local fixed-width bins;
    // Laplace-smoothed shares, the r19/q13 running chain. ----------------
    Query("q16_psi", (s, dir) => {
      graft.ops.Profile.psiDF(t(s, dir, "orders"), "o_totalprice",
        year(col("o_orderdate")) <= 1995, binWidth = 50000.0)
    },
      // q16: identical row-local bins, smoothed shares, the same chain
      Sql("""WITH base AS (
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
         FROM t ORDER BY bin""")),

    // ---- monitoring: PSI drift matrix (q24) — q16 swept across order
    // years vs the first year; period×bin grid, Laplace shares, every
    // window PARTITIONED by period. ---------------------------------------
    Query("q24_psi_drift", (s, dir) => {
      graft.ops.Profile.psiByPeriodDF(t(s, dir, "orders"), "o_totalprice",
        year(to_date(col("o_orderdate"))), binWidth = 50000.0)
    },
      // q24: the q16 Laplace trees swept per year against the min-year ref
      // over the complete period×bin grid; chains partitioned by period
      Sql("""WITH base AS (
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
         FROM t ORDER BY period, bin""")),

    // ---- profiling: Pearson correlation matrix (q17) — every column
    // pair's exact CENT-long power sums in ONE aggregate pass, pairwise-
    // complete convention, one fixed double tree per pair. ---------------
    Query("q17_corr_matrix", (s, dir) => {
      graft.ops.Profile.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },
      // q17: one conditional-aggregate arm per pair — the identical CENT-long
      // power sums (BIGINT products, HUGEINT totals — exact like Spark's
      // decimal(30,0)) and the identical corr double tree
      Sql {
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
      }),

    // ---- data-quality: per-group Tukey-fence outlier census (q10) over
    // EXACT type-1 rank quantiles — half-cent integer scaling makes the
    // quantiles, fences, and outlier comparisons pure LONG arithmetic. ----
    Query("q10_iqr_outliers", (s, dir) => {
      graft.ops.Quality.iqrOutliers(
          t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag")
        .orderBy(col("grp"))
    },
      // q10: half-cent integer cells, partitioned cumulative ranks, type-1
      // quantiles at ⌈n/4⌉/⌈3n/4⌉, LONG fences, cell-level outlier census
      Sql("""WITH cells AS (
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
         ORDER BY c.grp""")),

    // ---- column profiling census (q11): the ANALYZE-TABLE surface — one
    // conditional-agg pass for counts/extrema, one stacked-cell pass for
    // exact distincts and deterministic modes (ties → smallest value). ---
    Query("q11_profile", (s, dir) => {
      graft.ops.Profile.profile(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))
    },
      // q11: per-column census — counts/extrema + exact distinct + the
      // deterministic mode (count desc, value asc), one block per column
      Sql("""WITH s1 AS (SELECT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem),
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
         ORDER BY "column"""")),

    // ---- §2.5 explicit rollup (subtotals + grand total) -----------------
    Query("q7_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    },
      Sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""")),

    // ---- §2.5 explicit cube (all dimension subsets) ---------------------
    Query("q8_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    },
      Sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus, o_orderpriority""")),

    // ---- explicit GROUPING SETS (q9): the arbitrary-subset form rollup/
    // cube can't express — (status, priority) detail, per-status, per-
    // priority, but NO grand total. One pass, grouping_id disambiguates. --
    Query("q9_grouping_sets", (s, dir) => {
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
    },
      // q9: DuckDB GROUPING(a,b) ≡ Spark grouping_id() (round-2 recipe);
      // gid leads the ORDER BY so NULL subtotal rows can't hit the
      // nulls-first/last divergence
      Sql("""SELECT o_orderstatus, o_orderpriority, count(1) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus, o_orderpriority""")),

    // ---- exact-sum higher moments: corr/stddev/skewness, bit-reproducible
    // (all power sums accumulate in DECIMAL — order-independent — and the
    // double arithmetic on top is the same expression tree as the oracle) --
    Query("q6_moments", (s, dir) => {
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
    },
      Sql("""WITH s AS (
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
         FROM s ORDER BY l_returnflag""")),

    // ---- quality: MAD robust outlier census (q18) — breakdown point 0.5
    // vs q10's IQR fences; doubled-cent cells keep both medians and the
    // 3·MAD rule pure integer arithmetic. --------------------------------
    Query("q18_mad_outliers", (s, dir) => {
      graft.ops.Quality.madOutliers(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag")
    },
      // q18: the identical doubled-cent cell medians and d2 > 3·mad2 rule
      Sql("""WITH cells AS (
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
         GROUP BY 1, 2, 3, 4 ORDER BY grp""")),

    // ---- quality: referential-integrity audit (q19) — orphan/NULL FK
    // census per relationship, distinct parent keys + one conditional
    // aggregate per child, unioned into a schema report. -----------------
    Query("q19_fk_audit", (s, dir) => {
      val P = graft.ops.Profile
      P.fkAudit("lineitem.l_orderkey->orders",
          t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .unionByName(P.fkAudit("orders.o_custkey->customer",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .unionByName(P.fkAudit("customer.c_nationkey->nation",
          t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .orderBy(col("relationship"))
    },
      // q19: identical distinct-parent left joins and conditional counts
      Sql("""WITH li AS (
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
         FROM u ORDER BY relationship""")),

    // ---- quality: candidate-key uniqueness audit (q20) — one cell
    // groupBy + one conditional aggregate per audit; o_custkey shows a
    // real non-unique key census. ----------------------------------------
    Query("q20_pk_audit", (s, dir) => {
      val P = graft.ops.Profile
      P.pkAudit("lineitem(l_orderkey,l_linenumber)",
          t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .unionByName(P.pkAudit("orders(o_orderkey)",
          t(s, dir, "orders"), Seq("o_orderkey")))
        .unionByName(P.pkAudit("orders(o_custkey)",
          t(s, dir, "orders"), Seq("o_custkey")))
        .orderBy(col("key"))
    },
      // q20: identical cell census per audited key
      Sql("""WITH la AS (
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
         UNION ALL SELECT * FROM oc ORDER BY key""")),

    // ---- quality: Simpson's-paradox audit (q22) — per-year OR direction
    // of (urgent → delivered) vs the pooled direction; every direction an
    // integer cross-product sign, no division anywhere. -----------------
    Query("q22_simpson_audit", (s, dir) =>
      graft.stats.Epi.simpsonAuditDF(t(s, dir, "orders"),
        year(to_date(col("o_orderdate"))).cast("long"),
        col("o_orderpriority") === "1-URGENT",
        col("o_orderstatus") === "F"),
      // q22: stratum 2×2 longs, cross-product signs, 1-row pooled combine
      Sql("""WITH base AS (
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
         ORDER BY stratum""")),

    // ---- quality: join-key skew report (q23) — the salting/AQE decision
    // diagnostic: Gini, max/p99 count, top-10 mass over the key frequency
    // distribution, all exact integers via the value-level cell frame +
    // sharded prefix (no global sort, no global window). -----------------
    Query("q23_key_skew", (s, dir) =>
      graft.ops.Partitioning.keySkewReportDF(t(s, dir, "lineitem"),
        "l_partkey"),
      // q23: per-key counts → value-level frequency cells → prefix; Gini
      // via the per-cell Σi·x closed form, p99 the integer rank pick,
      // top-10 mass down the descending prefix — all exact longs
      Sql("""WITH counts AS (
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
         FROM agg""")),

    // ---- quality: per-group trimmed + winsorized means (q21) — robust
    // aggregation off the q10 cell machinery: rank decisions and all
    // three sums are pure LONG arithmetic, FP only in the final display
    // divisions. ---------------------------------------------------------
    Query("q21_trimmed_mean", (s, dir) =>
      graft.ops.Quality.trimmedMeans(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag", trimPct = 10),
      // q21: cent cells, partitioned cumsum ranks, LONG overlap sums, the
      // identical display-division trees
      Sql("""WITH cells AS (
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
         FROM clamps JOIN sums USING (grp) ORDER BY grp"""))
  )
}
