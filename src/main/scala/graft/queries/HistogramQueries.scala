package graft
package queries

import org.apache.spark.sql.functions._

import Oracle.Sql
import Shared._

/** h-family: histograms and heatmaps. */
object HistogramQueries extends Family("h") {

  val queries: Seq[Query] = Seq(
    // ---- decade (log-scale) histogram (h4) — order-of-magnitude census
    // without log10 in the chain (the q13 decimal-string doctrine): the
    // decade IS the integer-digit count of the DECIMAL(18,2) string. -----
    Query("h4_log_histogram", (s, dir) => {
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
    },
      // h4: the decade from the decimal string's dot position — no log10
      Sql("""WITH d AS (
           SELECT CAST(instr(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    AS VARCHAR), '.') - 2 AS BIGINT) AS decade,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1.0)
         SELECT decade, CAST(count(*) AS BIGINT) AS n,
                CAST(min(v) AS DOUBLE) AS vmin,
                CAST(max(v) AS DOUBLE) AS vmax
         FROM d GROUP BY 1 ORDER BY 1""")),

    // ---- 2-D equi-width heatmap (h3): the joint-density frame — in-query
    // extrema, one integer bin expression per dim, ≤ nx·ny cells shuffle. -
    Query("h3_heatmap", (s, dir) => {
      graft.ops.Histogram.heatmap2d(
        t(s, dir, "lineitem"), "l_extendedprice", "l_quantity", nx = 8, ny = 8)
    },
      // h3: in-subquery extrema, the identical least/floor bin trees
      Sql("""WITH base AS (
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
         FROM bins GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- equi-depth histogram (h2): k ≈n/k-row buckets via the sharded
    // prefix rank — bucket = (cum·k) DIV n, pure integer arithmetic. -----
    Query("h2_histogram_depth", (s, dir) => {
      graft.ops.Histogram.equiDepth(
        t(s, dir, "lineitem"), "l_extendedprice", k = 16)
    },
      // h2: value cells, exclusive cumulative rank, (cum·k) DIV n buckets
      Sql("""WITH cells AS (
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
         FROM pc, t GROUP BY 1 ORDER BY bucket""")),

    // ---- histogram binning (shared exact bucket arithmetic) -------------
    Query("h1_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
        .orderBy(col("bucket"))
    },
      Sql("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
         FROM lineitem GROUP BY 1 ORDER BY 1"""))
  )
}
