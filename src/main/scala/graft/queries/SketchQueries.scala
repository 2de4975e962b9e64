package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Oracle.Sql
import Shared._

/** a-family: approximate sketches, their error bounds and heavy hitters. */
object SketchQueries extends Family("a") {

  /** a9/a10 per return flag: the exact distinct counts, and whether the HLL
    * and ACD distinct estimates and the approximate p95 land inside their
    * bands (named by the three column arguments). The exact counts and the
    * sketches are two aggregations joined on the flag: in one `agg`,
    * `countDistinct` makes Spark's distinct rewrite expand every row once
    * per distinct column and carry every sketch buffer through it. */
  private def sketchBands(s: SparkSession, dir: String, hllBand: String,
      acdBand: String, p95Band: String): DataFrame = {
    val lineitem = t(s, dir, "lineitem")
    val exact = lineitem.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      countDistinct(col("l_partkey")).as("exact_parts"))
    val sketches = lineitem.groupBy(col("l_returnflag")).agg(
      hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).as("__hll"),
      approx_count_distinct(col("l_partkey"), 0.02).as("__acd"),
      percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("__p95a"),
      percentile(col("l_extendedprice"), lit(0.94)).as("__p94x"),
      percentile(col("l_extendedprice"), lit(0.96)).as("__p96x"))
    // both sides come out hash-partitioned on the flag, so a shuffled join
    // needs no exchange; a broadcast would cost a job of its own
    exact.join(sketches.hint("shuffle_hash"), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("__hll") - col("exact_orders")) <=
          col("exact_orders") * 0.05).as(hllBand),
        (abs(col("__acd") - col("exact_parts")) <=
          col("exact_parts") * 0.06).as(acdBand),
        (col("__p95a") >= col("__p94x") && col("__p95a") <= col("__p96x"))
          .as(p95Band))
      .orderBy(col("l_returnflag"))
  }

  val queries: Seq[Query] = Seq(
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
    Query("a9_sketches", (s, dir) =>
      sketchBands(s, dir, "hll_in_band", "acd_in_band", "p95_in_band"),
      // exact distinct counts replay in DuckDB; the booleans are asserted
      // literally TRUE — Spark computes them from the sketch guarantees, so a
      // hash match certifies the estimates landed inside their bounds
      // a9's oracle EARNS its booleans: DuckDB's own sketches are tested
      // against DuckDB's exact values with the same bands the Spark side uses
      Sql("""SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
             <= count(DISTINCT l_orderkey) * 0.05 AS hll_in_band,
           abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
             <= count(DISTINCT l_partkey) * 0.06 AS acd_in_band,
           approx_quantile(l_extendedprice, 0.95)
             BETWEEN quantile_cont(l_extendedprice, 0.94)
                 AND quantile_cont(l_extendedprice, 0.96) AS p95_in_band
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- sketch error bounds, driver-verifiable twin of a9: the exact side
    // is computed in the same query and each estimate is checked against its
    // published guarantee (HLL lgK=12 ≈ 1.6% rsd → 5% ≥ 3σ; ACD rsd=0.02 →
    // 6% = 3σ; percentile_approx accuracy=1000 → rank error ≤ 0.001, bounded
    // by the exact 0.94/0.96 quantiles). The oracle replays the exact side
    // and asserts the booleans literally TRUE — a hash match certifies every
    // sketch landed inside its bound. SketchAccuracySpec keeps tighter ones.
    Query("a10_sketch_bounds", (s, dir) =>
      sketchBands(s, dir, "hll_within_eps", "acd_within_eps", "p95_within_bounds"),
      Sql("""SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_eps,
           TRUE AS acd_within_eps,
           TRUE AS p95_within_bounds
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

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
    Query("a12_sketch_quantiles", (s, dir) => {
      graft.ops.SketchQuantiles.quantiles(t(s, dir, "lineitem"),
        "l_extendedprice", Seq((1, 2), (19, 20), (99, 100)), k = 256)
    },
      // a12: the sketch result is EXACT under the verified certificate, so
      // the oracle is the direct cell-cumsum type-1 quantile
      Sql("""WITH cells AS (
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
         ORDER BY CAST(qn AS DOUBLE) / CAST(qd AS DOUBLE)""")),

    Query("a11_heavy_hitters", (s, dir) => {
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
    },
      // a11: the two-pass heavy-hitter result is EXACT (certified in-query),
      // so the oracle is just the plain top-k over the same engineered key
      Sql("""WITH keyed AS (
           SELECT CASE WHEN l_linenumber <= 2
                       THEN 'hot_' || CAST(l_orderkey % 7 AS VARCHAR)
                       ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) || '_' ||
                            CAST(l_linenumber AS VARCHAR) END AS key
           FROM lineitem)
         SELECT key, count(*) AS n_rows FROM keyed
         GROUP BY 1 ORDER BY n_rows DESC, key ASC LIMIT 5"""))
  )
}
