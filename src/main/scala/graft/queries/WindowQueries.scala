package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Oracle.Sql
import Shared._

/** w-family: window functions. */
object WindowQueries extends Family("w") {

  val queries: Seq[Query] = Seq(
    // ---- §2.6 W1: window aggregate as group-by substitute (+ distinct) --
    Query("w1_window_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          sum(col("l_quantity")).over(Window.partitionBy(col("l_returnflag")))
            .as("qty_total"))
        .distinct()
        .orderBy(col("l_returnflag"))
    },
      Sql("""SELECT DISTINCT l_returnflag,
                sum(l_quantity) OVER (PARTITION BY l_returnflag) AS qty_total
         FROM lineitem ORDER BY l_returnflag""")),

    // ---- §2.6 W2 / §2.5 A7: whole-table window aggregates (z-score) -----
    Query("w2_global_window", (s, dir) => {
      val w = Window.partitionBy()
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          round((col("s_acctbal") - avg(col("s_acctbal")).over(w)) /
            stddev_pop(col("s_acctbal")).over(w), 6).as("z"))
        .orderBy(col("s_suppkey"))
    },
      Sql("""SELECT s_suppkey,
                round((s_acctbal - avg(s_acctbal) OVER ()) /
                      stddev_pop(s_acctbal) OVER (), 6) AS z
         FROM supplier ORDER BY s_suppkey""")),

    // ---- moving-frame windows: ROWS BETWEEN n PRECEDING -----------------
    // the remaining window shape the W-family lacked: per-key sliding
    // 5-row average (DECIMAL moving sum so the sliding-frame FP order
    // can't diverge between engines), running max, and lag diff — all
    // key-partitioned windows, no global sort
    Query("w4_moving_window", (s, dir) => {
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
    },
      // moving DECIMAL sum (exact, order-proof) / frame count; running max
      // and lag diff are order-independent / row-local — same frame specs
      Sql("""SELECT user_id, event_id,
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
         ORDER BY user_id, event_id""")),

    // ---- RANGE-frame windows: time-based trailing aggregates ------------
    // the VALUE-bounded frame shape (vs w4's row-bounded): per-user 1-hour
    // trailing count and exact DECIMAL sum over epoch-micros ordering —
    // the same numeric frame in any engine, peers included by RANGE
    // semantics. Key-partitioned; scales like any keyed window.
    Query("w5_range_window", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables.events(s, dir)
        .where(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Sql("""SELECT user_id, event_id,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS sum_1h
         FROM events
         WHERE user_id < 30
         ORDER BY user_id, event_id""")),

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
    Query("w6_groups_window", (s, dir) => {
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
    },
      // identical numeric RANGE frame: epoch micros both sides (nanos are
      // micro-aligned in the testdata — the e3 ASOF oracle relies on this too)
      // w6: the GROUPS frame realized as an integer RANGE over the gapless
      // dense_rank on BOTH engines (DuckDB 1.0 has no GROUPS mode), but the
      // EXCLUDE clauses run on DuckDB's NATIVE frame-exclusion machinery vs
      // Spark's guarded DECIMAL subtractions — independent implementations of
      // the SQL:2016 exclusion semantics on the two sides of the hash
      Sql("""WITH c AS (
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
         ORDER BY c_mktsegment, c_custkey""")),

    // ---- §2.6 ranking window suite: lead/lag/ntile/percent_rank ---------
    Query("w3_window_rank", (s, dir) => {
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
    },
      Sql("""WITH w3 AS (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER w AS rn,
                  ntile(4) OVER w AS quartile,
                  round(percent_rank() OVER w, 6) AS pct_rank,
                  round(cume_dist() OVER w, 6) AS cume,
                  lag(o_orderkey, 1) OVER w AS prev_key,
                  lead(o_orderkey, 1) OVER w AS next_key
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
         SELECT * FROM w3 WHERE rn <= 20 ORDER BY o_orderpriority, rn""")),

    // ---- per-group top-k WITHOUT the window sort (w7): the bounded-heap
    // TypedImperativeAggregate (n1's operator) on a relational group-by —
    // map-side partial k-heaps, only k rows per group cross the shuffle,
    // vs row_number's full per-group sort-and-discard. Oracle = the window
    // formulation in DuckDB (identical (score desc, id asc) tiebreak), so
    // the hash match proves heap ≡ window semantics on real data. ---------
    Query("w7_group_topk", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(graft.expressions.TopKByScore.topKByScore(
          col("o_totalprice"), col("o_orderkey").cast("long"), 10).as("top"))
        .select(col("o_orderstatus"), posexplode(col("top")).as(Seq("idx", "r")))
        .select(col("o_orderstatus"), (col("idx") + 1).cast("long").as("rnk"),
          col("r.id").as("o_orderkey"), col("r.score").as("price"))
        .orderBy(col("o_orderstatus"), col("rnk"))
    },
      // w7: the heap aggregate must equal the window formulation — identical
      // (price desc, key asc) tiebreak, rank from heap order
      Sql("""WITH r AS (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders)
         SELECT o_orderstatus, rnk, o_orderkey, o_totalprice AS price
         FROM r WHERE rnk <= 10
         ORDER BY o_orderstatus, rnk""")),

    // ---- windows: rank-family coverage (w8) — ntile/percent_rank/
    // cume_dist on a PARTITIONED unique-ordered window, aggregated to the
    // quartile frame; the (price, key) order makes ranks tie-free. -------
    Query("w8_rank_funcs", (s, dir) => {
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
    },
      // w8: identical rank-family window functions on the same tie-free
      // (price, key) order, aggregated to the quartile frame
      Sql("""WITH r AS (
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
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- windows: NATIVE session_window aggregation (w9) — Spark's
    // built-in gap-merging session assignment; the oracle replays it with
    // the e20 break-cumsum island machinery (half-open [ts, ts+gap)). ----
    Query("w9_session_window", (s, dir) => {
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    },
      // w9: session_window replayed as break-cumsum islands; half-open
      // windows make the break rule gap >= 30min exactly
      Sql("""WITH e AS (SELECT user_id, ts FROM events
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
         FROM g GROUP BY user_id, sid ORDER BY user_id, start_us"""))
  )
}
