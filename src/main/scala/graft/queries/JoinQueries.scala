package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.{AggSpec, Cohort}

import Oracle.Sql
import Shared._

/** j-family: joins — cross-cohort, outer, skew-mitigated, bloom-filtered,
  * bucketed, interval and as-of. */
object JoinQueries extends Family("j") {

  val queries: Seq[Query] = Seq(
    // ---- §2.3 J1: cross-cohort aggregate (agg-then-crossjoin rewrite) ---
    Query("j1_cross_agg", (s, dir) => {
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
    },
      Sql("""SELECT round(cust_median, 3) AS cust_median, cust_min, cust_max,
                round(supp_median, 3) AS supp_median, supp_min, supp_max
         FROM (SELECT CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS cust_median,
                      CAST(min(c_acctbal) AS DOUBLE) AS cust_min,
                      CAST(max(c_acctbal) AS DOUBLE) AS cust_max FROM customer)
         CROSS JOIN
              (SELECT CAST(quantile_cont(s_acctbal, 0.5) AS DOUBLE) AS supp_median,
                      CAST(min(s_acctbal) AS DOUBLE) AS supp_min,
                      CAST(max(s_acctbal) AS DOUBLE) AS supp_max FROM supplier)""")),

    // ---- §2.3 J2: tagged union for cohort comparison --------------------
    Query("j2_tagged_union", (s, dir) => {
      Cohort.taggedUnion(
        t(s, dir, "customer"),
        Seq(col("c_name") -> "name", col("c_acctbal") -> "acctbal"),
        t(s, dir, "supplier"),
        Seq(col("s_name") -> "name", col("s_acctbal") -> "acctbal"),
        tagCol = "is_customer")
        .orderBy(col("name"), col("is_customer"))
    },
      Sql("""SELECT name, acctbal, is_customer FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, 1 AS is_customer FROM customer
           UNION ALL
           SELECT s_name, s_acctbal, 0 FROM supplier)
         ORDER BY name, is_customer""")),

    // ---- joins: point-in-interval bracket lookup (j10) — the IP-geo /
    // rate-card shape: broadcast sorted interval starts, per-row codegen
    // binary search, index equi-join back to the dim; zero shuffle on
    // the fact side, no BETWEEN nested loop. -----------------------------
    Query("j10_bracket_lookup", (s, dir) => {
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
    },
      // j10: the relational BETWEEN left join over the same literal dim —
      // non-overlap guarantees at most one match per point
      Sql("""WITH dim(lo, hi, bracket) AS (VALUES
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
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- §2.3 outer join: customers with/without orders -----------------
    Query("j4_outer_join", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("c_custkey"))
    },
      Sql("""SELECT c_custkey, c_mktsegment,
                coalesce(o.n_orders, 0) AS n_orders
         FROM customer c
         LEFT OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                          FROM orders GROUP BY 1) o
           ON c.c_custkey = o.o_custkey
         ORDER BY c_custkey""")),

    // ---- skew-mitigated join (identical results to the plain join) ------
    Query("j3_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
        col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
        col("o_orderstatus"))
      graft.ops.Partitioning.saltedJoin(li, o, Seq("orderkey"), salts = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"))
        .orderBy(col("o_orderstatus"))
    },
      // salting must be output-invariant: the oracle is the PLAIN join
      Sql("""SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- bloom-prefiltered join (identical results to the plain join):
    // a sketch of the selective dim's key set drops non-matching fact rows
    // BEFORE the join's exchange — only might-match rows shuffle; the
    // exact join behind the filter removes the fpp false positives. The
    // membership test is a native codegen expression, never a UDF. ------
    Query("j8_bloom_join", (s, dir) => {
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
    },
      // j8: the bloom pre-filter must be output-invariant — oracle = the
      // plain join on the selective dim (false positives die in the join)
      Sql("""SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- hot-key-isolated join (identical results to the plain join):
    // the hotKeys head joins via broadcast of its right slice — hot rows
    // never shuffle — while the tail takes the normal path --------------
    Query("j6_skew_isolated", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
        col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
        col("o_orderstatus"))
      graft.ops.Partitioning.skewIsolatedJoin(li, o, Seq("orderkey"), hotKeyLimit = 5)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"))
        .orderBy(col("o_orderstatus"))
    },
      // j6: hot-key isolation must be output-invariant — oracle = plain join
      Sql("""SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- interval-overlap join by binned blocking (j7): the range
    // predicate l.s ≤ r.e ∧ r.s ≤ l.e would plan as a nested loop; binning
    // both sides into hour cells turns it into a hash EQUI join on the
    // bin with owning-bin single emission (ops.IntervalJoin; the LSH
    // owning-band contract applied to time). Oracle: DuckDB's native
    // range join evaluates the same predicate directly. ------------------
    Query("j7_interval_overlap", (s, dir) => {
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
    },
      // j7: DuckDB's native range join evaluates the overlap predicate the
      // direct way; epoch_us(ts) ≡ Spark unix_micros (w5 precedent)
      Sql("""WITH le AS (
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
         ORDER BY l_id, r_id""")),

    // ---- bucketed co-located fact⋈fact join (zero-Exchange SMJ) ---------
    // Both facts persist bucketed+sorted on the join key; the join AND the
    // key-grouped aggregation then plan with no shuffle exchange at all —
    // the layout contract that makes repeated 100 TB fact joins affordable.
    // repartition(8, key) uses the same hash as the bucket spec, so each
    // task writes exactly one bucket file and scans stay sorted.
    Query("j5_bucketed_join", (s, dir) => {
      // layout tables are per-(session, sfDir): write once, reuse on
      // re-invocation. The dir suffix is [[Shared.dirDigest]]; both tables
      // are checked so a half-completed first write is retried, not
      // half-reused.
      val sfx = dirDigest(dir, 16)
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
    },
      // j5: bucketing must be output-invariant — the oracle is the plain join
      Sql("""SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey""")),

    // ---- joins: FORWARD as-of (j9) — for each view, the next purchase
    // by the same user at-or-after it (pandas merge_asof forward); the
    // e3 union+window shape iterated in descending time, one key shuffle,
    // no range join. Right side pre-deduped per (user, ts) so the match
    // is unique and the DuckDB negated-ASOF replay is deterministic. ----
    Query("j9_asof_forward", (s, dir) => {
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
    },
      // j9: forward as-of ≡ DuckDB backward ASOF on NEGATED epoch
      Sql("""SELECT v.user_id, v.event_id, p.pid AS next_purchase_id,
                p.pv AS next_value
         FROM (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view') v
         ASOF LEFT JOIN
              (SELECT user_id, ts, CAST(min(event_id) AS BIGINT) AS pid,
                      max(value) AS pv
               FROM events WHERE event_type = 'purchase'
               GROUP BY 1, 2) p
           ON v.user_id = p.user_id AND -epoch_us(v.ts) >= -epoch_us(p.ts)
         ORDER BY v.event_id"""))
  )
}
