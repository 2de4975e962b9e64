package graft
package queries

import org.apache.spark.sql.functions._

import graft.stats.{AssociationRules, FDR, Fisher, PermutationTest, Roc}

import Oracle.{Fitted, RowsOnly, Sql}
import Shared._

/** r-family, r1–r45: hypothesis tests, FDR control, survival and
  * contingency statistics. r46–r77 live in [[MoreStatsQueries]] (one file
  * would be ~3,700 lines). */
object StatsQueries extends Family("r") {

  /** The r37 IRLS fit, exported in this process — same runtime-oracle
    * contract as m4's in [[MlQueries]]: β as Double.toString literals, the
    * identical explicit linear chain on both sides. */
  @volatile private var r37LogisticFit: Option[graft.ml.Logistic.LogisticFit] = None

  val queries: Seq[Query] = Seq(
    // ---- §2.8 R1: two-sample permutation test (seeded MC, distributed) --
    // The explicit 2^18 subsample gate is the scale story: below it (sf0.01
    // Verify, 60k rows) the full cohort runs — the rows-only value is
    // unchanged; above it (sf1+) the deterministic content-hash subsample
    // caps the collect AND the per-draw O(n) sweep, so cost stops growing
    // with data size — at sf100 an ungated run would collect ~600M rows
    // and sweep them 999 times. The ungated driver protocol stays as the
    // spec-pinned twin (StatsSpec); exact enumeration is ★r12.
    Query("r1_perm_test", (s, dir) => {
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
    },
      RowsOnly),

    // ---- §2.8 R1 exact twin: full C(16,k) enumeration on a FIXED cohort
    // (nation is constant at every SF; name lengths are integers, so every
    // subset sum is exact in double and the oracle can replay the whole
    // enumeration with a recursive CTE) ------------------------------------
    Query("r12_perm_exact", (s, dir) => {
      import s.implicits._
      val nat = t(s, dir, "nation").where(col("n_nationkey") < 16)
        .select((length(col("n_name")) % 2 === 0).as("grp"),
          col("n_nationkey").cast("double").as("v"))
      val p = PermutationTest.onColumns(nat, "grp", "v")
      Seq(("nationkey_by_name_len_parity", p)).toDF("test", "p_value")
        .select(col("test"), round(col("p_value"), 6).as("p_value"))
    },
      // r12: the permutation test's exact path, replayed completely — a
      // recursive CTE walks all 2^16 pick/skip paths, keeps the C(16,k)
      // subsets of group-A size, and applies the same eps-guarded mean
      // comparison; integer-valued data keeps every double sum exact
      Sql("""WITH RECURSIVE it AS (
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
         FROM leaves, obs""")),

    // ---- §2.8 R2: Fisher exact test (oracle: hypergeometric sum in SQL) -
    Query("r2_fisher", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .select((col("o_orderstatus") === "F").as("x"),
          (col("o_totalprice") > 100000).as("y"))
      val (a, b, c, d, p) = Fisher.test(o, "x", "y")
      Seq((a, b, c, d, p)).toDF("tt", "tf", "ft", "ff", "p_value")
        .select(col("tt"), col("tf"), col("ft"), col("ff"),
          round(col("p_value"), 6).as("p_value"))
    },
      Sql("""WITH cells AS (
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
         FROM terms GROUP BY a, b, c, d""")),

    // ---- §2.8 R3a: pure BH over deterministic per-stratum rates ---------
    Query("r6_bh", (s, dir) => {
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
    },
      Sql("""WITH ps AS (
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
         FROM ps ORDER BY stratum""")),

    // ---- §2.8 R3: BH + SABHA FDR over per-stratum Fisher p-values -------
    Query("r3_fdr", (s, dir) => {
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
    },
      RowsOnly),

    // ---- §2.8 R6: cost-optimal ROC threshold — distributed ρ-cost sweep,
    // exact LONG-arithmetic argmin so the result is engine-reproducible.
    // (The driver-collect thres2Equal/empiricalThreshold protocols mirror
    // the reference's R call shape and live on in MedicalPipeline/StatsSpec;
    // r10 is the binormal variant's hash-matched decimal-power-sum twin.) --
    Query("r4_roc_threshold", (s, dir) => {
      // driver-side candidate sweep (bounded by distinct scores) — the
      // windowed empiricalCostThresholdDF stays as the spec-pinned twin
      Roc.empiricalCostThresholdDriver(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"),
        rhoNum = 1, rhoDen = 100)
    },
      // replicates Roc.empiricalCostThresholdDF: scaled integer cost
      // rhoNum·(P−tp)·N + (rhoDen−rhoNum)·fp·P ranks exactly in both engines;
      // argmin ties break on the smaller midpoint (min-struct ≡ ORDER BY LIMIT 1)
      Sql("""WITH pts AS (
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
         FROM scored ORDER BY icost, m LIMIT 1""")),

    // ---- §2.8 R5: association rules (boolean contingency fast path; ≡
    // FP-Growth per StatsSpec, and exactly replicable in SQL) --------------
    Query("r5_assoc_rules", (s, dir) => {
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
    },
      Sql("""WITH flags AS (
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
         ORDER BY antecedent, consequent""")),

    // ---- §2.8 R4: PERMANOVA (optional in reference, implemented) --------
    Query("r7_permanova", (s, dir) => {
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
    },
      RowsOnly),

    // ---- §2.8 R4 exact twin: distributed PERMANOVA pseudo-F — the observed
    // Anderson statistic from pairwise squared Jaccard distances, all
    // integer arithmetic until the final divisions (oracle replays the
    // triangular self-join) ------------------------------------------------
    Query("r13_permanova_stat", (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 150)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("f_pos"),
          (col("c_acctbal") > 5000).as("f_rich"),
          (col("c_nationkey") < 12).as("f_west"),
          (length(col("c_name")) % 2 === 0).as("f_even"))
      graft.stats.Permanova.pseudoFDF(c, "c_custkey", "c_mktsegment",
        Seq("f_pos", "f_rich", "f_west", "f_even"))
    },
      // r13: distributed PERMANOVA pseudo-F — triangular self-join replayed;
      // d² = ((u−i)/u)² stays a ratio of exact integers until the squaring,
      // and the statistic's divisions happen once at the end on both engines
      Sql("""WITH b AS (SELECT c_custkey AS id, c_mktsegment AS grp,
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
         FROM nn, tot, w""")),

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
    Query("r19_chi2", (s, dir) => {
      graft.stats.ChiSquare.contingencyDF(
          t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .select(col("l_returnflag"), col("l_linestatus"), col("o"),
          round(col("expected"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"),
          round(col("chi2_running"), 6).as("chi2_running"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // r19: cells, window margins, the exact-long numerator trick
      // ((O·N − rt·ct)² / (N·rt·ct)), and the same ordered running chain
      Sql("""WITH cells AS (
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
         FROM c ORDER BY l_returnflag, l_linestatus""")),

    Query("r17_mannwhitney", (s, dir) => {
      graft.stats.RankTests.mannWhitneyDF(
          t(s, dir, "lineitem"), "l_quantity", col("l_returnflag") === "R")
        .select(col("n_a"), col("n_b"), col("u2"), col("tie_term"),
          round(col("z"), 6).as("z"))
    },
      // r17: value-level counts, windowed exclusive B-prefix, the 2U and
      // tie-term integer aggregates, and the IDENTICAL z expression tree
      Sql("""WITH src AS (
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
         FROM ag""")),

    Query("r18_ks_test", (s, dir) => {
      graft.stats.RankTests.ksDF(
        t(s, dir, "lineitem"), "l_extendedprice", col("l_returnflag") === "R")
    },
      // r18: inclusive ECDF cross-difference, integer numerator extremum
      Sql("""WITH src AS (
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
         FROM ic, t GROUP BY t.n_a, t.n_b""")),

    // ---- §2.8 Kruskal–Wallis (r20): k-group generalization of r17 —
    // integer doubled rank sums per group via the same sharded prefix,
    // H as the r19-style fixed running chain over the k-row group frame. -
    Query("r20_kruskal", (s, dir) => {
      graft.stats.RankTests.kruskalWallisDF(
        t(s, dir, "lineitem"), "l_quantity", "l_returnflag")
    },
      // r20: k-group doubled rank sums (tied block of size t at exclusive
      // prefix c contributes 2c+t+1 per member — integers), H as the SAME
      // fixed running chain in group order, tie-corrected twin alongside
      Sql("""WITH src AS (
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
         FROM pg, tt ORDER BY grp""")),

    // ---- §2.8 Spearman rank correlation (r21): two value-level rank
    // maps (sharded prefix each), two row-level equi-joins, five exact
    // DECIMAL power sums over integer doubled ranks, one closed-form ρ. --
    Query("r21_spearman", (s, dir) => {
      graft.stats.RankTests.spearmanDF(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice")
    },
      // r21: two value-level rank maps (windowed exclusive prefixes), the
      // row-level re-join, exact integer power sums (HUGEINT here, DECIMAL
      // there — same integers), and the IDENTICAL closed-form ρ tree
      Sql("""WITH base AS (
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
         FROM ag""")),

    // ---- §2.8 Welch's t-test (r22): the parametric sibling of r1's
    // permutation test — the corpus reduces to six exact aggregates in
    // ONE map-side-combined pass; t and the Welch–Satterthwaite df are a
    // fixed expression tree over them. ------------------------------------
    Query("r22_welch", (s, dir) => {
      graft.stats.TTest.welchDF(
        t(s, dir, "lineitem"), "l_extendedprice", col("l_returnflag") === "R")
    },
      // r22: six exact aggregates in one pass, then the same fixed Welch
      // tree (means → (n−1) variances → t → Welch–Satterthwaite df)
      Sql("""WITH src AS (
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
         FROM d3""")),

    // ---- §2.8 one-way ANOVA (r23): k-group parametric sibling — exact
    // decimal power sums per group in one pass, SS chains + F as fixed
    // running windows over the k-row group frame. ------------------------
    Query("r23_anova", (s, dir) => {
      graft.stats.Anova.onewayDF(
        t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag")
    },
      // r23: per-group exact power sums, staged grand totals, the same
      // running SS chains in group order, F from the chained totals
      Sql("""WITH src AS (
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
         FROM r ORDER BY grp""")),

    // ---- §2.8 Cramér's V (r25): the [0,1] effect size over the r19
    // chi² chain — max(chi2_running) IS the final link (contributions
    // are non-negative), V one fixed tree over it. ------------------------
    Query("r25_cramers_v", (s, dir) => {
      graft.stats.ChiSquare.cramersVDF(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    },
      // r25: the r19 chain reduced — max of the running chi² is its final
      // link, V is the fixed normalization tree
      Sql("""WITH cells AS (
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
         FROM ag""")),

    // ---- §2.8 Kaplan–Meier (r26): time-to-ship survival with returns as
    // right-censoring — value-level (distinct day) frame via the sharded
    // prefix, survival as the running log-sum product (t13 precedent). ---
    Query("r26_kaplan_meier", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierDF(cohort, "ship_days", col("kept"))
    },
      // r26: distinct-time counts, exclusive leave-prefix → n_risk, the
      // running ln-sum product with the dead-risk-set pin (t13 precedent)
      Sql("""WITH src AS (
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
         FROM lr ORDER BY t""")),

    // ---- §2.8 log-rank test (r27): does order priority shift the
    // time-to-ship curve? Two sharded prefixes (per-arm risk sets), all
    // integer until the per-time division, running chains to the stat. ---
    Query("r27_logrank", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("urgent"))
      graft.stats.Survival.logRankDF(cohort, "ship_days", col("kept"), col("urgent"))
    },
      // r27: per-arm leave counts, two exclusive prefixes → risk sets,
      // event-time frame, the same fixed division trees + running chains
      Sql("""WITH src AS (
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
         FROM run ORDER BY t""")),

    // ---- §2.8 Wilcoxon signed-rank (r28): PAIRED quantities — line 1 vs
    // line 2 of the same order; |d| ranks via the sharded prefix, three
    // exact longs + one closed-form z. ------------------------------------
    Query("r28_signed_rank", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("x"))
      val l2 = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("y"))
      graft.stats.RankTests.signedRankDF(l1.join(l2, "k"), "x", "y")
    },
      // r28: paired diffs, |d| value counts, exclusive prefix ranks, the
      // three exact longs and the identical closed-form z tree
      Sql("""WITH pairs AS (
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
         FROM ag""")),

    // ---- §2.8 paired sign test (r41) — the distribution-free sibling of
    // r28 that only needs the SIGN of each paired difference: three longs
    // and one fixed z tree (continuity-corrected normal approximation). --
    Query("r41_sign_test", (s, dir) => {
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
    },
      // r41: the identical three-long reduction and continuity-corrected z
      Sql("""WITH p AS (
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
         FROM c""")),

    // ---- §2.8 Mantel–Haenszel (r29): discount→return association
    // adjusted for ship-year strata — 2×2 cells per stratum in one
    // groupBy, per-stratum OR/RR + pooled MH/CMH running chains. ----------
    Query("r29_mantel_haenszel", (s, dir) => {
      graft.stats.Epi.mantelHaenszelDF(
        t(s, dir, "lineitem").withColumn("ship_year",
          year(col("l_shipdate")).cast("string")),
        "ship_year", col("l_discount") >= 0.05, col("l_returnflag") === "R")
    },
      // r29: stratum 2×2 cells, fixed OR/RR trees, MH/CMH running chains
      // in stratum order — the identical left-to-right expression shapes
      Sql("""WITH src AS (
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
         FROM run ORDER BY stratum""")),

    // ---- §2.8 mutual information / NMI (r30): the feature-relevance
    // score over the r19 cell frame — one corpus groupBy, running chains
    // for MI and both marginal entropies, 1-row cross joins to combine. --
    Query("r30_mutual_info", (s, dir) => {
      graft.stats.ChiSquare.mutualInformationDF(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    },
      // r30: cell frame + margins, MI/entropy running chains (last link via
      // max_by on the cell rank — MI terms are signed), 1-row combine
      Sql("""WITH cells AS (
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
         FROM mi, hr, hc""")),

    // ---- §2.8 Cochran–Armitage trend (r31): does the return rate move
    // with the discount dose? One map-side aggregate to five exact longs,
    // one closed-form z — no shuffle beyond the 1-row reduction. ----------
    Query("r31_trend_test", (s, dir) => {
      graft.stats.Epi.cochranArmitageDF(
        t(s, dir, "lineitem").withColumn("dose",
          floor(col("l_discount") * 100 + lit(0.5))),
        "dose", col("l_returnflag") === "R")
    },
      // r31: five exact integer sums, the identical closed-form z tree
      Sql("""WITH src AS (
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
         FROM ag""")),

    // ---- §2.8 Friedman test (r32): repeated measures — do the first
    // three line positions of an order differ in quantity? In-block ranks
    // via two PARTITIONED windows (no corpus sort), k-row running chain. -
    Query("r32_friedman", (s, dir) => {
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
    },
      // r32: in-block doubled ranks via the same two partitioned windows,
      // treatment frame running chain with the identical χ² trees
      Sql("""WITH li AS (
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
         FROM run ORDER BY trt""")),

    // ---- §2.8 Cohen's kappa (r33): chance-corrected agreement between
    // the return flag and a discount-rule prediction over the same label
    // space — three exact longs, one division, no chains. -----------------
    Query("r33_cohen_kappa", (s, dir) => {
      graft.stats.ChiSquare.cohenKappaDF(
        t(s, dir, "lineitem").withColumn("pred",
          when(col("l_discount") >= 0.06, "R")
            .when(col("l_discount") >= 0.03, "N").otherwise("A")),
        "l_returnflag", "pred")
    },
      // r33: matching count + margin product sum, kappa as ONE integer-ratio
      // division — (n·agree − pe) / (n² − pe)
      Sql("""WITH src AS (
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
         FROM ag, pe""")),

    // ---- §2.8 incidence-rate ratio (r34): returns per shipping-day
    // across priority arms — person-time = inclusive ship days, one
    // map-side aggregate to four longs, IRR + conditional score z. -------
    Query("r34_rate_ratio", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          + lit(1)).as("days"), (col("l_returnflag") === "R").as("ret"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("urgent"))
      graft.stats.Epi.rateRatioDF(cohort, col("urgent"), col("ret"), "days")
    },
      // r34: four integer sums, the identical IRR and score-z trees
      Sql("""WITH src AS (
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
         FROM ag""")),

    // ---- §2.8 Wilson 95% CI per group (r39) — the proportion interval
    // that stays inside [0,1]; one fixed double tree per group row. ------
    Query("r39_wilson", (s, dir) => {
      graft.stats.Proportion.wilsonDF(t(s, dir, "orders"),
        "o_orderpriority", col("o_orderstatus") === "F")
    },
      // r39: the identical Wilson tree with the SAME JVM z literal
      Sql {
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
      }),

    // ---- §2.8 Kendall's τ-b (r40) — concordant/discordant pair census
    // on the DIMENSION-SIZED cell frame (never an O(n²) row join), tie
    // corrections from exact margins, one double tree. -------------------
    Query("r40_kendall", (s, dir) => {
      graft.stats.RankTests.kendallTauDF(
        t(s, dir, "lineitem"), "l_quantity", "l_discount")
    },
      // r40: the identical cell self-join census and tie trees
      Sql("""WITH cells AS (
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
         FROM nr, cd, tx, ty""")),

    // ---- §2.8 Breslow–Day homogeneity (r35): is r29's pooling valid?
    // Pooled ψ from the MH chains' last link, per-stratum expected a-cell
    // from the closed-form OR quadratic, harmonic variance, BD chain. ----
    Query("r35_breslow_day", (s, dir) => {
      graft.stats.Epi.breslowDayDF(
        t(s, dir, "lineitem").withColumn("ship_year",
          year(col("l_shipdate")).cast("string")),
        "ship_year", col("l_discount") >= 0.05, col("l_returnflag") === "R")
    },
      // r35: the r29 cell/chain machinery, pooled ψ by max_by last-link,
      // the identical quadratic/harmonic trees, nested CASE so sqrt never
      // sees a negative discriminant
      Sql("""WITH src AS (
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
         FROM terms ORDER BY stratum""")),

    // ---- §2.8 McNemar's paired test (r36): did the return outcome flip
    // between line 1 and line 2 of the same order? Four cells in one
    // aggregate, the discordant-cell χ² ± continuity correction. ---------
    Query("r36_mcnemar", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), (col("l_returnflag") === "R").as("r1"))
      val l2 = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("k"), (col("l_returnflag") === "R").as("r2"))
      graft.stats.Epi.mcnemarDF(l1.join(l2, "k"), col("r1"), col("r2"))
    },
      // r36: the four concordance cells and the identical discordant trees
      Sql("""WITH pairs AS (
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
         FROM ag""")),

    // ---- §2.8 Brown–Forsythe homogeneity of variance (r38): the robust
    // Levene test — exact type-1 group medians off the half-cent cell
    // cumsum, |dev| stays integer, W as the r23 running-chain ANOVA tree. -
    Query("r38_levene", (s, dir) => {
      graft.stats.Anova.brownForsytheDF(
        t(s, dir, "orders"), "o_totalprice", "o_orderpriority")
    },
      // r38: the q10 half-cent cell/cumsum median, integer |dev| power sums
      // (HUGEINT ≡ Spark's DECIMAL(38,0)), then the identical r23 chains
      Sql("""WITH cells AS (
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
         FROM r ORDER BY grp""")),

    // ---- §2.9 logistic regression via IRLS on the cell frame (r37):
    // binomial cells are sufficient statistics, so ONE groupBy feeds a
    // bounded deterministic driver Newton loop; β exports as literals and
    // the per-cell scores replay relationally (the m4/m5 doctrine). ------
    Query("r37_logistic", (s, dir) => {
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
    },
      Fitted(() => r37LogisticFit.map { fit =>
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
      })),

    // ---- §2.8 Jarque–Bera normality (r24): the moment sanity check the
    // parametric tests assume — cent-integer power sums in one pass, the
    // statistic as one fixed double tree. ---------------------------------
    Query("r24_jarque_bera", (s, dir) => {
      graft.stats.TTest.jarqueBeraDF(t(s, dir, "lineitem"), "l_extendedprice")
    },
      // r24: cent-integer power sums (HUGEINT here, DECIMAL there — same
      // integers), the identical central-moment → skew/kurt → JB tree
      Sql("""WITH src AS (
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
         FROM k""")),

    // ---- §2.8 R4 distributed beta-dispersion twin: the betadisper leg of
    // PERMANOVA over the same pair stream as r13 — per-point mean Jaccard
    // distance to own-group members, per-group mean/max, all-integer sums
    // (scale = lcm(1..4) = 12 turns every distance into an integer) so the
    // DuckDB replay is bit-exact. Removes the last O(n²)-driver stat. ----
    Query("r16_dispersion", (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 150)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("f_pos"),
          (col("c_acctbal") > 5000).as("f_rich"),
          (col("c_nationkey") < 12).as("f_west"),
          (length(col("c_name")) % 2 === 0).as("f_even"))
      graft.stats.Permanova.dispersionDF(c, "c_custkey", "c_mktsegment",
        Seq("f_pos", "f_rich", "f_west", "f_even"))
        .orderBy(col("grp"))
    },
      // r16: the distributed dispersion replayed relationally — directed
      // same-group pairs, integer-scaled distances (12·d), one final
      // division per output row (exact-integer discipline, no FP drift)
      Sql("""WITH b AS (SELECT c_custkey AS id, c_mktsegment AS grp,
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
         FROM pp GROUP BY 1 ORDER BY 1""")),

    // ---- §2.8 R6 (distributed twin #2): binormal threshold from decimal
    // power sums — no driver collect, engine-reproducible doubles ----------
    Query("r10_binormal_threshold", (s, dir) => {
      Roc.binormalThresholdDF(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"), rho = 0.01)
    },
      // ln(99) is embedded as the JVM's Math.log value so both engines use the
      // identical double constant (C and Java libm can differ in the last ulp)
      Sql(s"""WITH s AS (
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
         FROM s""")),

    // ---- §2.8 R3 (distributed twin): BH + Storey adjusted p over rows ---
    Query("r9_fdr_distributed", (s, dir) => {
      val ps = t(s, dir, "orders").groupBy(col("o_orderpriority").as("stratum"))
        .agg((count(when(col("o_orderstatus") === "F", 1)).cast("double")
          / count(lit(1)) / 3).as("p"))
      FDR.adjustDF(ps, "p", col("stratum"))
        .select(col("stratum"), round(col("p"), 6).as("p"),
          round(col("bh_adj"), 6).as("bh_adj"),
          round(col("storey_pi0"), 6).as("storey_pi0"),
          round(col("storey_adj"), 6).as("storey_adj"))
        .orderBy(col("stratum"))
    },
      Sql("""WITH ps AS (
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
         FROM adj ORDER BY stratum""")),

    // ---- R3 scale path: distributed SABHA with the clamped feasible block
    // projection — closed-form q̂, so the whole selection is SQL-replayable
    // (the exact ADMM solver stays driver-side in r3; spec-equal when the
    // projection is feasible) ----------------------------------------------
    Query("r11_sabha_distributed", (s, dir) => {
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
    },
      // r11: SQL replay of the clamped-block-projection SABHA selection; the
      // only FP ops are exact-operand divisions and single multiplications, so
      // the step-up comparisons agree bit-for-bit across engines
      Sql("""WITH ps AS (
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
         FROM k ORDER BY block, nation""")),

    // ---- R3 SABHA TV variant: distributed 1-d chain TV projection — the
    // edge-space water-filling step of solveQTV as windowed DataFrame math
    // (StatsSpec proves ≡ the driver solver's l1Projection on chain diffs).
    // y is the SABHA censoring estimate (P>τ)/(1−τ); its chain differences
    // (all ±2/0 here) make the tie-heavy water level a sharp cross-engine
    // test of the ranking/threshold math -------------------------------
    Query("r14_tv_projection", (s, dir) => {
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
    },
      // r14: the same windowed water-filling as tvChainProjectDF — edge diffs
      // by lead(), rank by |d| desc with the chain order as tie-break, running
      // cum, level θ at the largest feasible rank, soft-threshold, rebuild
      Sql("""WITH ps AS (
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
         FROM o ORDER BY block, nation""")),

    // ---- R3 per-family distributed FDR: every window partitioned by the
    // test family, so the adjustment parallelizes across families with no
    // global sort — the distributed-hypothesis-count shape -----------------
    Query("r15_fdr_family", (s, dir) => {
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
    },
      // r15: r9's window replay with every window partitioned by family
      Sql("""WITH ps AS (
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
         FROM adj ORDER BY family, stratum""")),

    // ---- §2.8 R6 (distributed twin): empirical ROC, no driver collect ---
    Query("r8_roc_empirical", (s, dir) => {
      // driver-side curve sweep (bounded by distinct scores) — the windowed
      // empiricalRoc stays as the spec-pinned bit-identical twin
      Roc.empiricalRocDriver(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"))
    },
      Sql("""WITH pts AS (
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
         FROM curve2 c CROSS JOIN tot t CROSS JOIN best b""")),

    // ---- §2.8 Theil–Sen robust slope (r44) — weighted median of the
    // cell-frame pairwise slopes off the sharded prefix cumsum; every
    // slope is one division of exact cell values. ------------------------
    Query("r44_theil_sen", (s, dir) => {
      graft.stats.RankTests.theilSenDF(
        t(s, dir, "lineitem"), "l_quantity", "l_discount")
    },
      // r44: identical cell pair census, slope = one division, weighted
      // interpolating median off the cumsum
      Sql("""WITH cells AS (
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
         FROM pr, np GROUP BY n, tw""")),

    // ---- §2.8 precision–recall curve (r45) — the imbalance-honest twin
    // of r8's ROC; exact integer TP/FP per cut via the sharded prefix,
    // one division per reported ratio. -----------------------------------
    Query("r45_pr_curve", (s, dir) => {
      Roc.prCurve(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING", col("c_acctbal"))
    },
      // r45: identical exclusive-prefix TP/FP and one division per ratio
      Sql("""WITH byscore AS (
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
         FROM pref ORDER BY threshold DESC"""))
  )
}
