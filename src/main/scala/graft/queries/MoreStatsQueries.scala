package graft
package queries

import org.apache.spark.sql.functions._

import Oracle.{Fitted, Sql}
import Shared._

/** r-family, r46–r77 (r1–r45 are in [[StatsQueries]]): tests, regression
  * fits and their diagnostics. */
object MoreStatsQueries extends Family("r") {

  /** r73's Bonferroni-adjusted two-sided critical value for m = 10 pairs
    * at α = 0.05: z_{α/(2m)} = Φ⁻¹(1 − 0.0025) — one deterministic JVM
    * constant, identical in the plan and the SQL replay. */
  private val r73CritZ: Double = graft.stats.Normal.quantile(1.0 - 0.05 / 20.0)

  /** r72's propensity-score logistic β — exported-artifact oracle: the
    * replay rebuilds the covariate cell frame, scores e(x) with β as
    * literals, and folds the identical IPW/naive running chains. */
  @volatile private var r72PsFit: Option[graft.ml.Logistic.LogisticFit] = None

  /** r76's three nested OLS βs (A, A+B, full) — the m13 exported-β
    * contract; the replay rebuilds the 14-covariate moment row and
    * evaluates the identical nested-SSE trees. */
  @volatile private var r76AnovaFits:
    Option[(Array[Double], Array[Double], Array[Double])] = None

  /** r48's IRLS fit — the r37 runtime-oracle contract. */
  @volatile private var r48LogisticFit: Option[graft.ml.Logistic.LogisticFit] = None

  /** r50's fitted Cox model — the r37/r48 runtime-oracle contract: the
    * replay scores the event-time frame with exactly the β this process
    * fitted (β and e^β interpolated as Double.toString literals). */
  @volatile private var r50CoxFit: Option[graft.stats.Survival.CoxFit] = None

  /** r59's fitted Breusch–Pagan pair (main β, auxiliary γ) — the replay
    * rebuilds the integer cell frame and evaluates the identical fixed
    * trees and running chains with both coefficient sets as literals. */
  @volatile private var r59BpFit: Option[graft.stats.Regression.BpFit] = None

  /** r56's fitted Poisson rates — the r37 runtime-oracle contract:
    * β interpolate as Double.toString literals, the replay rebuilds the
    * identical cell frame and η chain. */
  @volatile private var r56PoissonFit: Option[graft.ml.Logistic.LogisticFit] = None

  /** r77's Poisson β (the r56 cohort refit in-query) — exported for the
    * Cameron–Trivedi replay: μ̂, the exact-moment z/w cells, and the
    * α̂/t chains all rebuild relationally with β as literals. */
  @volatile private var r77PoissonFit: Option[graft.ml.Logistic.LogisticFit] = None

  val queries: Seq[Query] = Seq(
    // ---- §2.8 Brunner–Munzel (r74): the variance-robust replacement for
    // r17 — P(A<B)+½P(A=B) with studentized statistic and Satterthwaite
    // df; doubled-midrank integer moments off the same sharded prefix. ---
    Query("r74_brunner_munzel", (s, dir) => {
      graft.stats.RankTests.brunnerMunzelDF(
        t(s, dir, "lineitem"), "l_quantity", col("l_discount") >= 0.05)
    },
      // r74: same value-level prefix frame; doubled global midrank and
      // doubled placements are per-cell integer constants, squares ride
      // HUGEINT ≡ Spark decimal, the five trees replay fixed
      Sql("""WITH src AS (
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
         FROM d3""")),

    // ---- §2.8 KM Greenwood bands (r66): r26's curve with the Greenwood
    // variance chain — one more running sum of exact-long divisions over
    // the same distinct-time frame; 95% linear band clamped to [0,1]. ----
    Query("r66_km_greenwood", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierGreenwoodDF(cohort, "ship_days", col("kept"))
    },
      // r66: r26's frame + the Greenwood variance chain (exact-long division
      // terms, one more running sum), linear 95% band clamped to [0,1]
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
         FROM ch ORDER BY t""")),

    // ---- §2.8 stratified KM (r67): one curve per priority class with
    // every window PARTITIONED by stratum — no global window, no sharded
    // prefix; one groupBy + one shuffle by group (the preferred 100 TB
    // survival shape when a stratification key exists). -----------------
    Query("r67_km_stratified", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .where(col("o_orderpriority").isNotNull)
        .select(substring(col("o_orderpriority"), 1, 1).as("prio"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.kaplanMeierByGroupDF(
        cohort, "prio", "ship_days", col("kept"))
    },
      // r67: the r26 chains with every window PARTITION BY grp
      Sql("""WITH src AS (
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
         FROM lr ORDER BY grp, t""")),

    // ---- §2.8 restricted mean survival time (r68): area under the KM
    // step curve to a 60-day horizon — lag/lead rides on r26's
    // distinct-time frame, exact integer day spans × previous raw
    // survival, running chain whose last row is the estimate. ------------
    Query("r68_rmst", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.rmstDF(cohort, "ship_days", col("kept"), tau = 60L)
    },
      // r68: r26's frame + the lag/lead RMST increment chain, horizon 60
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
         FROM inc ORDER BY t""")),

    // ---- §2.8 competing risks CIF (r69): Aalen–Johansen cumulative
    // incidence for returnflag A vs N with R as censoring — the all-cause
    // ln-chain, its lag, one running chain per cause;
    // cif1 + cif2 + survival = 1 row-wise. -------------------------------
    Query("r69_competing_risks", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), col("l_returnflag"))
        .where(col("l_returnflag").isNotNull)
      graft.stats.Survival.cumulativeIncidenceDF(cohort, "ship_days",
        col("l_returnflag") === "A", col("l_returnflag") === "N")
    },
      // r69: all-cause ln-chain + lag, one running CIF chain per cause
      Sql("""WITH src AS (
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
         ORDER BY t""")),

    // ---- §2.8 DerSimonian–Laird random-effects meta-analysis (r71): the
    // per-site pooling MH can't license under heterogeneity — per-nation
    // log-OR of high-priority vs returned, Haldane-corrected, Q/τ², fixed
    // AND random-effects running chains over the 25-study frame. ----------
    Query("r71_meta_dl", (s, dir) => {
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
    },
      // r71: per-nation 2×2 cells, Haldane log-OR/variance trees, running
      // fixed-effect chains, max_by last-link Q/τ², random-effects rechain
      Sql("""WITH src AS (
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
         ORDER BY stratum""")),

    // ---- §2.8 IPW average treatment effect (r72): the causal-inference
    // readout — logistic propensity e(x) on the covariate CELL frame
    // (exported-β oracle), Hájek-normalized inverse-propensity sums vs
    // the confounded naive difference, running chains over the 4-cell
    // frame so the last row carries both estimates. ----------------------
    Query("r72_ipw_ate", (s, dir) => {
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
    },
      Fitted(() => r72PsFit.map { fit =>
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
      })),

    // ---- §2.8 two-way ANOVA (r76): Type-I sequential decomposition of
    // o_totalprice over priority × status with interaction — four nested
    // exact-moment OLS fits off ONE moment pass, SS/F per term; raw-double
    // SS (the r23 large-magnitude rule), exported βs replay the trees. ---
    Query("r76_two_way_anova", (s, dir) => {
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
    },
      Fitted(() => r76AnovaFits.map {
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
      })),

    // ---- §2.8 pairwise Welch post-hoc (r73): WHERE the r23 ANOVA's
    // difference lives — all 10 priority pairs, exact power-sum cells,
    // Bonferroni z_{α/(2m)} as a JVM literal both sides. -----------------
    Query("r73_pairwise_welch", (s, dir) => {
      graft.stats.TTest.pairwiseWelchDF(t(s, dir, "orders"),
        "o_totalprice", "o_orderpriority", r73CritZ)
    },
      // r73: the same six-sum Welch trees per pair off the 5-row priority
      // cell frame; the Bonferroni critical value is the interpolated JVM
      // literal (Normal.quantile is deterministic, so this stays static)
      Sql(s"""WITH src AS (
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
         FROM d3 ORDER BY g_a, g_b""")),

    // ---- §2.8 Ljung–Box whiteness test (r75) — joint autocorrelation
    // over e18's first 6 hourly lags, full-precision ρ, Q chain
    // PARTITIONED by event type. ------------------------------------------
    Query("r75_ljung_box", (s, dir) => {
      graft.ops.Resample.ljungBoxDF(Tables.events(s, dir),
        "event_type", "ts", "hour", maxLag = 6)
    },
      // r75: the e18 moment chain kept at FULL precision, then the
      // ρ²/(n−k) chain per key
      Sql {
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
      }),

    // ---- §2.8 Wald–Wolfowitz runs test per event type (r46) — sign runs
    // around the q18-machinery exact median, integer (n1, n2, R), one
    // fixed z tree. ------------------------------------------------------
    Query("r46_runs_test", (s, dir) => {
      graft.stats.RankTests.runsTestDF(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value")
    },
      // r46: identical doubled-cent median, tie drop, lag run boundaries,
      // and the fixed (R − μ)/σ tree
      Sql("""WITH base AS (
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
         FROM agg ORDER BY key""")),

    // ---- §2.8 Wald SPRT (r70): anytime-valid sequential monitoring of
    // the odd-arm purchase rate, H0 p=0.18 vs H1 p=0.22 — one groupBy to
    // the day frame, JVM-interpolated LLR constants, running chain +
    // latched crossing flags (the fixed-n battery's streaming sibling). --
    Query("r70_sprt", (s, dir) => {
      graft.stats.Sequential.sprtDF(Tables.events(s, dir), "ts",
        col("user_id") % 2 === 1, col("event_type") === "purchase",
        p0 = 0.18, p1 = 0.22)
    },
      // r70: day-frame LLR chain, JVM-interpolated Wald constants
      Sql {
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
         FROM fl ORDER BY day""" }),

    // ---- §2.8 Cochran's Q (r47) — k-related-samples binary test over
    // the order's first three lines; one aggregate, one fixed tree. ------
    Query("r47_cochran_q", (s, dir) => {
      val li = t(s, dir, "lineitem")
      def line(n: Int) = li.where(col("l_linenumber") === n)
        .select(col("l_orderkey").as("k"),
          (col("l_returnflag") === "R").as(s"x$n"))
      graft.stats.Epi.cochranQDF(
        line(1).join(line(2), "k").join(line(3), "k"),
        Seq(col("x1"), col("x2"), col("x3")))
    },
      // r47: identical one-aggregate sums and the fixed Q tree
      Sql("""WITH l1 AS (SELECT l_orderkey AS k,
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
         FROM a""")),

    // ---- §2.8 Hosmer–Lemeshow calibration χ² (r48) — over the r37
    // covariate-pattern cells with an independent IRLS fit; the chain
    // rides the 8-row cell frame (r19 doctrine), runtime β oracle. -------
    Query("r48_hosmer_lemeshow", (s, dir) => {
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
    },
      Fitted(() => r48LogisticFit.map { fit =>
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
      })),

    // ---- §2.8 OLS simple regression (r49): price ~ quantity in ONE
    // exact-power-sum pass; slope/intercept/R²/residual-SE as a fixed
    // double tree over six exact decimal sums (the q6/TTest doctrine). --
    Query("r49_ols", (s, dir) =>
      graft.stats.Regression.olsSimpleDF(t(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice")),
      // r49: six exact decimal power sums → the identical staged fixed tree
      // (cxy/cxx/cyy shared subtrees named in both engines)
      Sql("""WITH a AS (
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
         FROM c""")),

    // ---- §2.8 Cox proportional hazards (r50): QUANTIFIES what r27
    // tests — the urgent-priority log hazard ratio for time-to-ship,
    // Breslow ties; Newton–Raphson with the score/information folded as
    // ONE distributed decimal-exact aggregate per iteration (only β
    // crosses the driver — no event-frame cap), fitted β exported,
    // per-time score/info/loglik running chains replayed relationally
    // with β as a literal. ----------------------------------------------
    Query("r50_cox", (s, dir) => {
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
    },
      Fitted(() => r50CoxFit.map { fit =>
        val b = fit.beta.toString; val eb = math.exp(fit.beta).toString
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
      })),

    // ---- §2.8 Nelson–Aalen cumulative hazard (r51): the hazard-scale
    // twin of r26 with NO transcendentals — exact-long divisions on
    // running chains over the distinct-time frame. ----------------------
    Query("r51_nelson_aalen", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cohort = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("ship_days"), (col("l_returnflag") =!= "R").as("kept"))
      graft.stats.Survival.nelsonAalenDF(cohort, "ship_days", col("kept"))
    },
      // r51: the r26 frame, hazard increments as exact-long divisions on
      // running chains — no transcendentals at all
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
         ORDER BY t""")),

    // ---- §2.8 Grubbs' extreme-outlier statistic (r52): per-returnflag
    // single-most-extreme test — one pass of exact per-group power sums
    // plus max/min, G as one fixed tree (q10/q18's parametric sibling). -
    Query("r52_grubbs", (s, dir) =>
      graft.stats.TTest.grubbsDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag"),
      // r52: per-group exact power sums + max/min, G as one fixed tree
      Sql("""WITH g AS (
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
         FROM g ORDER BY grp""")),

    // ---- §2.8 Durbin–Watson (r53): first-order autocorrelation of the
    // daily-revenue series — the mean cancels in the lag differences, so
    // DW = n·Σd²/(n·Σc²−S²) is ONE division of exact cent integers. -----
    Query("r53_durbin_watson", (s, dir) =>
      graft.stats.Regression.durbinWatsonDailyDF(t(s, dir, "lineitem"),
        col("l_shipdate"), col("l_extendedprice")),
      // r53: daily cent totals, lag differences (mean cancels), ONE
      // division of exact integer sums
      Sql("""WITH daily AS (
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
         FROM a""")),

    // ---- §2.8 Bartlett homogeneity of variance (r54): the parametric
    // sibling of r38 — per-group exact power sums, the three group
    // accumulations as running chains, ln on exact-operand doubles. -----
    Query("r54_bartlett", (s, dir) =>
      graft.stats.Anova.bartlettDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag"),
      // r54: per-group power sums, staged grand totals, the three group
      // accumulations as running chains, the same fixed T tree
      Sql("""WITH g AS (
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
         FROM r ORDER BY grp""")),

    // ---- §2.8 Breusch–Pagan heteroskedasticity test (r59): is
    // var(quantity) constant across the covariate cells? Integer y keeps
    // power sums to the 4th moment LONG-exact on the 2^p cell frame; two
    // shared-design driver solves export β/γ as literals; the LM chain
    // runs over 4 cells. ------------------------------------------------
    Query("r59_breusch_pagan", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val xs = Seq[(String, org.apache.spark.sql.Column)](
        "disc_hi" -> (col("l_discount") >= 0.05),
        "tax_hi" -> (col("l_tax") >= 0.04))
      val cells = graft.stats.Regression.bpCellsDF(li, col("l_quantity"), xs)
      val fit = graft.stats.Regression.bpFit(cells, 2)
      r59BpFit = Some(fit)
      graft.stats.Regression.bpSummaryDF(cells, xs.map(_._1), fit)
    },
      Fitted(() => r59BpFit.map { fit =>
        def l(x: Double) = s"CAST('$x' AS DOUBLE)"
        val b = fit.beta.map(l); val g = fit.gamma.map(l)
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
      })),

    // ---- §2.8 Fleiss' kappa (r60): multi-rater chance-corrected
    // agreement — do an order's 4 lines "agree" on the return flag?
    // Two longs (ssq, c2) + a fixed tree; the m-rater sibling of r33. ---
    Query("r60_fleiss_kappa", (s, dir) =>
      graft.stats.ChiSquare.fleissKappaDF(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_returnflag"), m = 4),
      // r60: two longs (ssq, c2) over eligible subjects, one fixed tree
      Sql("""WITH base AS (
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
         FROM st""")),

    // ---- §2.8 intraclass correlation ICC(1,1) (r61): how much quantity
    // variance lives BETWEEN orders? Fixed-size-4 groups (the r60
    // eligibility), three LONGs (A, T, Q) carry everything — exact
    // integer identities to MSB/MSW, fixed trees to ICC. ----------------
    Query("r61_icc", (s, dir) =>
      graft.stats.Anova.iccOneWayDF(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_quantity"), k = 4),
      // r61: three longs, exact integer identities to MSB/MSW, fixed trees
      Sql("""WITH pg AS (
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
         FROM st""")),

    // ---- §2.8 G-test (r62): the likelihood-ratio twin of r19's Pearson
    // χ² on the same (returnflag × linestatus) cells — SIGNED ln
    // contributions, so the chain's last link rides max_by (r30 lesson). -
    Query("r62_gtest", (s, dir) =>
      graft.stats.ChiSquare.gTestDF(t(s, dir, "lineitem"),
        "l_returnflag", "l_linestatus"),
      // r62: observed cells, margin windows, SIGNED ln chain, last by rank
      Sql("""WITH cells AS (
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
         FROM meta CROSS JOIN lastg""")),

    // ---- §2.8 Mood's median test (r63): do the return-flag groups share
    // a common price median? Global exact median in doubled cents off the
    // sharded prefix (q18 doctrine), integer above/below split, the r19
    // Pearson machinery on the 2×k table. -------------------------------
    Query("r63_mood_median", (s, dir) =>
      graft.stats.RankTests.moodMedianDF(t(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag"),
      // r63: doubled-cent global median off the value-cell cumsum, integer
      // split, then the r25 chi² completion template on the 2×k cells
      Sql("""WITH base AS (
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
         FROM ag CROSS JOIN med""")),

    // ---- §2.8 Cohen's d / Hedges' g (r64): the standardized effect size
    // r22's t can't convey — same exact DECIMAL power sums, pooled SD,
    // small-sample correction; one fixed tree. --------------------------
    Query("r64_cohens_d", (s, dir) =>
      graft.stats.TTest.cohensDDF(t(s, dir, "lineitem"),
        "l_extendedprice", col("l_returnflag") === "R"),
      // r64: exact per-group DECIMAL power sums, the identical staged trees
      Sql("""WITH a AS (
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
         FROM st2""")),

    // ---- §2.8 one-sample KS vs uniform (r65): is order value evenly
    // spread over its observed range? Pure INTEGER supremum (both jump
    // limits cross-multiplied), one division on the winning row. --------
    Query("r65_ks_uniform", (s, dir) =>
      graft.stats.RankTests.ksUniformDF(t(s, dir, "orders"),
        "o_totalprice"),
      // r65: cent cells, windowed cum ≡ the sharded prefix, integer
      // two-limit supremum, argmax by (d desc, v asc), one division
      Sql("""WITH base AS (
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
         FROM s2 ORDER BY dmax DESC, v LIMIT 1""")),

    // ---- §2.8 partial correlation (r55): price ~ quantity controlling
    // for discount — three pairwise correlations from one aggregate of
    // nine exact power sums, the closed form as a fixed tree. -----------
    Query("r55_partial_corr", (s, dir) =>
      graft.stats.Regression.partialCorrDF(t(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      // r55: nine exact power sums in one aggregate, three identical
      // correlation trees, the closed partial-correlation form over the
      // UNROUNDED staged values
      Sql("""WITH a AS (
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
         FROM st""")),

    // ---- §2.9 Poisson log-linear regression (r56): lines-per-order ~
    // order covariates — the count-response sibling of r37, same
    // cell-frame sufficient-statistics reduction and bounded driver
    // Newton; β exports as literals, per-cell rates replay relationally. -
    Query("r56_poisson", (s, dir) => {
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
    },
      Fitted(() => r56PoissonFit.map { fit =>
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
      })),

    // ---- §2.8 Cameron–Trivedi overdispersion test (r77): is r56's
    // Poisson variance assumption valid? Auxiliary no-intercept regression
    // of (y−μ̂)²−y on μ̂² — α̂ > 0 says negative-binomial, not Poisson.
    // Exact 1..4th moment LONGs per covariate cell, μ̂ from the exported
    // β, α̂/t as running chains over the 4-cell frame. --------------------
    Query("r77_overdispersion", (s, dir) => {
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
    },
      Fitted(() => r77PoissonFit.map { fit =>
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
      })),

    // ---- §2.8 CUPED variance-reduced experiment readout (r57): customer
    // units, pre-1995 spend as the covariate, post-1995 spend as the
    // outcome, deterministic md5 arm split; θ/ρ²/adjusted means are fixed
    // trees over six exact DECIMAL power sums (the TTest doctrine). ------
    Query("r57_cuped", (s, dir) => {
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
    },
      // r57: customer unit frame, six exact DECIMAL power sums, the
      // identical θ/ρ²/adjusted-mean trees
      Sql("""WITH units AS (
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
         FROM f ORDER BY arm""")),

    // ---- §2.8 chi-square goodness-of-fit vs uniform (r58): the
    // one-aggregate closed form χ² = k·ΣO²/n − n (exact integer sums, a
    // single fixed tree — no per-category expected-count frame). --------
    Query("r58_gof_uniform", (s, dir) => {
      val cells = t(s, dir, "orders").where(col("o_orderpriority").isNotNull)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("obs"))
      cells.agg(count(lit(1)).as("k"), sum(col("obs")).as("n"),
          sum(col("obs").cast("decimal(18,0)") *
            col("obs").cast("decimal(18,0)")).as("soo"))
        .select(col("k"), col("n"),
          round(col("k").cast("double") * col("soo").cast("double") /
            col("n").cast("double") - col("n").cast("double"), 6).as("chi2"),
          (col("k") - lit(1L)).as("df"))
    },
      // r58: category counts, exact DECIMAL ΣO², the one-division closed
      // form k·ΣO²/n − n
      Sql("""WITH cells AS (
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
         FROM a"""))
  )
}
