package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.ShardLookup

/** Time-to-event (survival) analysis at corpus scale (NOT-IN-REFERENCE
  * §2.8 extension — the survival siblings of the reference's hypothesis
  * battery in `Hypothesis testing R.r`; a medical analytics engine without
  * Kaplan–Meier and the log-rank test stops short of the clinic).
  *
  * Both estimators reduce the corpus to VALUE-LEVEL (distinct time) counts
  * in one map-side-combined groupBy — the only corpus-sized shuffle — then
  * need the number-at-risk at each time, i.e. `N − (subjects leaving before
  * t)`: an exclusive prefix sum in time order
  * ([[graft.ops.ShardLookup.exclusivePrefix]]), no global sort; its totals
  * give `N` without another job. Everything cumulative is INTEGER; the
  * per-time expectation / variance terms are single exact-operand double
  * divisions; the only accumulated doubles ride RUNNING chains in time
  * order (the r19 fixed-chain doctrine) so a relational replay
  * reproduces them bit-for-bit. The KM survival curve itself is the one transcendental
  * surface (a running `exp(Σ ln(ratio))` product — the t13-perplexity
  * precedent), rounded to 6 decimals on output.
  */
object Survival {

  /** Distinct-time frame `(t, d, c)` with event deaths `d` and censored
    * losses `c`, plus exclusive prefix `cum` of subjects leaving strictly
    * before `t`, and `n_risk` = subjects with time ≥ `t`. NULL time/event
    * rows drop. */
  private def timeCounts(df: DataFrame, timeCol: String, eventCol: Column): DataFrame = {
    val tc = df.where(col(timeCol).isNotNull && eventCol.isNotNull)
      .select(col(timeCol).cast("long").as("v"),
        when(eventCol, 1L).otherwise(0L).as("e"))
      .groupBy(col("v"))
      .agg(sum(col("e")).as("d"), (count(lit(1)) - sum(col("e"))).as("c"))
      .withColumn("leave", col("d") + col("c"))
    val pref = ShardLookup.exclusivePrefix(tc, Seq(col("v")), Seq("leave" -> "cum"))
    pref.df.withColumn("n_risk", lit(pref.totals("leave")) - col("cum"))
  }

  /** Kaplan–Meier product-limit estimator: one row per distinct time,
    * `(t, n_risk, d, c, survival)` ordered by `t`. `n_risk` is the exact
    * integer count still at risk at `t` (subjects with time ≥ t), `d`/`c`
    * the events / censorings AT `t`, and `survival = Π_{t_i ≤ t}
    * (1 − d_i/n_i)` via the running log-sum chain (a ratio of exact-long
    * doubles; `ln`/`exp` follow the t13 round-6 convention). Once some
    * time exhausts its risk set (`d = n_risk`) survival pins to exactly
    * 0.0 from that row on — no `ln(0)` is ever evaluated. */
  def kaplanMeierDF(df: DataFrame, timeCol: String, eventCol: Column): DataFrame = {
    val runW = Window.partitionBy().orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // value-level frame: distinct times only — the deliberate
    // dimension-sized global window (the w2/r19 whitelist family)
    val ratio = (col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")
    timeCounts(df, timeCol, eventCol)
      .withColumn("__lnr", when(col("d") < col("n_risk"), log(ratio)).otherwise(lit(0.0)))
      .withColumn("__dead", min(col("n_risk") - col("d")).over(runW))
      .withColumn("survival",
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(exp(sum(col("__lnr")).over(runW)), 6)))
      .select(col("v").as("t"), col("n_risk"), col("d"), col("c"), col("survival"))
      .orderBy(col("t"))
  }

  /** Kaplan–Meier with Greenwood 95% confidence bands: [[kaplanMeierDF]]
    * plus the variance chain `Var[S(t)] = S(t)²·Σ_{t_i≤t} d_i/(n_i(n_i−d_i))`
    * (Greenwood 1926) — one more running sum over the same distinct-time
    * frame, each term a single division of exact longs. The plain (linear)
    * band `S ± 1.96·SE` clamps to [0, 1]; rows after the risk set dies
    * (`d = n_risk` at some earlier time) pin survival/se/lo/hi to exact
    * 0.0 — the variance term at the death row itself would divide by zero
    * and is pinned to 0.0 too. Output `(t, n_risk, d, c, survival, se,
    * lo, hi)` ordered by `t`, round-6 (ln/exp per the t13 convention;
    * sqrt is IEEE-exact so the chain replays relationally). */
  def kaplanMeierGreenwoodDF(df: DataFrame, timeCol: String, eventCol: Column): DataFrame = {
    val runW = Window.partitionBy().orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // distinct-time frame — the deliberate dimension-sized global window
    val ratio = (col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")
    val alive = col("d") < col("n_risk")
    val sRaw = exp(sum(col("__lnr")).over(runW))
    val seRaw = col("__sraw") * sqrt(sum(col("__gterm")).over(runW))
    timeCounts(df, timeCol, eventCol)
      .withColumn("__lnr", when(alive, log(ratio)).otherwise(lit(0.0)))
      .withColumn("__gterm", when(alive,
          col("d").cast("double") /
            (col("n_risk").cast("double") *
              (col("n_risk") - col("d")).cast("double")))
        .otherwise(lit(0.0)))
      .withColumn("__dead", min(col("n_risk") - col("d")).over(runW))
      .withColumn("__sraw", sRaw)
      .withColumn("__se", seRaw)
      .select(col("v").as("t"), col("n_risk"), col("d"), col("c"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(col("__sraw"), 6)).as("survival"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(col("__se"), 6)).as("se"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(greatest(lit(0.0),
            col("__sraw") - lit(1.96) * col("__se")), 6)).as("lo"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(least(lit(1.0),
            col("__sraw") + lit(1.96) * col("__se")), 6)).as("hi"))
      .orderBy(col("t"))
  }

  /** Per-stratum Kaplan–Meier: one row per (group, distinct time), the
    * [[kaplanMeierDF]] columns keyed by `grp`. Unlike the pooled curve,
    * every window here is PARTITIONED by group — the number-at-risk
    * prefix, the dead-pin min, and the survival ln-chain all run inside
    * their stratum's partition, so the plan has NO global window and no
    * sharded prefix at all: one corpus-sized groupBy, one shuffle by
    * group, arbitrarily many strata in parallel (the preferred 100 TB
    * shape when a stratification key exists). */
  def kaplanMeierByGroupDF(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: Column): DataFrame = {
    val tc = df.where(col(timeCol).isNotNull && eventCol.isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(timeCol).cast("long").as("v"),
        when(eventCol, 1L).otherwise(0L).as("e"))
      .groupBy(col("grp"), col("v"))
      .agg(sum(col("e")).as("d"), (count(lit(1)) - sum(col("e"))).as("c"))
      .withColumn("leave", col("d") + col("c"))
    val excl = Window.partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(col("grp"))
    val runW = Window.partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nRisk = sum(col("leave")).over(tot) -
      coalesce(sum(col("leave")).over(excl), lit(0L))
    val ratio = (col("n_risk") - col("d")).cast("double") /
      col("n_risk").cast("double")
    tc
      .withColumn("n_risk", nRisk)
      .withColumn("__lnr",
        when(col("d") < col("n_risk"), log(ratio)).otherwise(lit(0.0)))
      .withColumn("__dead", min(col("n_risk") - col("d")).over(runW))
      .select(col("grp"), col("v").as("t"), col("n_risk"), col("d"), col("c"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(exp(sum(col("__lnr")).over(runW)), 6)).as("survival"))
      .orderBy(col("grp"), col("t"))
  }

  /** Restricted mean survival time: the area under the KM step curve up
    * to the horizon `tau` — `RMST(τ) = Σ S(t_{i−1})·(min(t_i,τ) −
    * min(t_{i−1},τ))` plus the tail `S(t_last)·(τ − t_last)` when the
    * curve outlives the horizon; emitted as the RUNNING column
    * `rmst_running` whose LAST row is the estimate (the r27 running-stat
    * convention). Each increment multiplies the PREVIOUS row's raw
    * survival (`lag` over the same distinct-time window) by an exact
    * integer day span — one more fixed chain on [[kaplanMeierDF]]'s
    * frame, replayed relationally. Output `(t, n_risk, d, c, survival,
    * rmst_running)` ordered by `t`, times clamped at `tau`. */
  def rmstDF(df: DataFrame, timeCol: String, eventCol: Column,
      tau: Long): DataFrame = {
    require(tau > 0L, "tau must be positive")
    val ord = Window.partitionBy().orderBy(col("v").asc)
    val runW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ratio = (col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")
    // distinct-time frame — the deliberate dimension-sized global window
    timeCounts(df, timeCol, eventCol)
      .withColumn("__lnr",
        when(col("d") < col("n_risk"), log(ratio)).otherwise(lit(0.0)))
      .withColumn("__dead", min(col("n_risk") - col("d")).over(runW))
      .withColumn("__sraw",
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(exp(sum(col("__lnr")).over(runW))))
      // survival BEFORE t_i: 1 before the first time, else the lag
      .withColumn("__sprev", coalesce(lag(col("__sraw"), 1).over(ord), lit(1.0)))
      .withColumn("__tprev", coalesce(lag(col("v"), 1).over(ord), lit(0L)))
      .withColumn("__inc", col("__sprev") *
        (least(col("v"), lit(tau)) - least(col("__tprev"), lit(tau))).cast("double")
        // the tail S(t_last)·(τ − t_last) rides the LAST row (lead = null)
        + when(lead(col("v"), 1).over(ord).isNull,
            col("__sraw") * greatest(lit(0L), lit(tau) - col("v")).cast("double"))
          .otherwise(lit(0.0)))
      .select(col("v").as("t"), col("n_risk"), col("d"), col("c"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(col("__sraw"), 6)).as("survival"),
        round(sum(col("__inc")).over(runW), 6).as("rmst_running"))
      .orderBy(col("t"))
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen, two causes):
    * with events of cause 1 / cause 2 and censoring, the naive
    * 1−KM-per-cause overstates risk; the CIF is `F_k(t) = Σ_{t_i≤t}
    * S(t_{i−1})·d_{k,i}/n_i` where `S` is the ALL-CAUSE survival. One
    * corpus-sized groupBy to the distinct-time (d1, d2, c) frame, the
    * sharded leave-prefix for `n_risk`, then the all-cause ln-chain, its
    * lag, and one running chain per cause — `cif1 + cif2 + survival = 1`
    * row-wise (the in-band sanity the spec pins). Output `(t, n_risk,
    * d1, d2, c, survival, cif1, cif2)` ordered by `t`, round-6. */
  def cumulativeIncidenceDF(df: DataFrame, timeCol: String,
      cause1: Column, cause2: Column): DataFrame = {
    val tc = df.where(col(timeCol).isNotNull &&
        cause1.isNotNull && cause2.isNotNull)
      .select(col(timeCol).cast("long").as("v"),
        when(cause1, 1L).otherwise(0L).as("e1"),
        when(cause2 && !cause1, 1L).otherwise(0L).as("e2"))
      .groupBy(col("v"))
      .agg(sum(col("e1")).as("d1"), sum(col("e2")).as("d2"),
        (count(lit(1)) - sum(col("e1")) - sum(col("e2"))).as("c"))
      .withColumn("leave", col("d1") + col("d2") + col("c"))
    val pref = ShardLookup.exclusivePrefix(tc, Seq(col("v")), Seq("leave" -> "cum"))
    val ord = Window.partitionBy().orderBy(col("v").asc)
    val runW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nRisk = lit(pref.totals("leave")) - col("cum")
    val d = col("d1") + col("d2")
    val ratio = (col("n_risk") - d).cast("double") / col("n_risk").cast("double")
    // distinct-time frame — the deliberate dimension-sized global window
    pref.df
      .withColumn("n_risk", nRisk)
      .withColumn("__lnr", when(d < col("n_risk"), log(ratio)).otherwise(lit(0.0)))
      .withColumn("__dead", min(col("n_risk") - d).over(runW))
      .withColumn("__sraw",
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(exp(sum(col("__lnr")).over(runW))))
      .withColumn("__sprev", coalesce(lag(col("__sraw"), 1).over(ord), lit(1.0)))
      .withColumn("__i1", col("__sprev") *
        (col("d1").cast("double") / col("n_risk").cast("double")))
      .withColumn("__i2", col("__sprev") *
        (col("d2").cast("double") / col("n_risk").cast("double")))
      .select(col("v").as("t"), col("n_risk"), col("d1"), col("d2"), col("c"),
        when(col("__dead") === 0L, lit(0.0))
          .otherwise(round(col("__sraw"), 6)).as("survival"),
        round(sum(col("__i1")).over(runW), 6).as("cif1"),
        round(sum(col("__i2")).over(runW), 6).as("cif2"))
      .orderBy(col("t"))
  }

  /** Two-group log-rank (Mantel–Cox) test: one row per EVENT time (d > 0),
    * ordered by `t`, carrying the exact integer risk sets and event counts
    * `(t, n1, n2, d1, d2)`, the per-time expectation `e1` and hypergeometric
    * variance `var1` (single-division fixed trees over exact longs), and the
    * RUNNING totals `o1_run`/`e1_run`/`v_run` whose LAST row yields the
    * statistic `chi2_running = (o1_run − e1_run)² / v_run` — every chain a
    * fixed left-to-right sum in time order, no transcendentals anywhere.
    *
    * Plan: corpus → (time, group) leave/death counts in one map-side
    * groupBy, TWO sharded exclusive prefixes (one per group) giving each
    * group's number-at-risk, then the dimension-sized event-time frame. */
  /** Shared two-group distinct-time frame `(v, d1, d2, n1, n2)`: per-time
    * event counts and exact integer risk sets for the G1 / not-G1 arms —
    * one corpus-sized map-side groupBy plus TWO sharded exclusive
    * prefixes; everything downstream ([[logRankDF]], [[coxBinaryFit]],
    * [[coxScoreDF]]) is dimension-sized. */
  private[graft] def twoGroupTimeFrame(df: DataFrame, timeCol: String,
      eventCol: Column, isG1: Column): DataFrame = {
    val tc = df.where(col(timeCol).isNotNull && eventCol.isNotNull && isG1.isNotNull)
      .select(col(timeCol).cast("long").as("v"),
        when(eventCol, 1L).otherwise(0L).as("e"),
        when(isG1, 1L).otherwise(0L).as("g"))
      .groupBy(col("v"))
      .agg(sum(col("e") * col("g")).as("d1"),
        sum(col("e") * (lit(1L) - col("g"))).as("d2"),
        sum(col("g")).as("leave1"),
        (count(lit(1)) - sum(col("g"))).as("leave2"))
    val pref = ShardLookup.exclusivePrefix(
      tc, Seq(col("v")), Seq("leave1" -> "cum1", "leave2" -> "cum2"))
    pref.df.select(col("v"), col("d1"), col("d2"),
      (lit(pref.totals("leave1")) - col("cum1")).as("n1"),
      (lit(pref.totals("leave2")) - col("cum2")).as("n2"))
  }

  def logRankDF(df: DataFrame, timeCol: String, eventCol: Column, isG1: Column): DataFrame = {
    val pref = twoGroupTimeFrame(df, timeCol, eventCol, isG1)
    val n1 = col("n1"); val n2 = col("n2")
    val d = col("d1") + col("d2")
    val n = n1 + n2
    val dD = d.cast("double"); val nD = n.cast("double")
    val e1 = dD * n1.cast("double") / nD
    val var1 = when(n > 1L,
      dD * n1.cast("double") / nD * (n2.cast("double") / nD) *
        ((nD - dD) / (nD - lit(1.0)))).otherwise(lit(0.0))
    val runW = Window.partitionBy().orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // event-time frame: distinct death times only (dimension-sized)
    pref
      .where(d > 0L)
      .withColumn("e1", e1).withColumn("var1", var1)
      .withColumn("o1_run", sum(col("d1")).over(runW))
      .withColumn("e1_run", sum(col("e1")).over(runW))
      .withColumn("v_run", sum(col("var1")).over(runW))
      .select(col("v").as("t"), col("n1"), col("n2"), col("d1"), col("d2"),
        round(col("e1"), 6).as("e1"), round(col("var1"), 6).as("var1"),
        col("o1_run"), round(col("e1_run"), 6).as("e1_run"),
        round(col("v_run"), 6).as("v_run"),
        when(col("v_run") > 0.0,
          round((col("o1_run").cast("double") - col("e1_run")) *
            (col("o1_run").cast("double") - col("e1_run")) / col("v_run"), 6))
          .otherwise(lit(0.0)).as("chi2_running"))
      .orderBy(col("t"))
  }

  /** A fitted single-binary-covariate Cox model: log hazard ratio `beta`
    * with its model-based SE (1/√I at the optimum). */
  case class CoxFit(beta: Double, se: Double, iters: Int, converged: Boolean)

  /** Cox proportional-hazards fit for ONE binary covariate with Breslow
    * tie handling — the regression completion of the §2.8 survival triad
    * (KM estimates, log-rank tests, Cox quantifies).
    *
    * With a binary covariate the partial likelihood depends on the data
    * ONLY through the event-time frame `(d1, d, n1, n2)` — the same
    * bounded frame [[logRankDF]] builds — so the corpus reduces in one
    * groupBy + sharded prefixes, and Newton–Raphson runs driver-side on
    * the canonically time-sorted frame (the r37 IRLS doctrine: a bounded
    * protocol, `require`-capped, bit-deterministic on any partitioning:
    * `ll = Σ β·d1 − d·ln(n1·e^β + n2)`). A fixed 1e-9 ridge on the
    * information keeps separated data finite. */
  def coxBinaryFit(eventFrame: DataFrame, maxEventTimes: Int = 65536,
      maxIter: Int = 50, tol: Double = 1e-12): CoxFit = {
    val raw = eventFrame.where(col("d1") + col("d2") > 0L)
      .select(col("v"), col("d1"), col("d2"), col("n1"), col("n2"))
      .limit(maxEventTimes + 1).collect()
    require(raw.length <= maxEventTimes,
      s"event-time frame exceeds maxEventTimes=$maxEventTimes — coarsen the time unit")
    require(raw.nonEmpty, "no event times to fit on")
    val rows = raw.map(r => (r.getLong(0), r.getLong(1).toDouble,
      (r.getLong(1) + r.getLong(2)).toDouble,
      r.getLong(3).toDouble, r.getLong(4).toDouble)).sortBy(_._1)
    var beta = 0.0; var info = 1e-9; var iters = 0; var converged = false
    while (iters < maxIter && !converged) {
      val eb = math.exp(beta)
      var u = 0.0; var i2 = 1e-9
      rows.foreach { case (_, d1, d, n1, n2) =>
        val r1 = n1 * eb; val denom = r1 + n2
        u += d1 - d * (r1 / denom)
        i2 += d * (r1 / denom) * (n2 / denom)
      }
      val step = u / i2
      beta += step; info = i2; iters += 1
      if (math.abs(step) < tol) converged = true
    }
    CoxFit(beta, 1.0 / math.sqrt(info), iters, converged)
  }

  /** [[coxBinaryFit]] with the event-frame collect REMOVED: each
    * Newton–Raphson iteration folds the score `U(β)` and information
    * `I(β)` as ONE distributed aggregate over the event-time frame —
    * only β crosses the driver boundary, so the frame can be billions of
    * distinct event times (no `maxEventTimes` cap). The per-row terms are
    * the same bit-exact double trees as the driver loop; the SUMS ride
    * DECIMAL(38,18) so addition is exact and associative — the fold is
    * bit-identical on ANY partitioning (a double sum would drift with
    * partition order), at the cost of a deterministic 1e-18 truncation
    * per term, far below the 1e-12 Newton tolerance (CoxFitSpec pins
    * both properties: partitioning-independence and ≡ the driver fit). */
  def coxBinaryFitDistributed(eventFrame: DataFrame, maxIter: Int = 50,
      tol: Double = 1e-12): CoxFit = {
    val ev = eventFrame.where(col("d1") + col("d2") > 0L)
      .select(col("d1").cast("double").as("d1d"),
        (col("d1") + col("d2")).cast("double").as("dd"),
        col("n1").cast("double").as("n1d"),
        col("n2").cast("double").as("n2d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(!ev.isEmpty, "no event times to fit on")
      var beta = 0.0; var info = 1e-9; var iters = 0; var converged = false
      while (iters < maxIter && !converged) {
        val r1 = col("n1d") * lit(math.exp(beta))
        val denom = r1 + col("n2d")
        val agg = ev.agg(
          sum((col("d1d") - col("dd") * (r1 / denom))
            .cast("decimal(38,18)")).as("u"),
          sum((col("dd") * (r1 / denom) * (col("n2d") / denom))
            .cast("decimal(38,18)")).as("i")).head()
        val u = agg.getDecimal(0).doubleValue()
        val i2 = agg.getDecimal(1).doubleValue() + 1e-9
        val step = u / i2
        beta += step; info = i2; iters += 1
        if (math.abs(step) < tol) converged = true
      }
      CoxFit(beta, 1.0 / math.sqrt(info), iters, converged)
    } finally ev.unpersist(blocking = false)
  }

  /** [[coxBinaryFitDistributed]] with the PER-ITERATION distributed
    * aggregate replaced by ONE bounded collect of the event-time frame —
    * the Newton loop then runs driver-side, replicating the distributed
    * fold's arithmetic BIT-FOR-BIT: each per-row score/information term is
    * the same IEEE double expression tree in the same evaluation order,
    * quantized to DECIMAL(38,18) by the same rule Spark's
    * `cast(double as decimal(38,18))` applies (`Double.toString` → exact
    * BigDecimal → setScale(18, HALF_UP); non-finite terms → NULL → skipped),
    * and summed in exact decimal arithmetic (associative, so row order is
    * irrelevant). CoxFitSpec pins exact equality of (beta, se, iters,
    * converged) against [[coxBinaryFitDistributed]].
    *
    * Why: the distributed loop costs one Spark job per Newton iteration
    * (~8 sequential jobs over a dimension-sized frame — pure scheduling
    * overhead); this costs ONE job. The collect is bounded by
    * `maxEventTimes` exactly like [[coxBinaryFit]] — distinct EVENT TIMES
    * (days), a dimension, not a corpus; past the cap the caller must fall
    * back to [[coxBinaryFitDistributed]]. */
  def coxBinaryFitCollected(eventFrame: DataFrame, maxEventTimes: Int = 65536,
      maxIter: Int = 50, tol: Double = 1e-12): CoxFit = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val raw = eventFrame.where(col("d1") + col("d2") > 0L)
      .select(col("d1").cast("double").as("d1d"),
        (col("d1") + col("d2")).cast("double").as("dd"),
        col("n1").cast("double").as("n1d"),
        col("n2").cast("double").as("n2d"))
      .limit(maxEventTimes + 1).collect()
    require(raw.length <= maxEventTimes,
      s"event-time frame exceeds maxEventTimes=$maxEventTimes — use " +
        "coxBinaryFitDistributed or coarsen the time unit")
    require(raw.nonEmpty, "no event times to fit on")
    val rows = raw.map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // Spark's Cast(double → decimal(38,18)): exact decimal of the double's
    // shortest string form, rescaled HALF_UP; NaN/Inf casts to NULL and a
    // decimal SUM skips NULLs — mirrored here term by term.
    def dec(x: Double): JBD =
      JBD.valueOf(x).setScale(18, RoundingMode.HALF_UP)
    var beta = 0.0; var info = 1e-9; var iters = 0; var converged = false
    while (iters < maxIter && !converged) {
      val eb = math.exp(beta)
      var u = JBD.ZERO; var i = JBD.ZERO
      rows.foreach { case (d1d, dd, n1d, n2d) =>
        val r1 = n1d * eb
        val denom = r1 + n2d
        val ut = d1d - dd * (r1 / denom)
        val it = dd * (r1 / denom) * (n2d / denom)
        if (java.lang.Double.isFinite(ut)) u = u.add(dec(ut))
        if (java.lang.Double.isFinite(it)) i = i.add(dec(it))
      }
      val i2 = i.doubleValue() + 1e-9
      val step = u.doubleValue() / i2
      beta += step; info = i2; iters += 1
      if (math.abs(step) < tol) converged = true
    }
    CoxFit(beta, 1.0 / math.sqrt(info), iters, converged)
  }

  /** Per-event-time Cox diagnostics AT a given β (the fitted β rides in
    * as a literal — the m4/r48 exported-artifact oracle contract): score
    * and information contributions plus their RUNNING chains in time
    * order, the running partial log-likelihood, and the constant
    * `beta`/`hr`/`z_running` columns. `e^β` is evaluated ONCE in the JVM
    * and interpolated (`expBeta`) so no engine libm enters the replay
    * except the per-time `ln(denom)` (the r26 round-6 convention). */
  def coxScoreDF(eventFrame: DataFrame, beta: Double): DataFrame = {
    val eb = lit(math.exp(beta))
    val d = col("d1") + col("d2")
    val r1 = col("n1").cast("double") * eb
    val denom = r1 + col("n2").cast("double")
    val runW = Window.partitionBy().orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventFrame
      .where(d > 0L)
      .withColumn("__u", col("d1").cast("double") - d.cast("double") * (r1 / denom))
      .withColumn("__i", d.cast("double") * (r1 / denom) *
        (col("n2").cast("double") / denom))
      .withColumn("__ll", lit(beta) * col("d1").cast("double") -
        d.cast("double") * log(denom))
      .select(col("v").as("t"), col("n1"), col("n2"), col("d1"), col("d2"),
        round(sum(col("__u")).over(runW), 6).as("u_run"),
        round(sum(col("__i")).over(runW), 6).as("i_run"),
        // per-row term exact at 6; the running loglik only at 3 — its
        // ~1e5 magnitude is where engine windowed-sum association shows
        round(col("__ll"), 6).as("ll_t"),
        round(sum(col("__ll")).over(runW), 3).as("ll_run"),
        lit(beta).as("beta"),
        lit(math.exp(beta)).as("hr"),
        round(lit(beta) * sqrt(sum(col("__i")).over(runW)), 6).as("z_running"))
      .orderBy(col("t"))
  }

  /** Nelson–Aalen cumulative-hazard estimator `H(t) = Σ_{t_i ≤ t} d_i/n_i`
    * with its variance `Σ d_i/n_i²` — the hazard-scale twin of
    * [[kaplanMeierDF]] that needs NO transcendentals at all: every term is
    * a single division of exact longs and the accumulations are running
    * chains in time order (the r27 doctrine), so the replay is bit-exact
    * before the round-6. One row per distinct time, ordered:
    * `(t, n_risk, d, c, h_cum, var_cum)`. Same plan shape as KM: one
    * corpus-sized groupBy, the sharded leave-prefix, a dimension-sized
    * running window over distinct times. */
  def nelsonAalenDF(df: DataFrame, timeCol: String, eventCol: Column): DataFrame = {
    val runW = Window.partitionBy().orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    timeCounts(df, timeCol, eventCol)
      .withColumn("__h", col("d").cast("double") / col("n_risk").cast("double"))
      .withColumn("__v", col("d").cast("double") /
        (col("n_risk").cast("double") * col("n_risk").cast("double")))
      .select(col("v").as("t"), col("n_risk"), col("d"), col("c"),
        round(sum(col("__h")).over(runW), 6).as("h_cum"),
        round(sum(col("__v")).over(runW), 8).as("var_cum"))
      .orderBy(col("t"))
  }
}
