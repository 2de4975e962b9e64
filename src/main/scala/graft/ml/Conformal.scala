package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split-conformal prediction intervals (NOT-IN-REFERENCE §2.6 extension —
  * distribution-free uncertainty for the reference's point-prediction
  * models; Vovk et al. 2005, Lei et al. 2018): fit on a TRAIN split,
  * take the ⌈(n+1)(1−α)⌉-th smallest absolute calibration residual as
  * the interval half-width, and the guarantee
  * `P(y ∈ µ̂(x) ± q) ≥ 1−α` holds for ANY model and ANY data
  * distribution, exactly — no normality, no asymptotics.
  *
  * Everything is relational — there is NO driver-side fit at all:
  * the md5-prefix three-way split is the s3 content-hash rule (train
  * '0'-'9' = 10/16, calibration 'a'-'c' = 3/16, test 'd'-'f' = 3/16);
  * the OLS coefficients are the r49 exact-decimal power-sum tree
  * (round-6, replayed relationally); residuals floor to CENTS so the
  * conformal quantile is an EXACT integer order statistic over the
  * value-level cell frame (the q10/q18 machinery — sharded prefix, no
  * global sort); the rank ⌈(n+1)(1−α)⌉ is pure integer arithmetic
  * (`(n+1)·num + den − 1) DIV den`); and coverage on the held-out test
  * split is an integer count over one scan. The three α levels ride as
  * conditional aggregates of ONE pass each — per-α frames never
  * materialize.
  *
  * Scale shape: two corpus-sized aggregates (train power sums, test
  * coverage counts), one value-level groupBy + sharded prefix for the
  * calibration residual cells, and three 1-row broadcast cross joins
  * (fit → residuals, ranks → quantile pick, quantiles → coverage).
  *
  * Output: ONE row `(n_train, n_cal, n_test, slope, intercept,
  * k05, q05_cents, covered05, coverage05, k10, …, k20, …)` — coverage
  * at α = 0.05/0.1/0.2 must land ≥ 1−α in expectation (the spec pins
  * it on synthetic data; the in-band columns let the driver's oracle
  * certify the guarantee arithmetic itself). */
object Conformal {

  /** Mondrian (group-conditional) split conformal at α = 0.1: ONE global
    * model, but the calibration quantile is taken PER GROUP, so the
    * coverage guarantee holds within every group — the fairness-flavored
    * upgrade over [[splitConformalDF]]'s marginal guarantee (a marginal
    * interval can over-cover easy groups and under-cover hard ones).
    *
    * Scale shape: identical to the marginal version except the
    * calibration cell frame is (group, residual-cent) and BOTH the rank
    * window and the quantile pick partition by group — no global window,
    * no sharded prefix, groups process in parallel; the per-group
    * quantile table (groups-sized) broadcasts onto the test scan.
    * Output one row per group, ordered:
    * `(grp, n_cal, k10, q10_cents, n_test, covered10, coverage10)`. */
  def mondrianConformalDF(df: DataFrame, keyCol: Column, groupCol: Column,
      xCol: Column, yCol: Column): DataFrame = {
    val x = xCol.cast("decimal(12,2)"); val y = yCol.cast("decimal(12,2)")
    // (measured: the splitConformalDF spread+pin is a net LOSS here —
    // only three light consumers, so the eager materialization costs more
    // than the rescans it saves; see OPTIMIZATION_r12.md)
    val base = df.where(xCol.isNotNull && yCol.isNotNull && groupCol.isNotNull)
      .select(substring(md5(keyCol.cast("string")), 1, 1).as("h"),
        groupCol.cast("string").as("grp"), x.as("xd"), y.as("yd"))
    val train = base.where(col("h") <= "9")
    val agg = train.agg(count(lit(1)).as("n_train"),
      sum(col("xd")).as("sx0"), sum(col("yd")).as("sy0"),
      sum(col("xd") * col("xd")).as("sxx0"),
      sum(col("xd") * col("yd")).as("sxy0"))
    val nd = col("n_train").cast("double")
    val fit = agg.select(
        (nd * col("sxy0").cast("double") -
          col("sx0").cast("double") * col("sy0").cast("double")).as("cxy"),
        (nd * col("sxx0").cast("double") -
          col("sx0").cast("double") * col("sx0").cast("double")).as("cxx"),
        col("sx0").cast("double").as("sx"), col("sy0").cast("double").as("sy"),
        nd.as("nd"))
      .select(round(col("cxy") / col("cxx"), 6).as("slope"),
        round(col("sy") / col("nd") -
          (col("cxy") / col("cxx")) * (col("sx") / col("nd")), 6).as("intercept"))
    def residCents(d: DataFrame): DataFrame = d.crossJoin(broadcast(fit))
      .withColumn("v", floor(abs(col("yd").cast("double") -
        (col("slope") * col("xd").cast("double") + col("intercept"))) *
        lit(100.0)).cast("long"))
    // per-group cells; rank window PARTITIONED by group (no global window)
    val cells = residCents(base.where(col("h") >= "a" && col("h") <= "c"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val ranked = cells
      .withColumn("cum", sum(col("c")).over(gw))
      .withColumn("n_cal", sum(col("c")).over(tot))
      .withColumn("k10", expr("((n_cal + 1) * 9 + 9) DIV 10"))
    val q = ranked.groupBy(col("grp"))
      .agg(first(col("n_cal")).as("n_cal"), first(col("k10")).as("k10"),
        min(when(col("cum") >= col("k10"), col("v"))).as("q10_cents"))
    residCents(base.where(col("h") >= "d"))
      .join(broadcast(q), "grp")
      .groupBy(col("grp"))
      .agg(first(col("n_cal")).as("n_cal"), first(col("k10")).as("k10"),
        first(col("q10_cents")).as("q10_cents"),
        count(lit(1)).as("n_test"),
        sum(when(col("v") <= col("q10_cents"), 1L).otherwise(0L)).as("covered10"))
      .select(col("grp"), col("n_cal"), col("k10"), col("q10_cents"),
        col("n_test"), col("covered10"),
        round(col("covered10").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage10"))
      .orderBy(col("grp"))
  }

  def splitConformalDF(df: DataFrame, keyCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    val x = xCol.cast("decimal(12,2)"); val y = yCol.cast("decimal(12,2)")
    // spread the narrow projection BEFORE the per-row md5 (single local
    // split otherwise hashes on one core; no-op on pre-split inputs), and
    // pin the hashed base: train/cal/test and the ks total all read it, so
    // the corpus is scanned and hashed ONCE instead of per consumer
    val base = graft.Tables.spread(
        df.where(xCol.isNotNull && yCol.isNotNull)
          .select(keyCol.cast("string").as("k"), x.as("xd"), y.as("yd")))
      .select(substring(md5(col("k")), 1, 1).as("h"), col("xd"), col("yd"))
      .localCheckpoint()
    val train = base.where(col("h") <= "9")
    val cal = base.where(col("h") >= "a" && col("h") <= "c")
    val test = base.where(col("h") >= "d")

    // r49's exact-decimal power-sum OLS tree, round-6 coefficients
    val agg = train.agg(count(lit(1)).as("n_train"),
      sum(col("xd")).as("sx0"), sum(col("yd")).as("sy0"),
      sum(col("xd") * col("xd")).as("sxx0"),
      sum(col("xd") * col("yd")).as("sxy0"))
    val nd = col("n_train").cast("double")
    val fit = agg.select(col("n_train"), nd.as("nd"),
        col("sx0").cast("double").as("sx"), col("sy0").cast("double").as("sy"),
        (nd * col("sxy0").cast("double") -
          col("sx0").cast("double") * col("sy0").cast("double")).as("cxy"),
        (nd * col("sxx0").cast("double") -
          col("sx0").cast("double") * col("sx0").cast("double")).as("cxx"))
      .withColumn("slope", round(col("cxy") / col("cxx"), 6))
      .withColumn("intercept", round(col("sy") / col("nd") -
        (col("cxy") / col("cxx")) * (col("sx") / col("nd")), 6))
      .select(col("n_train"), col("slope"), col("intercept"))

    // |residual| in floor-cents: every op a correctly-rounded double op
    // over float-exact inputs, then ONE floor — identical cross-engine
    def residCents(d: DataFrame): DataFrame = d.crossJoin(broadcast(fit))
      .withColumn("v", floor(abs(col("yd").cast("double") -
        (col("slope") * col("xd").cast("double") + col("intercept"))) *
        lit(100.0)).cast("long"))

    // calibration residual cells + inclusive rank via the sharded prefix
    val cells = residCents(cal).groupBy(col("v")).agg(count(lit(1)).as("c"))
    val pref = graft.ops.ShardLookup.exclusivePrefix(cells, Seq(col("v")), Seq("c" -> "cum0"))
    val ranked = pref.df.withColumn("cum", col("cum0") + col("c"))
    // ⌈(n_cal+1)(1−α)⌉ as pure integer arithmetic, α = 1/20, 1/10, 1/5,
    // off the prefix's total — the cal groupBy never re-runs
    val nCal = pref.totals("c")
    val Seq(k05, k10, k20) = Seq(20L, 10L, 5L).map(d => ((nCal + 1) * (d - 1) + d - 1) / d)
    val q = ranked
      .agg(first(lit(nCal)).as("n_cal"),
        first(lit(k05)).as("k05"), first(lit(k10)).as("k10"),
        first(lit(k20)).as("k20"),
        min(when(col("cum") >= k05, col("v"))).as("q05_cents"),
        min(when(col("cum") >= k10, col("v"))).as("q10_cents"),
        min(when(col("cum") >= k20, col("v"))).as("q20_cents"))

    // held-out coverage: one scan, three conditional counts
    residCents(test).crossJoin(broadcast(q))
      .agg(first(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
        first(col("slope")).as("slope"), first(col("intercept")).as("intercept"),
        first(col("k05")).as("k05"), first(col("q05_cents")).as("q05_cents"),
        sum(when(col("v") <= col("q05_cents"), 1L).otherwise(0L)).as("covered05"),
        first(col("k10")).as("k10"), first(col("q10_cents")).as("q10_cents"),
        sum(when(col("v") <= col("q10_cents"), 1L).otherwise(0L)).as("covered10"),
        first(col("k20")).as("k20"), first(col("q20_cents")).as("q20_cents"),
        sum(when(col("v") <= col("q20_cents"), 1L).otherwise(0L)).as("covered20"))
      .crossJoin(broadcast(fit.select(col("n_train"))))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        col("slope"), col("intercept"),
        col("k05"), col("q05_cents"), col("covered05"),
        round(col("covered05").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage05"),
        col("k10"), col("q10_cents"), col("covered10"),
        round(col("covered10").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage10"),
        col("k20"), col("q20_cents"), col("covered20"),
        round(col("covered20").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage20"))
  }
}
