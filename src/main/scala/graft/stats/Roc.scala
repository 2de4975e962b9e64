package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cost-optimal ROC threshold (SURVEY §2.8 R6): the reference calls
  * `ThresholdROC::thres2(k1, k2, rho)` with default settings
  * (`Hypothesis testing R.r:566-574`) to pick SUV/TBR cutoffs.
  *
  * `thres2`'s default method is the two-state equal-variance binormal
  * estimator (Skaltsa et al. 2010, Biom. J.): with sample means m1 (k1,
  * non-diseased), m2 (k2, diseased), pooled SD s, prevalence ρ and default
  * costs, the threshold solves
  *     c* = (m1 + m2)/2 + s² · ln(R) / (m2 − m1),   R = (1 − ρ)/ρ.
  * Also provided: a nonparametric sweep maximizing cost-weighted Youden for
  * when normality clearly fails.
  */
object Roc {

  /** Equal-variance binormal threshold. Estimator semantics: k1 =
    * non-diseased sample, k2 = diseased sample, rho = disease prevalence.
    * NOTE the reference calls `thres2(trueOnes, falseOnes, 0.01)` — i.e.
    * STUDY (diseased) cohort in the k1 position
    * (`Hypothesis testing R.r:572-573`); `MedicalPipeline.statsStage`
    * mirrors that call order for behavioral parity, which flips the sign of
    * the s²·ln(R)/(m2−m1) correction relative to the estimator's intended
    * usage. Independent callers (e.g. the r4 query) should pass
    * non-diseased first. */
  def thres2Equal(k1: Array[Double], k2: Array[Double], rho: Double): Double = {
    require(k1.length > 1 && k2.length > 1, "need ≥2 observations per group")
    val m1 = mean(k1); val m2 = mean(k2)
    val s2 = (sumSq(k1, m1) + sumSq(k2, m2)) / (k1.length + k2.length - 2)
    val r = (1 - rho) / rho
    (m1 + m2) / 2 + s2 * math.log(r) / (m2 - m1)
  }

  /** Nonparametric alternative: sweep candidate cutoffs (midpoints of sorted
    * pooled values), minimize ρ·(1−sens) + (1−ρ)·(1−spec). Sorted arrays +
    * binary search per candidate — O(n log n) total; the naive per-candidate
    * recount is O(n²) and dominates wall time from a few thousand values. */
  def empiricalThreshold(nonDiseased: Array[Double], diseased: Array[Double],
      rho: Double): Double = {
    val nd = nonDiseased.sorted
    val dz = diseased.sorted
    val cuts = (nd ++ dz).distinct.sorted
    if (cuts.length < 2) return cuts.head // all values identical: degenerate cut
    def countGE(a: Array[Double], c: Double): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < c) lo = mid + 1 else hi = mid }
      a.length - lo
    }
    cuts.sliding(2).map { p => (p(0) + p(1)) / 2 }.minBy { c =>
      val sens = countGE(dz, c).toDouble / dz.length
      val spec = (nd.length - countGE(nd, c)).toDouble / nd.length
      rho * (1 - sens) + (1 - rho) * (1 - spec)
    }
  }

  /** Fully distributed empirical ROC summary — no driver collect, unlike the
    * array protocols above (which mirror the reference's R call shape).
    *
    * One row: trapezoidal AUC (= Mann-Whitney with tie correction),
    * Youden-optimal threshold (max TPR − FPR; ties → largest threshold),
    * and the class counts. Plan: groupBy distinct score (shuffle bounded by
    * |distinct scores|), one global-ordered window pass over the curve
    * points, one aggregate. The AUC numerator is accumulated in exact LONG
    * arithmetic — 2·Σ(ΔFP·(TP+TPprev)) — with a single double division at
    * the end, so the result is order-independent and engine-reproducible.
    *
    * Scale note: the curve frame has one row per distinct score; for
    * continuous scores on very large data, quantize the score column first
    * (e.g. `round(score, 3)`) to bound the single-partition window sort.
    */
  def empiricalRoc(df: DataFrame, label: Column, score: Column): DataFrame = {
    val byScore = df.where(score.isNotNull)
      .groupBy(score.as("threshold"))
      .agg(count(when(label, 1)).as("np"), count(when(!label, 1)).as("nn"))
    val cum = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.orderBy(col("threshold").desc)
    val curve = byScore
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("fp", sum(col("nn")).over(cum))
      .withColumn("tp_prev", coalesce(lag(col("tp"), 1).over(prev), lit(0L)))
      .withColumn("fp_prev", coalesce(lag(col("fp"), 1).over(prev), lit(0L)))
    curve
      .withColumn("p", max(col("tp")).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n", max(col("fp")).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("j", col("tp") / col("p") - col("fp") / col("n"))
      .agg(
        round(sum((col("fp") - col("fp_prev")) * (col("tp") + col("tp_prev")))
          .cast("double") / (lit(2.0) * max(col("p")) * max(col("n"))), 6).as("auc"),
        round(max(struct(col("j"), col("threshold"))).getField("j"), 6).as("youden_j"),
        max(struct(col("j"), col("threshold"))).getField("threshold").as("threshold"),
        max(col("p")).as("n_pos"), max(col("n")).as("n_neg"))
  }

  /** Distributed twin of [[empiricalThreshold]]: the ρ-cost-minimizing
    * empirical cutoff with NO driver collect. Candidate cuts are midpoints
    * of consecutive distinct scores (identical to the array protocol); the
    * cost ρ·(1−sens) + (1−ρ)·(1−spec) is ranked in exact LONG arithmetic —
    * ρ = rhoNum/rhoDen, scaled cost = rhoNum·(P−tp)·N + (rhoDen−rhoNum)·fp·P
    * — so the argmin (ties → smallest cut, matching the ascending `minBy`)
    * is order-independent and engine-reproducible; doubles appear only in
    * the reported midpoint and the final cost division.
    *
    * Output: (threshold, cost, n_pos, n_neg). Plan: one groupBy on distinct
    * score, two window passes over the curve rows (one row per distinct
    * score — quantize the score first if continuous at very large scale,
    * same note as [[empiricalRoc]]), one aggregate. */
  def empiricalCostThresholdDF(df: DataFrame, label: Column, score: Column,
      rhoNum: Int, rhoDen: Int): DataFrame = {
    val byScore = df.where(score.isNotNull)
      .groupBy(score.cast("double").as("v"))
      .agg(count(when(label, 1)).as("np"), count(when(!label, 1)).as("nn"))
    val cum = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val asc = Window.orderBy(col("v").asc)
    val everything = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // tp_ge/fp_ge at a cut strictly between v and the next higher distinct
    // value equal the cumulative counts AT that next value
    val cand = byScore
      .withColumn("tp_ge", sum(col("np")).over(cum))
      .withColumn("fp_ge", sum(col("nn")).over(cum))
      .withColumn("p", max(col("tp_ge")).over(everything))
      .withColumn("n", max(col("fp_ge")).over(everything))
      .withColumn("m", (col("v") + lead(col("v"), 1).over(asc)) / 2)
      .withColumn("tpc", lead(col("tp_ge"), 1).over(asc))
      .withColumn("fpc", lead(col("fp_ge"), 1).over(asc))
      .where(col("m").isNotNull)
      .withColumn("icost",
        lit(rhoNum.toLong) * (col("p") - col("tpc")) * col("n") +
          lit((rhoDen - rhoNum).toLong) * col("fpc") * col("p"))
    cand.agg(
      min(struct(col("icost"), col("m"))).getField("m").as("threshold"),
      round(min(struct(col("icost"), col("m"))).getField("icost").cast("double") /
        (lit(rhoDen.toDouble) * max(col("p")) * max(col("n"))), 6).as("cost"),
      max(col("p")).as("n_pos"), max(col("n")).as("n_neg"))
  }

  /** [[empiricalRoc]] with the curve sweep moved DRIVER-side: the
    * distributed work is exactly the one groupBy over distinct scores
    * (shuffle bounded by score cardinality); the curve rows — bounded,
    * quantize first if continuous at scale — then cross once to the driver
    * where the cumulative sweep runs as plain sequential Scala. No
    * partition-less WindowExec anywhere in the plan; at 100 TB a global
    * single-partition sort of even bounded rows is a straggler stage,
    * while a bounded collect is a metadata move (the same trade the
    * classifier trapezoid makes, CohortClassifier.metricsOf).
    *
    * Arithmetic is bit-identical to [[empiricalRoc]] (which stays as the
    * windowed twin, spec-pinned equal): the AUC numerator accumulates in
    * exact LONG math, the Youden argmax orders (j, threshold) exactly like
    * the max-struct, and rounding is Spark's own HALF_UP-on-toString. */
  def empiricalRocDriver(df: DataFrame, label: Column, score: Column,
      maxCurvePoints: Int = 1 << 21): DataFrame = {
    val pts = curvePoints(df, label, score, maxCurvePoints, "empiricalRocDriver")
    var tp = 0L; var fp = 0L; var num = 0L
    var bestJ = Double.NegativeInfinity; var bestT = Double.NaN; var seen = false
    val p = pts.map(_._2).sum; val n = pts.map(_._3).sum
    require(p > 0 && n > 0,
      s"empiricalRocDriver: both classes must be present " +
        s"(n_pos=$p, n_neg=$n) — TPR/FPR are undefined otherwise")
    pts.foreach { case (t, np, nn) =>
      val tpPrev = tp; val fpPrev = fp
      tp += np; fp += nn
      num += (fp - fpPrev) * (tp + tpPrev)
      // j in the same double ops as the windowed form: long/long division
      // after implicit cast; ties → larger threshold, which the desc sweep
      // order gives for free (first winner kept on strict improvement)
      val j = tp.toDouble / p - fp.toDouble / n
      if (!seen || j > bestJ || (j == bestJ && t > bestT)) {
        bestJ = j; bestT = t; seen = true
      }
    }
    val auc = roundHalfUp(num.toDouble / (2.0 * p * n), 6)
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("auc", DoubleType), StructField("youden_j", DoubleType),
      StructField("threshold", DoubleType),
      StructField("n_pos", LongType, nullable = false),
      StructField("n_neg", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        auc, roundHalfUp(bestJ, 6), bestT, p, n)), schema)
  }

  /** [[empiricalCostThresholdDF]] with the candidate sweep moved
    * DRIVER-side — same plan trade and same bit-compat contract as
    * [[empiricalRocDriver]]: one distinct-score groupBy is the only
    * distributed stage, the exact LONG cost ranks candidates, ties go to
    * the smaller midpoint (the min-struct order). */
  def empiricalCostThresholdDriver(df: DataFrame, label: Column, score: Column,
      rhoNum: Int, rhoDen: Int, maxCurvePoints: Int = 1 << 21): DataFrame = {
    val pts = curvePoints(df, label, score, maxCurvePoints,
      "empiricalCostThresholdDriver")
    val p = pts.map(_._2).sum; val n = pts.map(_._3).sum
    require(p > 0 && n > 0,
      s"empiricalCostThresholdDriver: both classes must be present " +
        s"(n_pos=$p, n_neg=$n) — sens/spec are undefined otherwise")
    // cumulative ≥-counts at each distinct value (desc sweep), then the
    // candidate at a cut between v and the NEXT HIGHER value carries that
    // higher value's cumulative counts — identical to the lead() form
    var tp = 0L; var fp = 0L
    val cum = pts.map { case (v, np, nn) => tp += np; fp += nn; (v, tp, fp) }
    var bestCost = Long.MaxValue; var bestM = Double.NaN; var seen = false
    var i = cum.length - 1
    while (i > 0) { // ascending v: cut between cum(i) and cum(i-1)
      val m = (cum(i)._1 + cum(i - 1)._1) / 2
      val icost = rhoNum.toLong * (p - cum(i - 1)._2) * n +
        (rhoDen - rhoNum).toLong * cum(i - 1)._3 * p
      if (!seen || icost < bestCost || (icost == bestCost && m < bestM)) {
        bestCost = icost; bestM = m; seen = true
      }
      i -= 1
    }
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("threshold", DoubleType), StructField("cost", DoubleType),
      StructField("n_pos", LongType), StructField("n_neg", LongType)))
    // degenerate sweep (one distinct score ⇒ no candidate cuts): the
    // windowed twin aggregates an EMPTY candidate frame into one all-NULL
    // row — return exactly that instead of the old NaN/Long.MaxValue junk
    val row =
      if (!seen) org.apache.spark.sql.Row(null, null, null, null)
      else org.apache.spark.sql.Row(
        bestM, roundHalfUp(bestCost.toDouble / (rhoDen.toDouble * p * n), 6),
        p, n)
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
  }

  /** Distinct-score curve points (threshold desc, positives, negatives) —
    * the shared distributed stage of the driver-side sweeps. The collect is
    * bounded by DISTINCT scores and guarded: breaching the cap is an
    * instruction to quantize the score, not a silent driver OOM. */
  private def curvePoints(df: DataFrame, label: Column, score: Column,
      maxPoints: Int, who: String): Array[(Double, Long, Long)] = {
    val rows = df.where(score.isNotNull)
      .groupBy(score.cast("double").as("v"))
      .agg(count(when(label, 1)).as("np"), count(when(!label, 1)).as("nn"))
      .limit(maxPoints + 1)
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    require(rows.length <= maxPoints,
      s"$who: > $maxPoints distinct scores — quantize the score column " +
        "(e.g. round(score, 3)) before the sweep")
    rows
  }

  /** Spark's `round(col, s)` semantics for doubles: HALF_UP on the
    * shortest-decimal (toString) representation. Used so driver-side math
    * reproduces the windowed twins bit-for-bit. */
  private[stats] def roundHalfUp(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Distributed twin of [[thres2Equal]]: the equal-variance binormal
    * threshold from ONE aggregation — group sums accumulate in DECIMAL
    * (order-independent), the closed-form formula runs on the exact sums,
    * so the result is engine-reproducible and no rows reach the driver.
    * `label` true = diseased (k2 position), false = non-diseased (k1).
    *
    * NOTE: scores are quantized to `scoreScale` decimal places by the
    * DECIMAL accumulation (that quantization is what buys exact
    * order-independence). The default suits 2-decimal clinical/money-like
    * scores; raise it (≤ ~12) for finer-grained scores, at the cost of
    * narrower headroom in the 18-digit accumulator. */
  def binormalThresholdDF(df: DataFrame, label: Column, score: Column,
      rho: Double, scoreScale: Int = 2): DataFrame = {
    val x = score.cast(s"decimal(18,$scoreScale)")
    val agg = df.where(score.isNotNull && label.isNotNull)
      .agg(
        count(when(!label, 1)).as("n1"), count(when(label, 1)).as("n2"),
        sum(when(!label, x)).as("sx1d"), sum(when(label, x)).as("sx2d"),
        sum(when(!label, x * x)).as("sxx1d"), sum(when(label, x * x)).as("sxx2d"))
    val n1 = col("n1"); val n2 = col("n2")
    val sx1 = col("sx1d").cast("double"); val sx2 = col("sx2d").cast("double")
    val sxx1 = col("sxx1d").cast("double"); val sxx2 = col("sxx2d").cast("double")
    val m1 = sx1 / n1; val m2 = sx2 / n2
    val s2 = ((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2)) / (n1 + n2 - lit(2))
    agg.select(n1, n2,
      round((m1 + m2) / 2 + s2 * lit(math.log((1 - rho) / rho)) / (m2 - m1), 6)
        .as("threshold"))
  }

  private def mean(a: Array[Double]): Double = a.sum / a.length
  private def sumSq(a: Array[Double], m: Double): Double =
    a.map(v => (v - m) * (v - m)).sum

  /** Precision–recall curve — the class-imbalance-honest companion of
    * [[empiricalRoc]] (with 1:1000 positives the ROC can look clean while
    * precision is junk; the PR curve shows it). One row per distinct
    * score threshold, descending: `(threshold, tp, fp, prec, rec, f1)`.
    *
    * Exactness: TP/FP at each cut are exact LONGs from the sharded
    * exclusive prefix and its totals ([[graft.ops.ShardLookup.exclusivePrefix]]
    * — no global sort, no driver collect beyond one row per shard);
    * `prec = tp/(tp+fp)`, `rec = tp/P`, `f1 = 2tp/(tp+fp+P)` are each ONE
    * integer→double division (f1's denominator folds fn = P − tp away),
    * rounded to 6.
    *
    * Scale: the curve frame is |distinct scores|-sized; quantize a
    * continuous score first (same note as [[empiricalRoc]]). */
  def prCurve(df: DataFrame, label: Column, score: Column): DataFrame = {
    val byScore = df.where(score.isNotNull && label.isNotNull)
      .groupBy(score.cast("double").as("v"))
      .agg(count(when(label, 1)).as("np"), count(when(!label, 1)).as("nn"))
    val pref = graft.ops.ShardLookup.exclusivePrefix(byScore, Seq(col("v")),
      Seq("np" -> "cumnp", "nn" -> "cumnn"))
    pref.df
      .withColumn("p", lit(pref.totals("np")))
      .withColumn("tp", col("p") - col("cumnp"))
      .withColumn("fp", lit(pref.totals("nn")) - col("cumnn"))
      .select(col("v").as("threshold"), col("tp"), col("fp"),
        round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6).as("prec"),
        round(col("tp").cast("double") / col("p").cast("double"), 6).as("rec"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("tp") + col("fp") + col("p")).cast("double"), 6).as("f1"))
      .orderBy(col("threshold").desc)
  }
}
