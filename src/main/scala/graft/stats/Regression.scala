package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Least-squares regression diagnostics at corpus scale
  * (NOT-IN-REFERENCE §2.8 extension — the continuous-response sibling of
  * [[graft.ml.Logistic]]'s IRLS fit: the reference's hypothesis battery
  * (`Hypothesis testing R.r:20-625`) tests group differences; these fit
  * and diagnose the linear trend itself).
  *
  * Exactness discipline (the q6/TTest doctrine): the corpus reduces to a
  * handful of EXACT power sums in ONE map-side-combined aggregate —
  * values ride as DECIMAL(12,2) so every sum is order-independent
  * integer-scaled arithmetic — and each derived number (slope, intercept,
  * R², residual SE, Durbin–Watson ratio) is a fixed double tree over
  * those sums, reproducible bit-for-bit by a relational replay. */
object Regression {

  /** Simple (one-covariate) ordinary least squares `y ~ a + b·x` in ONE
    * corpus pass: six exact power sums, then the closed-form fit as a
    * fixed tree. One output row
    * `(n, slope, intercept, r2, se_resid, mean_x, mean_y)`; rows with a
    * NULL x or y drop. Scale shape: one aggregate, one row — the 100 TB
    * cost is the scan. */
  def olsSimpleDF(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val x = xCol.cast("decimal(12,2)"); val y = yCol.cast("decimal(12,2)")
    val agg = df.where(xCol.isNotNull && yCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx0"), sum(y).as("sy0"),
        sum(x * x).as("sxx0"), sum(x * y).as("sxy0"), sum(y * y).as("syy0"))
    val nd = col("n").cast("double")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double"); val sxy = col("sxy0").cast("double")
    val syy = col("syy0").cast("double")
    // centered cross-moments as explicit shared subtrees: the SQL replay
    // names the same stages so the FP association is identical
    val staged = agg.select(col("n"), nd.as("nd"), sx.as("sx"), sy.as("sy"),
      (nd * sxy - sx * sy).as("cxy"),
      (nd * sxx - sx * sx).as("cxx"),
      (nd * syy - sy * sy).as("cyy"))
    val slope = col("cxy") / col("cxx")
    val withSlope = staged.withColumn("slope", slope)
    withSlope.select(col("n"),
      round(col("slope"), 6).as("slope"),
      round(col("sy") / col("nd") - col("slope") * (col("sx") / col("nd")), 6)
        .as("intercept"),
      round(col("cxy") / col("cxx") * (col("cxy") / col("cyy")), 6).as("r2"),
      // residual SS = (cyy − slope·cxy)/n, over n−2 df, all one tree
      round(sqrt((col("cyy") - col("slope") * col("cxy")) /
        (col("nd") * (col("nd") - lit(2.0)))), 6).as("se_resid"),
      round(col("sx") / col("nd"), 6).as("mean_x"),
      round(col("sy") / col("nd"), 6).as("mean_y"))
  }

  /** Durbin–Watson first-order autocorrelation statistic of a DAILY total
    * series: `DW = Σ(c_t − c_{t−1})² / Σ(c_t − mean)²` over the
    * date-ordered daily totals of `valueCol`. The mean CANCELS in the
    * numerator differences, so with cent-integer daily totals both sums
    * are exact integers (`DW = n·Σd² / (n·Σc² − S²)`) and the statistic
    * is ONE division of exact-integer doubles. Output one row
    * `(n_days, mean_daily, dw)`.
    *
    * Plan: one corpus-sized groupBy(day) → the days-sized frame; the lag
    * ride is a deliberate dimension-sized global window (the r19/w2
    * whitelist family — distinct days, never data-sized). */
  def durbinWatsonDailyDF(df: DataFrame, dateCol: Column, valueCol: Column): DataFrame = {
    val daily = df.where(dateCol.isNotNull && valueCol.isNotNull)
      .groupBy(to_date(dateCol).as("day"))
      .agg((sum(valueCol.cast("decimal(12,2)")) * 100).cast("decimal(19,0)")
        .as("c"))
    val lagW = Window.partitionBy().orderBy(col("day").asc)
    val d = (col("c") - lag(col("c"), 1).over(lagW)).cast("decimal(19,0)")
    val diffed = daily.select(col("c"), d.as("d"))
    val agg = diffed.agg(count(lit(1)).as("n_days"),
      sum(col("c")).cast("decimal(38,0)").as("s0"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("ss0"),
      sum((col("d") * col("d")).cast("decimal(38,0)")).as("num0"))
    val nd = col("n_days").cast("double")
    val s = col("s0").cast("double"); val ss = col("ss0").cast("double")
    val num = col("num0").cast("double")
    agg.select(col("n_days"),
      round(s / (lit(100.0) * nd), 2).as("mean_daily"),
      round(nd * num / (nd * ss - s * s), 6).as("dw"))
  }

  /** Cross-correlation function between two DAILY total series at lags
    * `0..maxLag`: `ccf(l) = corr(x_d, y_{d+l})` over the days where both
    * sides exist. Both series reduce to exact cent-integer day frames in
    * one groupBy each; the lag alignment is a day-frame join on
    * `y.day = x.day + l` (lags broadcast), and each correlation is ONE
    * fixed tree over the lag's six exact sums — nothing data-sized after
    * the two reductions. One row per lag: `(lag, n_days, ccf)`. */
  def crossCorrDailyDF(dfx: DataFrame, dateX: Column, valueX: Column,
      dfy: DataFrame, dateY: Column, valueY: Column, maxLag: Int): DataFrame = {
    def daily(df: DataFrame, d: Column, v: Column, out: String) =
      df.where(d.isNotNull && v.isNotNull)
        .groupBy(to_date(d).as("d"))
        .agg((sum(v.cast("decimal(12,2)")) * 100).cast("decimal(19,0)").as(out))
    val dx = daily(dfx, dateX, valueX, "xv")
    val dy = daily(dfy, dateY, valueY, "yv").withColumnRenamed("d", "dy")
    val lags = dfx.sparkSession.range(0, maxLag + 1)
      .select(col("id").as("lag"))
    val pairs = dx.crossJoin(broadcast(lags))
      .join(dy, col("dy") === date_add(col("d"), col("lag").cast("int")))
    val agg = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("xv")).cast("decimal(38,0)").as("sx0"),
        sum(col("yv")).cast("decimal(38,0)").as("sy0"),
        sum((col("xv") * col("xv")).cast("decimal(38,0)")).as("sxx0"),
        sum((col("xv") * col("yv")).cast("decimal(38,0)")).as("sxy0"),
        sum((col("yv") * col("yv")).cast("decimal(38,0)")).as("syy0"))
    val nd = col("n_days").cast("double")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double"); val sxy = col("sxy0").cast("double")
    val syy = col("syy0").cast("double")
    agg.select(col("lag"), col("n_days"),
      round((nd * sxy - sx * sy) /
        sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6).as("ccf"))
      .orderBy(col("lag"))
  }

  /** A fitted multivariate OLS model: `beta` is (intercept +: names),
    * solved from the exact moment matrix. */
  case class OlsFit(names: Seq[String], beta: Array[Double])

  /** The 1-row exact moment frame for `y ~ 1 + xs`: `n`, `s_y`, `s_yy`,
    * and for every covariate pair the cross sums — ONE map-side-combined
    * aggregate. Column names: `s_i` (Σxᵢ), `s_i_j` (Σxᵢxⱼ, i ≤ j),
    * `s_i_y` (Σxᵢy).
    *
    * Exactness + cost (the q17 cent doctrine): each value quantizes ONCE
    * per row to a CENT long via the same `decimal(12,2)` cast as before
    * (`c = 100·x`, exact), so every cross term is a codegen'd LONG
    * multiply instead of a per-row non-compact `BigDecimal`
    * multiply+rescale (the old DECIMAL(12,2)×DECIMAL(12,2) arms); sums
    * accumulate in DECIMAL(28,0) (compact-long until ~10¹⁸) and divide
    * back by the unit factor at the END — a decimal scale shift, exact
    * because every sum has ≤4 decimal digits. Every emitted column is
    * the SAME exact rational value as the old direct decimal sums, so
    * `.doubleValue`/`cast("double")` readers are bit-identical.
    * Bound: a cent cross product needs |x|,|y| ≤ ~$3·10⁷ (cents² < 2⁶³);
    * the money contract (12,2) rows used here are ≤ $10⁶. */
  def olsMoments(df: DataFrame, yCol: Column, xs: Seq[(String, Column)]): DataFrame = {
    val p = xs.size
    val notNull = xs.map(_._2.isNotNull).reduce(_ && _) && yCol.isNotNull
    // quantize once per row into a NARROW cent frame, then fan a
    // single-split local scan out over the cores (scale-adaptive no-op on
    // pre-split inputs) — the ~p²/2 cross-product sums are the CPU cost
    // and must not run on one core because the input arrived as one file
    val cents = df.where(notNull).select(
      ((yCol.cast("decimal(12,2)") * 100).cast("long").as("_yc")) +:
        xs.indices.map(i =>
          (xs(i)._2.cast("decimal(12,2)") * 100).cast("long").as(s"_xc$i")): _*)
    val w = graft.Tables.spread(cents)
    val xc = xs.indices.map(i => col(s"_xc$i"))
    val yc = col("_yc")
    def s1(c: Column) = sum(c.cast("decimal(18,0)")).cast("decimal(28,0)")
    def s2(c: Column) = sum(c.cast("decimal(28,0)"))
    val aggs =
      Seq(count(lit(1)).as("n"),
        (s1(yc) / 100).as("s_y"), (s2(yc * yc) / 10000).as("s_yy")) ++
        xs.indices.map(i => (s1(xc(i)) / 100).as(s"s_$i")) ++
        (for (i <- 0 until p; j <- i until p)
          yield (s2(xc(i) * xc(j)) / 10000).as(s"s_${i}_$j")) ++
        xs.indices.map(i => (s2(xc(i) * yc) / 10000).as(s"s_${i}_y")) :+
        // overflow tripwire for the LONG×LONG cross products above: the
        // cent bound (|cents| < ~3.03e9, cents² < 2⁶³) is documented, but
        // non-ANSI LONG multiply WRAPS silently past it — emit the max
        // |cent| in the same pass so the moment-row readers can refuse a
        // wrapped fit instead of returning a wrong β (ADVICE r12)
        greatest((abs(yc) +: xs.indices.map(i => abs(xc(i)))).map(max): _*)
          .as("max_abs_cents")
    w.agg(aggs.head, aggs.tail: _*)
  }

  /** Max |cent| value a cent×cent LONG product tolerates: ⌊√(2⁶³−1)⌋. */
  private val CentProductBound = 3037000499L

  /** Refuse a moment row whose inputs could have wrapped the LONG cross
    * products (see [[olsMoments]]'s tripwire column). No-op for rows from
    * older/narrower aggregates that lack the column. */
  private def requireCentsInBound(r: org.apache.spark.sql.Row): Unit =
    if (r.schema != null && r.schema.fieldNames.contains("max_abs_cents") &&
        !r.isNullAt(r.fieldIndex("max_abs_cents"))) {
      val m = r.getLong(r.fieldIndex("max_abs_cents"))
      require(m <= CentProductBound,
        s"olsMoments: |cents| up to $m exceeds $CentProductBound — cent²" +
          " LONG products would wrap; rescale the inputs or widen the type")
    }

  /** Solve the normal equations from the collected moment row (bounded
    * driver protocol: ONE row crosses the driver). Deterministic: the
    * moment sums are exact, the solve is partial-pivot elimination over a
    * fixed index order — β is a pure function of the data multiset. */
  def olsFitMulti(df: DataFrame, yCol: Column, xs: Seq[(String, Column)]): OlsFit =
    olsFitFromMomentsRow(olsMoments(df, yCol, xs).head(),
      xs.map(_._1), xs.indices)

  /** Ridge (L2-penalized) OLS: identical exact moment frame and bounded
    * driver solve as [[olsFitMulti]], with `lambda` added to the slope
    * diagonal of the normal equations (the intercept is unpenalized —
    * standard ridge). β is again a pure function of the data multiset and
    * λ; at λ = 0 this IS [[olsFitMulti]] (spec-pinned). The fit summary
    * ([[olsSummaryDF]]) is valid at ANY β, so the ridge β rides the same
    * exported-artifact oracle contract as m13's. */
  def ridgeFitMulti(df: DataFrame, yCol: Column, xs: Seq[(String, Column)],
      lambda: Double): OlsFit =
    ridgeFitFromMomentsRow(olsMoments(df, yCol, xs).head(),
      xs.map(_._1), lambda)

  /** [[ridgeFitMulti]] from an already-collected moment row — the
    * single-pass twin (the m13/m15 queries fit AND summarize off ONE
    * moment aggregate). Bit-identical: the matrix entries are the same
    * exact decimal reads, with `lambda` on the slope diagonal. */
  def ridgeFitFromMomentsRow(r: org.apache.spark.sql.Row, names: Seq[String],
      lambda: Double): OlsFit = {
    require(lambda >= 0, s"ridge penalty must be non-negative, got $lambda")
    requireCentsInBound(r)
    def d(name: String): Double =
      r.getDecimal(r.fieldIndex(name)).doubleValue
    val p = names.size; val dim = p + 1
    val n = r.getLong(r.fieldIndex("n")).toDouble
    def sx(i: Int) = d(s"s_$i")
    def sxx(i: Int, j: Int) = if (i <= j) d(s"s_${i}_$j") else d(s"s_${j}_$i")
    val a = Array.tabulate(dim, dim) { (i, j) =>
      val base = (i, j) match {
        case (0, 0) => n
        case (0, jj) => sx(jj - 1)
        case (ii, 0) => sx(ii - 1)
        case (ii, jj) => sxx(ii - 1, jj - 1)
      }
      if (i == j && i > 0) base + lambda else base
    }
    val b = Array.tabulate(dim)(i => if (i == 0) d("s_y") else d(s"s_${i - 1}_y"))
    OlsFit(names, graft.ml.Logistic.solve(a, b))
  }

  /** A fitted Breusch–Pagan pair: `beta` the main OLS coefficients,
    * `gamma` the auxiliary (squared-residual) regression coefficients —
    * both pure functions of the canonically-sorted integer cell frame. */
  case class BpFit(beta: Array[Double], gamma: Array[Double])

  /** Breusch–Pagan cell frame for an INTEGER response over binary
    * covariates: `(x1..xp as 0/1, n, sy, syy, syyy, syyyy)` — the 4th
    * power sums a squared-residual regression needs, all LONG-exact
    * because the covariates collapse rows into ≤ 2^p cells and integer
    * y keeps every power sum integral (the r37 sufficient-statistics
    * doctrine extended to 4th moments). One map-side-combined groupBy. */
  def bpCellsDF(df: DataFrame, yCol: Column, xs: Seq[(String, Column)]): DataFrame = {
    require(xs.nonEmpty)
    val notNull = (yCol +: xs.map(_._2)).map(_.isNotNull).reduce(_ && _)
    val y = yCol.cast("long")
    val keys = xs.map { case (n, c) => c.cast("int").as(n) }
    df.where(notNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(y).as("sy"), sum(y * y).as("syy"),
        sum(y * y * y).as("syyy"), sum(y * y * y * y).as("syyyy"))
  }

  /** Bounded driver fit from the collected cell frame (≤ 2^p rows,
    * canonically sorted): main weighted OLS β, then the auxiliary OLS γ
    * of the per-cell squared-residual mass on the same design. Both
    * solves share the design matrix (X is the cell covariates). */
  def bpFit(cellsDF: DataFrame, p: Int): BpFit = {
    val rows = cellsDF.collect().map { r =>
      (Array.tabulate(p)(i => r.getInt(i).toDouble),
        r.getLong(p).toDouble, r.getLong(p + 1).toDouble,
        r.getLong(p + 2).toDouble, r.getLong(p + 4).toDouble)
    }.sortBy(_._1.toSeq.mkString(","))
    val dim = p + 1
    def x(c: (Array[Double], Double, Double, Double, Double), i: Int) =
      if (i == 0) 1.0 else c._1(i - 1)
    val a = Array.tabulate(dim, dim) { (i, j) =>
      rows.map(c => c._2 * x(c, i) * x(c, j)).sum
    }
    val bMain = Array.tabulate(dim)(i => rows.map(c => c._3 * x(c, i)).sum)
    val beta = graft.ml.Logistic.solve(a.map(_.clone()), bMain)
    // per-cell squared-residual mass at the fitted β
    val u2 = rows.map { c =>
      val yh = (1 until dim).foldLeft(beta(0))((acc, i) => acc + beta(i) * c._1(i - 1))
      c._4 - 2.0 * yh * c._3 + c._2 * yh * yh
    }
    val bAux = Array.tabulate(dim)(i =>
      rows.zip(u2).map { case (c, u) => u * x(c, i) }.sum)
    BpFit(beta, graft.ml.Logistic.solve(a.map(_.clone()), bAux))
  }

  /** The engine-side Breusch–Pagan readout over the cell frame with the
    * fitted β/γ as literals: per-cell `(x.., n, yhat, u2, g, sse_c)` plus
    * the running chains; the LAST row's `bp_running` is the LM statistic
    * `n·R²_aux` (χ² with p df under homoskedasticity). Every value is a
    * fixed double tree over LONG cell sums — raw doubles, no rounding
    * (the r23 large-magnitude round() lesson). */
  def bpSummaryDF(cellsDF: DataFrame, xsNames: Seq[String], fit: BpFit): DataFrame = {
    val p = xsNames.length
    def affine(b: Array[Double]): Column =
      (1 to p).foldLeft(lit(b(0)): Column)((acc, i) =>
        acc + lit(b(i)) * col(xsNames(i - 1)).cast("double"))
    val nD = col("n").cast("double")
    def s(c: String) = col(c).cast("double")
    val staged = cellsDF
      .withColumn("yhat", affine(fit.beta))
      .withColumn("g", affine(fit.gamma))
      .withColumn("yh2", col("yhat") * col("yhat"))
      .withColumn("yh3", col("yh2") * col("yhat"))
      .withColumn("yh4", col("yh3") * col("yhat"))
      .withColumn("u2",
        s("syy") - lit(2.0) * col("yhat") * s("sy") + nD * col("yh2"))
      .withColumn("u4",
        s("syyyy") - lit(4.0) * col("yhat") * s("syyy") +
          lit(6.0) * col("yh2") * s("syy") -
          lit(4.0) * col("yh3") * s("sy") + nD * col("yh4"))
      .withColumn("sse_c",
        col("u4") - lit(2.0) * col("g") * col("u2") + nD * col("g") * col("g"))
    val w = Window.partitionBy()
      .orderBy(xsNames.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_u2", sum(col("u2")).over(w))
      .withColumn("cum_u4", sum(col("u4")).over(w))
      .withColumn("cum_sse", sum(col("sse_c")).over(w))
      .withColumn("bp_running",
        col("cum_n").cast("double") * (lit(1.0) - col("cum_sse") /
          (col("cum_u4") - col("cum_u2") * col("cum_u2") /
            col("cum_n").cast("double"))))
      .select((xsNames.map(col) ++ Seq(col("n"), col("yhat"), col("u2"),
        col("g"), col("sse_c"), col("bp_running"))): _*)
      .orderBy(xsNames.map(col(_).asc): _*)
  }

  /** One-row fit summary AT a given β (the exported-artifact oracle
    * contract): `(n, b0..bp, sse, r2, se_resid)` where
    * `SSE = Syy − 2·β'X'y + β'X'Xβ` is a fixed tree over the SAME moment
    * sums — exact for ANY β, no second corpus pass. The β ride in as
    * literals; the staging (`xty`, `qf`) is mirrored in the SQL replay. */
  def olsSummaryDF(moments: DataFrame, beta: Array[Double]): DataFrame = {
    val p = beta.length - 1
    val nd = col("n").cast("double")
    def s(name: String) = col(name).cast("double")
    def sx(i: Int) = s(s"s_$i")
    def sxx(i: Int, j: Int) = if (i <= j) s(s"s_${i}_$j") else s(s"s_${j}_$i")
    def sxy(i: Int) = s(s"s_${i}_y")
    // staged shared subtrees, each an explicit left-to-right chain
    val xty = (0 to p).map { i =>
      if (i == 0) lit(beta(0)) * s("s_y") else lit(beta(i)) * sxy(i - 1)
    }.reduceLeft(_ + _)
    def row(i: Int): Column = (0 to p).map { j =>
      val sij =
        if (i == 0 && j == 0) nd
        else if (i == 0) sx(j - 1)
        else if (j == 0) sx(i - 1)
        else sxx(i - 1, j - 1)
      lit(beta(j)) * sij
    }.reduceLeft(_ + _)
    val qf = (0 to p).map(i => lit(beta(i)) * row(i)).reduceLeft(_ + _)
    val staged = moments.select((Seq(col("n"), nd.as("nd"),
      s("s_y").as("syD"), s("s_yy").as("syyD"),
      xty.as("xty"), qf.as("qf")) ++
      (0 to p).map(i => lit(beta(i)).as(s"b$i"))): _*)
    val sse = col("syyD") - lit(2.0) * col("xty") + col("qf")
    val syyC = col("syyD") - col("syD") * col("syD") / col("nd")
    staged.select((Seq(col("n")) ++ (0 to p).map(i => col(s"b$i")) ++ Seq(
      sse.as("sse"),
      round(lit(1.0) - sse / syyC, 6).as("r2"),
      round(sqrt(sse / (col("nd") - lit((p + 1).toDouble))), 6)
        .as("se_resid"))): _*)
  }

  /** Solve a NESTED model's normal equations from an already-collected
    * FULL moment row — the sums of any covariate subset are literally the
    * same exact decimal aggregates a dedicated sub-model pass would
    * compute, so β is bit-identical to [[olsFitMulti]] on that subset
    * while the corpus is scanned ONCE for all nested models (the r76
    * Type-I ANOVA runs 3 fits off one pass). `idx` maps the sub-model's
    * covariates to full-frame positions. */
  def olsFitFromMomentsRow(r: org.apache.spark.sql.Row, names: Seq[String],
      idx: Seq[Int]): OlsFit = {
    require(names.length == idx.length)
    requireCentsInBound(r)
    def d(name: String): Double = r.getDecimal(r.fieldIndex(name)).doubleValue
    val n = r.getLong(r.fieldIndex("n")).toDouble
    def sx(i: Int) = d(s"s_$i")
    def sxx(i: Int, j: Int) = if (i <= j) d(s"s_${i}_$j") else d(s"s_${j}_$i")
    val p = idx.length; val dim = p + 1
    val a = Array.tabulate(dim, dim) { (i, j) =>
      (i, j) match {
        case (0, 0) => n
        case (0, jj) => sx(idx(jj - 1))
        case (ii, 0) => sx(idx(ii - 1))
        case (ii, jj) => sxx(idx(ii - 1), idx(jj - 1))
      }
    }
    val b = Array.tabulate(dim)(i =>
      if (i == 0) d("s_y") else d(s"s_${idx(i - 1)}_y"))
    OlsFit(names, graft.ml.Logistic.solve(a, b))
  }

  /** SSE at β over a SUBSET `idx` of the full moment frame's covariates —
    * the Type-I nested-model engine: sequential ANOVA compares SSEs of
    * nested OLS fits, and every nested model's normal-equation entries
    * are a sub-block of the FULL model's moment row, so ONE moment pass
    * serves every model. `beta(0)` is the intercept; `beta(k)` pairs with
    * full-frame covariate `idx(k−1)`. Same staged xty/qf chains as
    * [[olsSummaryDF]] (exact at ANY β); [[nestedSseSql]] is the
    * tree-identical SQL twin. */
  def nestedSseExpr(beta: Array[Double], idx: Seq[Int]): Column = {
    require(beta.length == idx.length + 1,
      s"beta has ${beta.length} entries for ${idx.length} covariates")
    val nd = col("n").cast("double")
    def s(name: String) = col(name).cast("double")
    def sx(i: Int) = s(s"s_$i")
    def sxx(i: Int, j: Int) = if (i <= j) s(s"s_${i}_$j") else s(s"s_${j}_$i")
    val p = idx.length
    val xty = (0 to p).map { k =>
      if (k == 0) lit(beta(0)) * s("s_y")
      else lit(beta(k)) * s(s"s_${idx(k - 1)}_y")
    }.reduceLeft(_ + _)
    def row(i: Int): Column = (0 to p).map { j =>
      val sij =
        if (i == 0 && j == 0) nd
        else if (i == 0) sx(idx(j - 1))
        else if (j == 0) sx(idx(i - 1))
        else sxx(idx(i - 1), idx(j - 1))
      lit(beta(j)) * sij
    }.reduceLeft(_ + _)
    val qf = (0 to p).map(i => lit(beta(i)) * row(i)).reduceLeft(_ + _)
    s("s_yy") - lit(2.0) * xty + qf
  }

  def nestedSseSql(beta: Array[Double], idx: Seq[Int]): String = {
    require(beta.length == idx.length + 1)
    def b(k: Int) = s"CAST('${beta(k)}' AS DOUBLE)"
    def s(name: String) = s"CAST($name AS DOUBLE)"
    def sx(i: Int) = s(s"s_$i")
    def sxx(i: Int, j: Int) = if (i <= j) s(s"s_${i}_$j") else s(s"s_${j}_$i")
    val p = idx.length
    val xty = (0 to p).map { k =>
      if (k == 0) s"${b(0)} * ${s("s_y")}"
      else s"${b(k)} * ${s(s"s_${idx(k - 1)}_y")}"
    }.reduceLeft((a, t) => s"($a + $t)")
    def row(i: Int): String = (0 to p).map { j =>
      val sij =
        if (i == 0 && j == 0) s("n")
        else if (i == 0) sx(idx(j - 1))
        else if (j == 0) sx(idx(i - 1))
        else sxx(idx(i - 1), idx(j - 1))
      s"${b(j)} * $sij"
    }.reduceLeft((a, t) => s"($a + $t)")
    val qf = (0 to p).map(i => s"${b(i)} * (${row(i)})")
      .reduceLeft((a, t) => s"($a + $t)")
    s"(${s("s_yy")} - 2.0 * ($xty) + ($qf))"
  }

  /** Partial correlation `pcor(x, y | z)` — the conditional-dependence
    * sibling of [[crossCorrDailyDF]]'s marginal correlations: all three
    * pairwise correlations from ONE aggregate of nine exact power sums,
    * then the closed form `(r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))` as a
    * fixed tree. One row: `(n, r_xy, r_xz, r_yz, pcor)`. */
  def partialCorrDF(df: DataFrame, xCol: Column, yCol: Column, zCol: Column): DataFrame = {
    val x = xCol.cast("decimal(12,2)"); val y = yCol.cast("decimal(12,2)")
    val z = zCol.cast("decimal(12,2)")
    val agg = df.where(xCol.isNotNull && yCol.isNotNull && zCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx0"), sum(y).as("sy0"), sum(z).as("sz0"),
        sum(x * x).as("sxx0"), sum(y * y).as("syy0"), sum(z * z).as("szz0"),
        sum(x * y).as("sxy0"), sum(x * z).as("sxz0"), sum(y * z).as("syz0"))
    val nd = col("n").cast("double")
    def s(c: String) = col(c).cast("double")
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
      (nd * sab - sa * sb) /
        sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb))
    val staged = agg.select(col("n"),
      r(s("sxy0"), s("sx0"), s("sy0"), s("sxx0"), s("syy0")).as("r_xy"),
      r(s("sxz0"), s("sx0"), s("sz0"), s("sxx0"), s("szz0")).as("r_xz"),
      r(s("syz0"), s("sy0"), s("sz0"), s("syy0"), s("szz0")).as("r_yz"))
    staged.select(col("n"),
      round(col("r_xy"), 6).as("r_xy"),
      round(col("r_xz"), 6).as("r_xz"),
      round(col("r_yz"), 6).as("r_yz"),
      round((col("r_xy") - col("r_xz") * col("r_yz")) /
        sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
          (lit(1.0) - col("r_yz") * col("r_yz"))), 6).as("pcor"))
  }
}
