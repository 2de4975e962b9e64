package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling (NOT-IN-REFERENCE extension — the `ANALYZE TABLE` /
  * data-catalog surface a 100 TB lakehouse runs before anything else;
  * reference kinship: the §2.6 quality report counts, generalized to
  * per-column census form).
  *
  * One row per profiled column: row count, non-null count, EXACT distinct
  * count, min/max, and the modal value with its frequency (ties broken by
  * smallest value — deterministic, engine-independent).
  *
  * Plan: TWO jobs regardless of column count. Pass 1 is a single
  * conditional aggregation (counts + min/max for every column at once).
  * Pass 2 stacks the columns into (column, value) CELLS via one explode —
  * k·rows intermediate, map-side combined into per-(column, value) counts
  * before the only shuffle — then per-column distincts and modes come
  * from the CELL frame (value-level, never row-level) with windows
  * PARTITIONED by column. Values profile as strings (the cast is part of
  * the contract: cross-type min/max and modes need one total order). */
object Profile {

  /** Benford's-law first-digit probabilities, `log10(1 + 1/d)` — exposed
    * so the engine side and a SQL replay interpolate the SAME JVM double
    * literals (DuckDB's libm can differ in the last ulp). */
  val benfordP: Seq[(String, Double)] =
    (1 to 9).map(d => (d.toString, math.log10(1.0 + 1.0 / d)))

  /** Benford's-law conformance audit of a positive 2-decimal money
    * column — the fraud/entry-error screen an auditor runs first: the
    * observed first-digit census against `log10(1 + 1/d)`, with the
    * goodness-of-fit χ² as a RUNNING chain in digit order (the r19
    * doctrine). One row per digit 1–9:
    * `(digit, n, expected, contrib, chi2_running)`.
    *
    * The first digit comes from the DECIMAL(18,2) string rendering (both
    * engines print the same canonical form) — no `log10`-of-value digit
    * extraction, whose boundary rounding (10^k) differs across libms.
    * Rows < 1 drop (their leading "0" isn't a significant digit).
    * Plan: one map-side groupBy to the 9-digit frame; windows ride it. */
  def benfordDF(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .where(col(valueCol).isNotNull && col(valueCol) >= 1.0)
      .select(substring(col(valueCol).cast("decimal(18,2)").cast("string"), 1, 1)
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val aw = Window.partitionBy()
    val runW = Window.partitionBy().orderBy(col("digit").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 9-row digit frame: the deliberate dimension-sized windows
    val pCol = element_at(
      map(benfordP.flatMap { case (d, p) => Seq(lit(d), lit(p)) }: _*),
      col("digit"))
    val withE = digits
      .withColumn("__t", sum(col("n")).over(aw))
      .withColumn("expected", col("__t").cast("double") * pCol)
    val contrib = (col("n").cast("double") - col("expected")) *
      (col("n").cast("double") - col("expected")) / col("expected")
    withE
      .withColumn("contrib", contrib)
      .withColumn("chi2_running", sum(col("contrib")).over(runW))
      .select(col("digit"), col("n"), round(col("expected"), 4).as("expected"),
        round(col("contrib"), 6).as("contrib"),
        round(col("chi2_running"), 6).as("chi2_running"))
      .orderBy(col("digit"))
  }

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val spark = df.sparkSession
    // pass 1: one aggregation row — totals, nulls, extrema
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      val s = col(c).cast("string")
      Seq(count(s).as(s"__nn_$c"), min(s).as(s"__mn_$c"), max(s).as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).head()
    val nRows = one.getLong(0)
    val base = cols.zipWithIndex.map { case (c, i) =>
      (c, one.getLong(1 + 3 * i), one.getString(2 + 3 * i), one.getString(3 + 3 * i))
    }
    import spark.implicits._
    val baseDf = base.toDF("column", "n_nonnull", "min_value", "max_value")
    // pass 2: stacked cells → per-(column, value) counts → distinct + mode
    val cells = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*))
        .as("cell"))
      .select(col("cell.column"), col("cell.value"))
      .where(col("value").isNotNull)
      .groupBy(col("column"), col("value")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("column"))
      .orderBy(col("cnt").desc, col("value").asc)
    val perCol = cells
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("column"))
      .agg(count(lit(1)).as("n_distinct"),
        max(when(col("__rn") === 1, col("value"))).as("top_value"),
        max(when(col("__rn") === 1, col("cnt"))).as("top_count"))
    baseDf.join(perCol, Seq("column"), "left")
      .select(col("column"), lit(nRows).as("n_rows"), col("n_nonnull"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_value"), col("max_value"), col("top_value"),
        coalesce(col("top_count"), lit(0L)).as("top_count"))
      .orderBy(col("column"))
  }

  /** Population stability index — the distribution-drift monitor between
    * a reference and a current cohort of the SAME column (model-input
    * drift, ETL regression detection): `PSI = Σ_bins (p−q)·ln(p/q)` with
    * p/q the Laplace-smoothed bin shares `(c + 0.5)/(n + k/2)` (so an
    * empty bin on either side never produces ln 0; k = populated bins).
    * Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    *
    * Fixed-width buckets (`floor(v/binWidth)`, the h1 contract) keep the
    * binning a pure row-local function — no in-query extrema, so ref and
    * cur land in IDENTICAL bins on any engine. Counts are integers; the
    * PSI accumulates as a running chain over the bin frame in bin order
    * (the r19/q13 doctrine), so the replay is bit-exact.
    *
    * One corpus-sized groupBy; everything after lives on the k-row bin
    * frame (deliberate dimension-sized windows). Rows where `isRef`
    * evaluates NULL drop. */
  def psiDF(df: DataFrame, valueCol: String, isRef: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val base = df.where(col(valueCol).isNotNull && isRef.isNotNull)
      .select(floor(col(valueCol) / binWidth).cast("long").as("bin"),
        isRef.as("ref"))
    val cells = base.groupBy(col("bin"))
      .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("c_cur"))
    val aw = Window.partitionBy()
    val runW = Window.partitionBy().orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = cells.select(col("bin"), col("c_ref"), col("c_cur"),
      sum(col("c_ref")).over(aw).as("n_ref"),
      sum(col("c_cur")).over(aw).as("n_cur"),
      count(lit(1)).over(aw).as("k"))
    val p = (col("c_ref").cast("double") + lit(0.5)) /
      (col("n_ref").cast("double") + col("k").cast("double") / lit(2.0))
    val q = (col("c_cur").cast("double") + lit(0.5)) /
      (col("n_cur").cast("double") + col("k").cast("double") / lit(2.0))
    val term = (p - q) * log(p / q)
    staged
      .withColumn("contrib", term)
      .withColumn("psi_running", sum(col("contrib")).over(runW))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        round(col("contrib"), 6).as("contrib"),
        round(col("psi_running"), 6).as("psi_running"))
      .orderBy(col("bin"))
  }

  /** PSI drift MATRIX — [[psiDF]] swept across time: every period's
    * distribution scored against the FIRST period's, the monitoring
    * dashboard behind "did the input shift and when". The ref period's
    * own row chain is the 0-PSI sanity anchor.
    *
    * Plan: one corpus groupBy to the (period, bin) cell frame, a
    * dimension-sized period×bin GRID (deliberate broadcast cross of two
    * tiny distinct frames — zero-cells must exist for bins one side
    * lacks), the 1-row ref-period broadcast, then Laplace-smoothed
    * shares and running chains with EVERY window partitioned by period —
    * nothing global, the q15 stacked shape.
    *
    * Returns `(period, bin, c_ref, c_cur, contrib, psi_running)` ordered;
    * the last bin's `psi_running` per period is that period's PSI. */
  def psiByPeriodDF(df: DataFrame, valueCol: String, periodCol: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val base = df.where(col(valueCol).isNotNull && periodCol.isNotNull)
      .select(periodCol.cast("long").as("period"),
        floor(col(valueCol) / binWidth).cast("long").as("bin"))
    val cells = base.groupBy(col("period"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val grid = cells.select(col("period")).distinct()
      .crossJoin(broadcast(cells.select(col("bin")).distinct()))
    val full = grid.join(cells, Seq("period", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val refP = cells.agg(min(col("period")).as("ref_period"))
    val rf = full.crossJoin(broadcast(refP))
      .where(col("period") === col("ref_period"))
      .select(col("bin"), col("c").as("c_ref"))
    val perW = Window.partitionBy(col("period"))
    val runW = Window.partitionBy(col("period")).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = full.join(broadcast(rf), Seq("bin"))
      .select(col("period"), col("bin"), col("c").as("c_cur"), col("c_ref"),
        sum(col("c")).over(perW).as("n_cur"),
        sum(col("c_ref")).over(perW).as("n_ref"),
        count(lit(1)).over(perW).as("k"))
    val p = (col("c_ref").cast("double") + lit(0.5)) /
      (col("n_ref").cast("double") + col("k").cast("double") / lit(2.0))
    val q = (col("c_cur").cast("double") + lit(0.5)) /
      (col("n_cur").cast("double") + col("k").cast("double") / lit(2.0))
    st.withColumn("contrib", (p - q) * log(p / q))
      .withColumn("psi_running", sum(col("contrib")).over(runW))
      .select(col("period"), col("bin"), col("c_ref"), col("c_cur"),
        round(col("contrib"), 6).as("contrib"),
        round(col("psi_running"), 6).as("psi_running"))
      .orderBy(col("period"), col("bin"))
  }

  /** Pearson correlation matrix over every unordered pair of numeric
    * `cols` in ONE aggregate pass — the feature-EDA census before model
    * fitting. Pairwise-complete convention: each pair's sums are over
    * the rows where BOTH columns are non-null (the per-pair conditional
    * aggregates make that one scan, not k² scans).
    *
    * Exactness (the q10 cent doctrine): values scale ONCE per row to
    * CENT integers (2-decimal money contract, `(v·100)` exact), so the
    * per-pair power sums are pure LONG multiplies per row — a product of
    * two cent longs ≤ ~10¹⁴ fits LONG with 5 decades to spare — summed
    * into DECIMAL(30,0) (exact to ~10³⁰ cent², i.e. money² × 10¹⁶ rows).
    * The old DECIMAL(18,6)×DECIMAL(18,6) arms paid a non-compact
    * BigDecimal multiply + rescale per row per pair; the cent path is a
    * codegen'd long multiply. `corr = (n·Sxy − Sx·Sy) /
    * √((n·Sxx − Sx²)(n·Syy − Sy²))` stays ONE fixed double tree per pair
    * (corr is scale-invariant, and both engines round the same exact
    * integers to double, so the tree is bit-replayable).
    * Returns `(col_a, col_b, n, corr)` ordered; degenerate (constant)
    * columns yield NULL corr. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size)
      yield (cols(i), cols(j))
    // one cent cast per column per row, shared by every pair arm; fan a
    // single-split local scan out over the cores (scale-adaptive no-op on
    // pre-split inputs) — the k²·3 cross-product sums are the CPU cost
    val cents = graft.Tables.spread(df.select(cols.map(c =>
      (col(c).cast("decimal(12,2)") * 100).cast("long").as(c)): _*))
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val both = col(a).isNotNull && col(b).isNotNull
      Seq(
        sum(when(both, 1L).otherwise(0L)).as(s"n_$i"),
        sum(when(both, col(a)).cast("decimal(18,0)")).as(s"sx_$i"),
        sum(when(both, col(b)).cast("decimal(18,0)")).as(s"sy_$i"),
        sum(when(both, col(a) * col(a)).cast("decimal(20,0)")).as(s"sxx_$i"),
        sum(when(both, col(b) * col(b)).cast("decimal(20,0)")).as(s"syy_$i"),
        sum(when(both, col(a) * col(b)).cast("decimal(20,0)")).as(s"sxy_$i"))
    }
    val one = cents.agg(aggs.head, aggs.tail: _*)
    val cells = pairs.zipWithIndex.map { case ((a, b), i) =>
      val nd = col(s"n_$i").cast("double")
      val sx = col(s"sx_$i").cast("double"); val sy = col(s"sy_$i").cast("double")
      val sxx = col(s"sxx_$i").cast("double"); val syy = col(s"syy_$i").cast("double")
      val sxy = col(s"sxy_$i").cast("double")
      val den = sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"n_$i").as("n"),
        when(den > 0.0, round((nd * sxy - sx * sy) / den, 6)).as("corr"))
    }
    one.select(explode(array(cells: _*)).as("c"))
      .select(col("c.col_a"), col("c.col_b"), col("c.n"), col("c.corr"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Functional-dependency discovery over every ordered pair of `cols` —
    * the schema-inference census behind key detection and normalization
    * hints: `det → dep` HOLDS iff each determinant value maps to exactly
    * one dependent value, i.e. `|distinct(det,dep)| = |distinct det|`.
    * `violations` counts the extra (det,dep) combinations an exact FD
    * would forbid; `strength = n_det / n_pairs` is 1.0 exactly when the
    * FD holds (the g3-style error measure, inverted).
    *
    * Exactness: everything is distinct counts over string-cast cells —
    * pure integers, one final division. Rows with a NULL on either side
    * drop for that pair (the standard FD convention).
    *
    * Plan: ONE stacked explode (k·(k−1) cells per row) → one
    * (det,dep,dv,pv) dedup shuffle → one pair-keyed aggregate; the
    * k²-sized output frame never re-touches the corpus. Cast columns are
    * pruned into the scan — only `cols` are read. */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "fdDiscovery needs at least two columns")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
    val cells = df.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("det"), lit(b).as("dep"),
          col(a).cast("string").as("dv"), col(b).cast("string").as("pv"))
      }: _*)).as("cell"))
      .select(col("cell.det"), col("cell.dep"), col("cell.dv"), col("cell.pv"))
      .where(col("dv").isNotNull && col("pv").isNotNull)
    val d1 = cells.groupBy(col("det"), col("dep"), col("dv"), col("pv"))
      .agg(count(lit(1)).as("cnt"))
    d1.groupBy(col("det"), col("dep"))
      .agg(countDistinct(col("dv")).as("n_det"),
        count(lit(1)).as("n_pairs"))
      .select(col("det"), col("dep"), col("n_det"), col("n_pairs"),
        (col("n_pairs") === col("n_det")).as("holds"),
        (col("n_pairs") - col("n_det")).as("violations"),
        round(col("n_det").cast("double") /
          col("n_pairs").cast("double"), 6).as("strength"))
      .orderBy(col("det"), col("dep"))
  }

  /** Referential-integrity audit for one child→parent relationship — the
    * constraint check a lakehouse can't enforce at write time: count child
    * rows whose key has no parent (orphans), NULL keys reported separately
    * (a NULL FK is absent, not broken — SQL FK semantics).
    *
    * Plan: parent keys reduce to DISTINCT map-side, ONE join + ONE
    * conditional aggregate over the child — no second child scan; counts
    * are LONGs, the rate is one division. Compose several relationships
    * with unionByName for a whole-schema report. */
  def fkAudit(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__k"))
      .where(col("__k").isNotNull).distinct()
      .withColumn("__hit", lit(1))
    child.select(col(childKey).as("__k"))
      .join(p, Seq("__k"), "left")
      .agg(
        count(lit(1)).as("n_child"),
        coalesce(sum(when(col("__k").isNull, 1L)), lit(0L)).as("n_null"),
        coalesce(sum(when(col("__k").isNotNull && col("__hit").isNull, 1L)),
          lit(0L)).as("n_orphans"))
      .select(lit(name).as("relationship"), col("n_child"), col("n_null"),
        col("n_orphans"),
        round(col("n_orphans").cast("double") / col("n_child").cast("double"), 6)
          .as("orphan_rate"))
  }

  /** Candidate-key uniqueness audit — ONE map-side-combined groupBy to the
    * key-multiplicity cells, then a single conditional aggregate: total
    * rows, rows in NULL-key groups (excluded from the key census — a NULL
    * key is absent, not duplicated), distinct keys, duplicated keys, and
    * the worst multiplicity. Compose audits with unionByName. */
  def pkAudit(name: String, df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "pkAudit needs at least one key column")
    val cells = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    cells.agg(
        sum(col("c")).as("n_rows"),
        coalesce(sum(when(anyNull, col("c"))), lit(0L)).as("n_null"),
        count(when(!anyNull, 1)).as("n_keys"),
        coalesce(sum(when(!anyNull && col("c") > 1L, 1L)), lit(0L))
          .as("n_dup_keys"),
        coalesce(max(when(!anyNull, col("c"))), lit(0L))
          .as("max_multiplicity"))
      .select(lit(name).as("key"), col("n_rows"), col("n_null"),
        col("n_keys"), col("n_dup_keys"), col("max_multiplicity"))
  }
}
