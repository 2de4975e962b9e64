package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.ShardLookup

/** Multiple-testing FDR corrections (SURVEY §2.8 R3): Benjamini–Hochberg,
  * Storey, and SABHA (structure-adaptive BH) with the block-constant q̂
  * solver — a pure-Scala port of the reference's R implementation
  * (`Hypothesis testing R.r:20-305`: `Solve_q_block` :87-110, ADMM solver
  * :166-213, prox operators :218-285, `BH_method` :288-291, `Storey_method`
  * :293-298, `SABHA_method` :300-305). Driver-local math — p-value vectors
  * are one-per-hypothesis, tiny by construction.
  *
  * Deliberate fix vs the reference: R's `create_block_function` indexes a
  * character vector by value (`block_inds[i]` with `i` a string), which
  * silently no-ops for string block labels; this port implements the
  * *intended* projection (mean within each block).
  */
object FDR {

  /** ADMM hyper-parameters; defaults = the reference's fMRI set
    * (`Hypothesis testing R.r:413-415`). */
  final case class AdmmParams(alpha: Double = 1e2, beta: Double = 1e3,
      eta: Double = 2.0, maxIters: Int = 15000, convergeThr: Double = 1e-3)

  /** BH: indices (0-based) of rejected hypotheses at level alpha. */
  def benjaminiHochberg(pvals: Array[Double], alpha: Double): Set[Int] = {
    val n = pvals.length
    val sorted = pvals.sorted
    var khat = 0
    for (k <- 1 to n) if (sorted(k - 1) <= alpha * k / n) khat = k
    pvals.zipWithIndex.collect {
      case (p, i) if p <= alpha * khat / n => i
    }.toSet
  }

  /** Fully distributed BH + Storey ADJUSTED p-values over a DataFrame — the
    * scale path when hypotheses are rows (the driver-array protocols above
    * mirror the reference's R call shape; this handles hypothesis counts
    * that never fit a driver). Adds:
    *   - `bh_adj`: step-up adjusted p = min over j ≥ rank of (n·p_(j)/j), ≤1
    *     (running min from the largest p — min is order-independent, so the
    *     result is engine-reproducible);
    *   - `storey_pi0`: min(1, #{p > λ} / ((1−λ)·n));
    *   - `storey_adj`: min(1, π0 · bh_adj) (adaptive BH).
    * Rejection at level α = `bh_adj <= α` (equivalent to the classic step-up
    * rule). `tieBreak` makes the rank deterministic for equal p.
    *
    * Scale note: the global rank and running min are computed as a
    * range-partitioned two-phase pass, NOT a single global-window sort:
    * the rank is the exclusive prefix count in (p, tieBreak) order
    * ([[graft.ops.ShardLookup.exclusivePrefix]]), and the step-up suffix
    * min combines each shard's windowed suffix min with the min over all
    * later shards (driver-side over one row per shard). No stage is a
    * single-partition sort, and every value (rank, n·p/rank, the mins) is
    * bit-identical to the global-window form.
    *
    * EAGER: runs Spark jobs at call time (the prefix's pins and shard
    * totals, the later-shard min collect) — not a pure plan builder. The
    * returned frame reads the pinned range-sharded rows, so downstream
    * actions do not re-run the upstream pipeline. */
  def adjustDF(df: DataFrame, pCol: String, tieBreak: Column,
      lambda: Double = 0.5): DataFrame =
    adjustShardedGlobal(df, pCol, tieBreak, lambda)

  /** Per-FAMILY variant: each `familyCols` group is its own multiple-testing
    * family — rank, n, π0 and the running min are all computed within the
    * family partition, so the windows parallelize across families instead
    * of one global sort. This is the shape to use when the hypothesis count
    * itself is distributed-scale. */
  def adjustDFPerFamily(df: DataFrame, pCol: String, familyCols: Seq[String],
      tieBreak: Column, lambda: Double = 0.5): DataFrame = {
    require(familyCols.nonEmpty, "familyCols must be non-empty (use adjustDF for a single family)")
    adjustImpl(df, pCol, tieBreak, lambda, familyCols.map(col))
  }

  private def adjustImpl(df: DataFrame, pCol: String, tieBreak: Column,
      lambda: Double, family: Seq[Column]): DataFrame = {
    val rankW = Window.partitionBy(family: _*).orderBy(col(pCol).asc, tieBreak.asc)
    val descW = Window.partitionBy(family: _*).orderBy(col(pCol).desc, tieBreak.desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(family: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("__rk", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(allW))
      .withColumn("__gt", sum(when(col(pCol) > lambda, 1L).otherwise(0L)).over(allW))
      .withColumn("bh_adj",
        least(lit(1.0), min(col("__n") * col(pCol) / col("__rk")).over(descW)))
      .withColumn("storey_pi0",
        least(lit(1.0), col("__gt") / (lit(1 - lambda) * col("__n"))))
      .withColumn("storey_adj", least(lit(1.0), col("storey_pi0") * col("bh_adj")))
      .drop("__rk", "__n", "__gt")
  }

  /** Single-family [[adjustDF]] without the single-partition sort: the
    * global rank is the sharded exclusive prefix count + 1, and the BH
    * suffix min is least(per-shard windowed suffix min, min over all later
    * shards). Shards are contiguous (p, tieBreak) ranges, so both
    * decompositions are exact; n and #{p>λ} are the prefix's totals. Costs
    * one extra key-partitioned pass over the (per-hypothesis) rows vs the
    * windowed form — the price of no stage being a global sort. */
  private def adjustShardedGlobal(df: DataFrame, pCol: String,
      tieBreak: Column, lambda: Double): DataFrame = {
    val pref = ShardLookup.exclusivePrefix(
      df.withColumn("__one", lit(1L))
        .withColumn("__gt", when(col(pCol) > lambda, 1L).otherwise(0L)),
      Seq(col(pCol).asc, tieBreak.asc), Seq("__one" -> "__rk0", "__gt" -> "__gtc"))
    val (n, gt) = (pref.totals("__one"), pref.totals("__gt"))
    val suffW = Window.partitionBy(col(ShardLookup.ShardCol))
      .orderBy(col(pCol).desc, tieBreak.desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = pref.sharded
      .withColumn("__rk", col("__rk0") + 1L)
      .withColumn("__ratio", lit(n) * col(pCol) / col("__rk"))
      .drop("__one", "__gt", "__rk0", "__gtc")
    // min ratio over all LATER shards (every row there has a larger rank):
    // one row per shard, exclusive suffix min on the driver
    val laterMin: Map[Int, Double] = {
      var acc = Double.PositiveInfinity
      ranked.groupBy(col(ShardLookup.ShardCol)).agg(min(col("__ratio")).as("__m"))
        .collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) Double.PositiveInfinity
          else r.getDouble(1)))
        .sortBy(-_._1)
        .map { case (s, m) => val e = (s, acc); acc = math.min(acc, m); e }
        .toMap
    }
    ShardLookup
      .attachDouble(ranked, col(ShardLookup.ShardCol), laterMin, "__later",
        Double.PositiveInfinity)
      .withColumn("bh_adj",
        least(lit(1.0), least(min(col("__ratio")).over(suffW), col("__later"))))
      .drop("__later")
      .withColumn("storey_pi0",
        least(lit(1.0), lit(gt) / (lit(1 - lambda) * lit(n))))
      .withColumn("storey_adj", least(lit(1.0), col("storey_pi0") * col("bh_adj")))
      .drop(ShardLookup.ShardCol, "__rk", "__ratio")
  }

  /** Distributed SABHA select with the clamped feasible block projection:
    * q̂_b = clamp(mean over block b of (p>τ)/(1−τ), ε, 1), then the SABHA
    * step-up rule on q̂·p ([[sabha]]; `SABHA_method`, R :300-305). This is
    * the scale path of the SABHA family: the exact solver ([[solveQBlock]])
    * starts from the SAME block projection and only departs from it when the
    * projection is infeasible, in which case it runs driver-side ADMM — fine
    * for the reference's hypothesis counts, not for distributed-scale ones.
    * Clamping into [ε, 1] instead keeps everything closed-form: one
    * block-partitioned window for q̂ plus the global per-HYPOTHESIS rank
    * windows of [[adjustDF]] (one row per hypothesis, not per observation).
    *
    * Masked hypotheses (p > τ) carry q̂·p = 1e300 instead of the paper's +∞
    * (IEEE-total-order-safe in any engine, and no engine's α·k/n can reach
    * it), so they never reject — same semantics as [[sabha]].
    *
    * Adds `qhat`, `qp`, and `rejected` (0/1).
    *
    * EAGER: runs Spark jobs at call time (the prefix's pins and shard
    * counts, the step-up k̂); the returned frame reads the pinned
    * range-sharded rows. Not a pure plan builder. */
  def sabhaSelectDF(df: DataFrame, pCol: String, blockCol: String,
      tieBreak: Column, alpha: Double = 0.05, tau: Double = 0.5,
      eps: Double = 0.1): DataFrame = {
    val blockW = Window.partitionBy(col(blockCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withQ = df
      .withColumn("qhat",
        least(lit(1.0), greatest(lit(eps),
          avg(when(col(pCol) > tau, lit(1.0 / (1 - tau))).otherwise(lit(0.0)))
            .over(blockW))))
      .withColumn("qp",
        when(col(pCol) > tau, lit(1e300)).otherwise(col("qhat") * col(pCol)))
    // step-up rule without a global sort: the global rank is the sharded
    // exclusive prefix count + 1 and n its total; the step-up k̂ = max over
    // rows of (rk where qp ≤ α·rk/n) is one more aggregate of row-local
    // values. The final rejection test is row-local.
    val pref = ShardLookup.exclusivePrefix(withQ.withColumn("__one", lit(1L)),
      Seq(col("qp").asc, tieBreak.asc), Seq("__one" -> "__rk0"))
    val n = pref.totals("__one")
    val ranked = pref.df
      .withColumn("__rk", col("__rk0") + 1L)
      .drop("__one", "__rk0")
    val khat =
      if (n == 0L) 0L
      else {
        val r = ranked
          .select(max(when(col("qp") <= lit(alpha) * col("__rk") / lit(n), col("__rk"))
            .otherwise(0L)).as("__k"))
          .collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    ranked
      .withColumn("rejected",
        when(col("qp") <= lit(alpha) * lit(khat) / lit(n), 1).otherwise(0))
      .drop("__rk")
  }

  /** Storey's method with null-proportion estimate at threshold thr. */
  def storey(pvals: Array[Double], alpha: Double, thr: Double): Set[Int] = {
    val n = pvals.length
    val pi0 = math.min(1.0, pvals.count(_ > thr).toDouble / n / (1 - thr))
    val masked = pvals.map(p => if (p > thr) Double.PositiveInfinity else p)
    val sorted = masked.sorted
    var khat = 0
    for (k <- 1 to n) if (sorted(k - 1) <= alpha / pi0 * k / n) khat = k
    masked.zipWithIndex.collect {
      case (p, i) if p <= alpha / pi0 * khat / n => i
    }.toSet
  }

  /** SABHA rejection set given q̂ (`SABHA_method`, R :300-305). */
  def sabha(pvals: Array[Double], qhat: Array[Double], alpha: Double,
      tau: Double): Set[Int] = {
    val n = pvals.length
    val masked = pvals.map(p => if (p > tau) Double.PositiveInfinity else p)
    val qp = masked.zip(qhat).map { case (p, q) => q * p }
    val sorted = qp.sorted
    var khat = 0
    for (k <- 1 to n) if (sorted(k - 1) <= alpha * k / n) khat = k
    qp.zipWithIndex.collect { case (v, i) if v <= alpha * khat / n => i }.toSet
  }

  /** Block-constant q̂ (`Solve_q_block`, R :87-110): start from the block
    * projection of (P>τ)/(1-τ); if already within [eps, 1] use it, else run
    * ADMM with the block projection. */
  def solveQBlock(pvals: Array[Double], tau: Double, eps: Double,
      blocks: Array[Int], params: AdmmParams = AdmmParams()): Array[Double] = {
    val proj = blockProjection(blocks)
    val qInit = proj(pvals.map(p => if (p > tau) 1.0 / (1 - tau) else 0.0))
    if (qInit.forall(q => q >= eps && q <= 1.0)) qInit
    else admm(pvals, tau, eps, proj, params)
  }

  /** The reference's `myBH` driver (`Hypothesis testing R.r:408-428`):
    * SABHA with block q̂ at α=0.05, τ=0.5, ε=0.1; returns the labels of the
    * significant hypotheses. */
  def sabhaSelect(pvals: Array[Double], labels: Array[String],
      alpha: Double = 0.05, tau: Double = 0.5, eps: Double = 0.1,
      params: AdmmParams = AdmmParams()): Seq[String] = {
    val blockIds = labels.map(labels.distinct.sorted.indexOf(_))
    val qhat = solveQBlock(pvals, tau, eps, blockIds, params)
    sabha(pvals, qhat, alpha, tau).toSeq.sorted.map(labels)
  }

  /** TV-constrained q̂ (`Solve_q_TV`, R :133-142): SABHA with a total-
    * variation budget over an adjacency graph — the constraint is
    * Σ_edges |q[a] − q[b]| ≤ tvBound. Unlike block/ordered, the auxiliary
    * split variable lives in EDGE space (x = Mq with M the signed incidence
    * matrix), so this uses the general-M ADMM ([[admmEdges]]) with the
    * L1-ball projection (`create_L1_function`, R :144-160).
    *
    * Convergence requires η ≥ λmax(MᵀM); MᵀM is the graph Laplacian, whose
    * spectrum is bounded by 2·maxDegree (Gershgorin), so η is raised to
    * that bound when the caller's value is below it (the reference never
    * runs this path and ships η tuned for M = I). */
  def solveQTV(pvals: Array[Double], tau: Double, eps: Double,
      edges: Array[(Int, Int)], tvBound: Double,
      params: AdmmParams = AdmmParams()): Array[Double] = {
    require(tvBound >= 0, s"tvBound must be ≥0, got $tvBound")
    require(edges.forall { case (a, b) =>
      a >= 0 && a < pvals.length && b >= 0 && b < pvals.length && a != b },
      "edges must reference distinct in-range node indices")
    val deg = new Array[Int](pvals.length)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val etaSafe = math.max(params.eta, 2.0 * (if (deg.isEmpty) 1 else deg.max))
    admmEdges(pvals, tau, eps, edges, l1Projection(tvBound),
      params.copy(eta = etaSafe))
  }

  /** 1-d chain TV (`Solve_q_TV_1dim`, R :116-119): edges (i, i+1). */
  def solveQTV1d(pvals: Array[Double], tau: Double, eps: Double,
      tvBound: Double, params: AdmmParams = AdmmParams()): Array[Double] =
    solveQTV(pvals, tau, eps,
      Array.tabulate(math.max(0, pvals.length - 1))(i => (i, i + 1)),
      tvBound, params)

  /** 1-d chain TV projection, driver-side: project the chain's difference
    * vector d_i = y_{i+1} − y_i onto the L1 ball ‖d‖₁ ≤ tvBound (the same
    * water-filling [[l1Projection]] the TV-ADMM's x-step uses on chain
    * edges) and rebuild the values from the projected differences anchored
    * at y₀. The geometric core of [[solveQTV1d]]'s per-iteration edge step,
    * exposed so the distributed twin ([[tvChainProjectDF]]) has an exact
    * driver equivalent to verify against. */
  def tvChainProject(y: Array[Double], tvBound: Double): Array[Double] =
    if (y.length <= 1) y.clone()
    else {
      val d = Array.tabulate(y.length - 1)(i => y(i + 1) - y(i))
      val dp = l1Projection(tvBound)(d)
      val out = new Array[Double](y.length)
      out(0) = y(0)
      var i = 1
      while (i < y.length) { out(i) = out(i - 1) + dp(i - 1); i += 1 }
      out
    }

  /** Distributed 1-d chain TV projection — the scale path for the last
    * driver-only SABHA variant ([[solveQTV]]'s edge-space projection):
    * exactly [[tvChainProject]] as global-window DataFrame math, the
    * [[sabhaSelectDF]] pattern. One row per HYPOTHESIS (not observation),
    * so the global windows carry #hypotheses rows; shard by an outer
    * hypothesis-family column for independent chains, as with
    * [[sabhaSelectDF]].
    *
    * Windowed water-filling: rank edges by |d| descending (ties broken by
    * `chainOrder`, pinned so any engine replays identically), running
    * cumulative |d| in that order, water level θ from the largest feasible
    * rank, soft-threshold, then rebuild values as y₀ + running sum of
    * projected differences. The ball total ‖d‖₁ is taken as max(cum) — an
    * order-independent aggregate of the deterministic running sum, so no
    * engine-dependent FP summation order leaks into the ≤-ball test.
    *
    * Adds `<valCol>_tv`; `tvBound` must be > 0 (the water level is
    * undefined at radius 0 — callers wanting the zero ball can project
    * trivially). */
  def tvChainProjectDF(df: DataFrame, valCol: String,
      chainOrder: Seq[Column], tvBound: Double): DataFrame = {
    require(tvBound > 0, s"tvBound must be > 0, got $tvBound")
    val ordW = Window.orderBy(chainOrder: _*)
    val runW = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevW = ordW.rowsBetween(Window.unboundedPreceding, -1)
    val rankCols = col("__absd").desc_nulls_last +: chainOrder
    val rankW = Window.orderBy(rankCols: _*)
    val cumW = rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    df
      .withColumn("__d", lead(col(valCol), 1).over(ordW) - col(valCol))
      .withColumn("__absd", abs(col("__d")))
      .withColumn("__rk", row_number().over(rankW))
      .withColumn("__cum", sum(col("__absd")).over(cumW))
      .withColumn("__s", max(col("__cum")).over(allW))
      .withColumn("__xi", max(when(
        col("__absd") - (col("__cum") - lit(tvBound)) / col("__rk") > 0,
        col("__rk"))).over(allW))
      .withColumn("__theta", max(when(col("__rk") === col("__xi"),
        (col("__cum") - lit(tvBound)) / col("__rk"))).over(allW))
      .withColumn("__dproj",
        when(col("__s") <= tvBound, col("__d"))
          .otherwise(when(col("__absd") - col("__theta") > 0,
            (col("__absd") - col("__theta")) * signum(col("__d")))
            .otherwise(lit(0.0))))
      .withColumn(s"${valCol}_tv",
        first(col(valCol)).over(runW) +
          coalesce(sum(col("__dproj")).over(prevW), lit(0.0)))
      .drop("__d", "__absd", "__rk", "__cum", "__s", "__xi", "__theta", "__dproj")
  }

  /** [[tvChainProjectDF]] with the water-filling moved DRIVER-side: the
    * chain rows are hypothesis-sized (one per hypothesis, never per
    * observation), so after the upstream distributed aggregation they are a
    * bounded collect, and the sequential rank/cum/threshold/rebuild math —
    * inherently a chain recurrence — runs as plain Scala instead of four
    * single-partition global windows (each a straggler stage at scale).
    *
    * Every double operation replays the windowed twin's order EXACTLY
    * (sequential running cum in rank order, sequential dproj prefix in
    * chain order, the same feasibility test), so the two forms are
    * bit-identical — spec-pinned in StatsSpec, and the r14 oracle replays
    * the same arithmetic as windowed SQL. Output = input columns +
    * `<valCol>_tv`, in chain order. */
  def tvChainProjectDriver(df: DataFrame, valCol: String,
      chainOrder: Seq[Column], tvBound: Double,
      maxChainRows: Int = 1 << 21): DataFrame = {
    require(tvBound > 0, s"tvBound must be > 0, got $tvBound")
    val sorted = df.orderBy(chainOrder: _*)
    val rows = sorted.limit(maxChainRows + 1).collect()
    require(rows.length <= maxChainRows,
      s"tvChainProjectDriver: > $maxChainRows chain rows — this driver " +
        "variant is for hypothesis-sized chains; shard by a family column " +
        "or use tvChainProjectDF")
    val vIdx = sorted.schema.fieldIndex(valCol)
    val y = rows.map(r => r.getDouble(vIdx))
    val nRows = y.length
    val yTv = new Array[Double](nRows)
    if (nRows <= 1) { if (nRows == 1) yTv(0) = y(0) + 0.0 }
    else {
      val d = Array.tabulate(nRows - 1)(i => y(i + 1) - y(i))
      val absd = d.map(math.abs)
      // rank order: |d| desc, chain position asc (the windowed tie-break)
      val rankIdx = absd.indices.sortBy(i => (-absd(i), i))
      // sequential running cum in rank order — same association as the
      // running-frame window sum
      var acc = 0.0
      val cumAt = new Array[Double](nRows - 1) // by edge index
      rankIdx.foreach { i => acc += absd(i); cumAt(i) = acc }
      val s = acc // max of the running cum = its last value (absd ≥ 0)
      // θ at the LARGEST feasible rank (rank 1 is always feasible when
      // s > bound and bound > 0, so θ is always set on the infeasible path)
      var theta = 0.0
      rankIdx.zipWithIndex.foreach { case (i, r0) =>
        val rk = r0 + 1
        if (absd(i) - (cumAt(i) - tvBound) / rk > 0) theta = (cumAt(i) - tvBound) / rk
      }
      val dproj = d.indices.map { i =>
        if (s <= tvBound) d(i)
        else if (absd(i) - theta > 0) (absd(i) - theta) * math.signum(d(i))
        else 0.0
      }
      // sequential prefix in chain order, anchored at y0 — y0 + acc per row
      var run = 0.0
      var i = 0
      while (i < nRows) {
        yTv(i) = y(0) + run
        if (i < nRows - 1) run += dproj(i)
        i += 1
      }
    }
    val spark = df.sparkSession
    val outSchema = sorted.schema.add(s"${valCol}_tv",
      org.apache.spark.sql.types.DoubleType)
    val out = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ yTv(i)) }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
  }

  /** 2-d grid TV (`Solve_q_TV_2dim`, R :121-131): `pvals(i)(j)` is the
    * (row i, column j) entry of an n1×n2 matrix; horizontal + vertical
    * 4-neighbour edges. Returns q̂ flattened COLUMN-major (index i + j·n1),
    * matching R's `c(Pvals)` vectorization. */
  def solveQTV2d(pvals: Array[Array[Double]], tau: Double, eps: Double,
      tvBound: Double, params: AdmmParams = AdmmParams()): Array[Double] = {
    val n1 = pvals.length
    require(n1 > 0 && pvals.forall(_.length == pvals(0).length),
      "pvals must be a non-empty rectangular matrix")
    val n2 = pvals(0).length
    def ind(i: Int, j: Int) = i + j * n1
    val flat = Array.tabulate(n1 * n2)(k => pvals(k % n1)(k / n1))
    val horiz = for { i <- 0 until n1; j <- 0 until n2 - 1 }
      yield (ind(i, j), ind(i, j + 1))
    val vert = for { j <- 0 until n2; i <- 0 until n1 - 1 }
      yield (ind(i, j), ind(i + 1, j))
    solveQTV(flat, tau, eps, (horiz ++ vert).toArray, tvBound, params)
  }

  /** min{½||x−y||² : ||x||₁ ≤ bound} (`create_L1_function`, R :144-160):
    * soft-threshold at the water-filling level θ when outside the ball. */
  private[stats] def l1Projection(bound: Double)(y: Array[Double]): Array[Double] = {
    if (y.map(math.abs).sum <= bound) y
    else if (bound == 0.0) Array.fill(y.length)(0.0) // the water level θ is undefined at radius 0
    else {
      val mu = y.map(math.abs).sorted(Ordering[Double].reverse)
      val cum = mu.scanLeft(0.0)(_ + _).drop(1)
      var xi = 0
      var j = 0
      while (j < mu.length) {
        if (mu(j) - (cum(j) - bound) / (j + 1) > 0) xi = j + 1
        j += 1
      }
      val theta = (cum(xi - 1) - bound) / xi
      y.map { v =>
        val t = math.abs(v) - theta
        if (t > 0) t * math.signum(v) else 0.0
      }
    }
  }

  /** Ordered q̂ (`Solve_q_ordered`, R :32-37): ε ≤ q₁ ≤ … ≤ qₙ ≤ 1 — the
    * variant for hypotheses pre-sorted by prior likelihood of signal. Always
    * runs ADMM with the PAVA projection (the R original has no feasible-init
    * shortcut here, unlike `Solve_q_block`). */
  def solveQOrdered(pvals: Array[Double], tau: Double, eps: Double,
      params: AdmmParams = AdmmParams()): Array[Double] =
    admm(pvals, tau, eps, pava, params)

  /** min{½||x-y||² : x₁ ≤ … ≤ xₙ} — isotonic regression by pool-adjacent-
    * violators (`create_PAVA_alg_function`, R :39-77, Barlow et al. 1972).
    * Same block-merging recursion and 1e-8 merge tolerance as the R
    * original, in the O(n) stack formulation instead of R's repeated
    * whole-vector scans. */
  private[stats] def pava(y: Array[Double]): Array[Double] = {
    val thresh = 1e-8
    val n = y.length
    val sums = new Array[Double](n)
    val counts = new Array[Int](n)
    var top = -1
    var i = 0
    while (i < n) {
      top += 1; sums(top) = y(i); counts(top) = 1
      while (top > 0 &&
          sums(top - 1) / counts(top - 1) > sums(top) / counts(top) + thresh) {
        sums(top - 1) += sums(top); counts(top - 1) += counts(top); top -= 1
      }
      i += 1
    }
    val out = new Array[Double](n)
    var o = 0; var b = 0
    while (b <= top) {
      val m = sums(b) / counts(b)
      var k = 0
      while (k < counts(b)) { out(o) = m; o += 1; k += 1 }
      b += 1
    }
    out
  }

  /** min{½||x-y||² : x constant over blocks} → mean within each block. */
  private[stats] def blockProjection(blocks: Array[Int]): Array[Double] => Array[Double] =
    y => {
      val out = y.clone()
      blocks.distinct.foreach { b =>
        val idx = blocks.indices.filter(blocks(_) == b)
        val m = idx.map(y).sum / idx.size
        idx.foreach(out(_) = m)
      }
      out
    }

  /** ADMM solver (`Solve_q_ADMM`, R :166-213) specialized to M = I (the only
    * M the reference ever passes — `diag(length(Pvals))`, R :91,35): the
    * augmented terms with (ηI − MᵀM) reduce to (η−1)I. */
  private[stats] def admm(pvals: Array[Double], tau: Double, eps: Double,
      projection: Array[Double] => Array[Double], p: AdmmParams): Array[Double] = {
    val n = pvals.length
    val big = pvals.map(_ > tau)
    val gamma = n * (1 - tau)
    var q = Array.fill(n)(1.0)
    var y = Array.fill(n)(1.0)
    var v = Array.fill(n)(0.0)
    var u = Array.fill(n)(0.0)
    var x = Array.fill(n)(0.0)
    val ab = p.alpha * p.eta + p.beta

    def relDiff(a: Array[Double], b: Array[Double]): Double = {
      var num = 0.0; var den = 1.0
      var i = 0
      while (i < n) { val d = a(i) - b(i); num += d * d; den += b(i) * b(i); i += 1 }
      math.sqrt(num) / math.sqrt(den)
    }

    var iter = 0
    var stop = false
    while (!stop) {
      iter += 1
      val (q0, x0, y0, u0, v0) = (q, x, y, u, v)
      // q-update (R :255-267), M = I
      q = Array.tabulate(n) { i =>
        val w = -(u(i) + p.alpha * (q0(i) - x(i)) +
          (v(i) - p.beta * y(i) - p.alpha * p.eta * q0(i))) / ab
        val qi =
          if (big(i)) (w + math.sqrt(w * w + 4 / ab)) / 2
          else {
            val inv = 1 / (1 - tau)
            ((w + inv) - math.sqrt((w - inv) * (w - inv) + 4 / ab)) / 2
          }
        math.min(1.0, math.max(eps, qi))
      }
      // x-update: Proj_Mset(q + u/α)
      x = projection(Array.tabulate(n)(i => q(i) + u(i) / p.alpha))
      // y-update: q + v/β, with inverse-sum prox on the B indices
      y = Array.tabulate(n)(i => q(i) + v(i) / p.beta)
      val bIdx = big.indices.filter(big(_)).toArray
      if (bIdx.nonEmpty) {
        val proxed = inverseSumProx(bIdx.map(y), gamma)
        bIdx.zipWithIndex.foreach { case (bi, j) => y(bi) = proxed(j) }
      }
      // dual updates
      u = Array.tabulate(n)(i => u(i) + p.alpha * (q(i) - x(i)))
      v = Array.tabulate(n)(i => v(i) + p.beta * (q(i) - y(i)))
      val conv = Seq(relDiff(q, q0), relDiff(x, x0), relDiff(y, y0),
        relDiff(u, u0), relDiff(v, v0)).max
      if (conv <= p.convergeThr || iter >= p.maxIters) stop = true
    }
    q
  }

  /** General-M ADMM (`Solve_q_ADMM`, R :166-213) with M the signed edge
    * incidence matrix held sparsely as `edges`: row k of M has +1 at
    * `edges(k)._1` and −1 at `edges(k)._2`. The split variables x, u live in
    * edge space and `projection` acts there (the TV/L1 ball); everything
    * else — q/y/v updates, the inverse-sum prox on the masked hypotheses,
    * the 5-vector relative-diff convergence test — is the reference's
    * update order verbatim. [[admm]] stays as the specialized M = I path
    * (block/ordered projections), where MᵀM = I collapses the formulas. */
  private[stats] def admmEdges(pvals: Array[Double], tau: Double, eps: Double,
      edges: Array[(Int, Int)], projection: Array[Double] => Array[Double],
      p: AdmmParams): Array[Double] = {
    val n = pvals.length
    val ne = edges.length
    val big = pvals.map(_ > tau)
    val gamma = n * (1 - tau)
    var q = Array.fill(n)(1.0)
    var y = Array.fill(n)(1.0)
    var v = Array.fill(n)(0.0)
    var u = Array.fill(ne)(0.0)
    var x = Array.fill(ne)(0.0)
    val ab = p.alpha * p.eta + p.beta

    def mq(qv: Array[Double]): Array[Double] = {
      val out = new Array[Double](ne)
      var i = 0
      while (i < ne) { out(i) = qv(edges(i)._1) - qv(edges(i)._2); i += 1 }
      out
    }
    def mT(z: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      var i = 0
      while (i < ne) { out(edges(i)._1) += z(i); out(edges(i)._2) -= z(i); i += 1 }
      out
    }
    def relDiff(a: Array[Double], b: Array[Double]): Double = {
      var num = 0.0; var den = 1.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); num += d * d; den += b(i) * b(i); i += 1 }
      math.sqrt(num) / math.sqrt(den)
    }

    var iter = 0
    var stop = false
    while (!stop) {
      iter += 1
      val (q0, x0, y0, u0, v0) = (q, x, y, u, v)
      // q-update (R :249-262): w = −(Mᵀ(u + α(Mq₀ − x)) + v − βy − αηq₀)/ab
      val mq0 = mq(q0)
      val mtv = mT(Array.tabulate(ne)(i => u(i) + p.alpha * (mq0(i) - x(i))))
      q = Array.tabulate(n) { i =>
        val w = -(mtv(i) + (v(i) - p.beta * y(i) - p.alpha * p.eta * q0(i))) / ab
        val qi =
          if (big(i)) (w + math.sqrt(w * w + 4 / ab)) / 2
          else {
            val inv = 1 / (1 - tau)
            ((w + inv) - math.sqrt((w - inv) * (w - inv) + 4 / ab)) / 2
          }
        math.min(1.0, math.max(eps, qi))
      }
      // x-update: Proj(Mq + u/α) in edge space
      val mqn = mq(q)
      x = projection(Array.tabulate(ne)(i => mqn(i) + u(i) / p.alpha))
      // y-update: q + v/β with inverse-sum prox on the B indices
      y = Array.tabulate(n)(i => q(i) + v(i) / p.beta)
      val bIdx = big.indices.filter(big(_)).toArray
      if (bIdx.nonEmpty) {
        val proxed = inverseSumProx(bIdx.map(y), gamma)
        bIdx.zipWithIndex.foreach { case (bi, j) => y(bi) = proxed(j) }
      }
      // dual updates
      u = Array.tabulate(ne)(i => u(i) + p.alpha * (mqn(i) - x(i)))
      v = Array.tabulate(n)(i => v(i) + p.beta * (q(i) - y(i)))
      val conv = Seq(relDiff(q, q0), relDiff(x, x0), relDiff(y, y0),
        relDiff(u, u0), relDiff(v, v0)).max
      if (conv <= p.convergeThr || iter >= p.maxIters) stop = true
    }
    q
  }

  /** min{½||x-y||² : x_i > 0, Σ 1/x_i ≤ bound} (`inverse_sum_prox`,
    * R :218-246): clamp to ≥0; if feasible return y, else solve the
    * elementwise cubic x³ − x²y = λ with λ chosen by bisection so the
    * constraint is tight. */
  private[stats] def inverseSumProx(yIn: Array[Double], bound: Double): Array[Double] = {
    val y = yIn.map(math.max(0.0, _))
    if (y.map(v => 1 / v).sum <= bound) y
    else {
      def cuberoot(c: Double): Array[Double] = y.map { yi =>
        val e = math.exp(c)
        val y3 = yi / 3
        val disc = math.sqrt(e * y3 * y3 * y3 + e * e / 4)
        val t1 = y3 * y3 * y3 + e / 2 + disc
        val t2 = y3 * y3 * y3 + e / 2 - disc
        math.signum(t1) * math.pow(math.abs(t1), 1.0 / 3) +
          math.signum(t2) * math.pow(math.abs(t2), 1.0 / 3) + y3
      }
      def f(c: Double): Double = cuberoot(c).map(v => 1 / v).sum - bound
      // uniroot on [-100, 100] (R :244)
      var lo = -100.0; var hi = 100.0
      var flo = f(lo)
      var i = 0
      while (hi - lo > 1e-10 && i < 200) {
        val mid = (lo + hi) / 2
        val fm = f(mid)
        if ((fm <= 0) == (flo <= 0)) { lo = mid; flo = fm } else hi = mid
        i += 1
      }
      cuberoot((lo + hi) / 2)
    }
  }
}
