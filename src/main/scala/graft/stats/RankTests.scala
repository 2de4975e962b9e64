package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.ShardLookup

/** Distributed two-sample RANK statistics (NOT-IN-REFERENCE extension of
  * the §2.8 hypothesis-testing family — the nonparametric siblings of the
  * reference's permutation/Fisher tests, at corpus scale).
  *
  * Both tests reduce the data to VALUE-LEVEL counts first (one map-side-
  * combined groupBy — the only corpus-sized shuffle), then need cumulative
  * counts in value order. That prefix sum is the classic global-sort trap;
  * here it is [[graft.ops.ShardLookup.exclusivePrefix]]. Everything
  * cumulative is INTEGER arithmetic — exactly decomposable across shards,
  * no FP-association drift — and each statistic leaves integers only in
  * the final closed-form expression, so a relational replay reproduces it
  * bit-for-bit.
  */
object RankTests {

  /** Value-level counts: one row per distinct value with group-A and
    * group-B multiplicities `na`/`nb` and their exclusive prefixes
    * `cuma`/`cumb` (rows strictly below `v`). `isA` must be boolean; NULL
    * values and NULL group flags drop (SQL two-sample semantics:
    * membership unknown → excluded). */
  private def valueCounts(df: DataFrame, valueCol: String, isA: Column): ShardLookup.Prefix =
    ShardLookup.exclusivePrefix(
      df.where(col(valueCol).isNotNull && isA.isNotNull)
        .select(col(valueCol).cast("double").as("v"),
          when(isA, 1L).otherwise(0L).as("g"))
        .groupBy(col("v"))
        .agg(sum(col("g")).as("na"), (count(lit(1)) - sum(col("g"))).as("nb")),
      Seq(col("v")), Seq("na" -> "cuma", "nb" -> "cumb"))

  /** Tie-corrected Mann–Whitney U (normal approximation, no continuity
    * correction — R's `wilcox.test(correct = FALSE)` convention): one row
    * `(n_a, n_b, u2, tie_term, z)` where `u2` = 2·U_A exactly (U_A counts
    * B-below-A pairs with ties at ½, so doubling keeps it integral) and
    * `tie_term` = Σ(t³−t) over tied values. All four are exact LONGs;
    * `z` is the one double, produced by a fixed left-to-right expression
    * over them so a replay evaluates bit-identically. */
  def mannWhitneyDF(df: DataFrame, valueCol: String, isA: Column): DataFrame = {
    val agg = valueCounts(df, valueCol, isA).df.agg(
      sum(col("na")).as("n_a"),
      sum(col("nb")).as("n_b"),
      sum(col("na") * (lit(2L) * col("cumb") + col("nb"))).as("u2"),
      sum((col("na") + col("nb")) * (col("na") + col("nb")) *
        (col("na") + col("nb")) - (col("na") + col("nb"))).as("tie_term"))
    agg.select(col("n_a"), col("n_b"), col("u2"), col("tie_term"),
      zExpr(col("n_a"), col("n_b"), col("u2"), col("tie_term")).as("z"))
  }

  /** The closed-form z as ONE fixed expression tree (shared shape with the
    * SQL replay): ((u2/2 − na·nb/2) / sqrt(na·nb·((N+1) − T/(N·(N−1)))/12)). */
  private def zExpr(na: Column, nb: Column, u2: Column, t: Column): Column = {
    val n = (na + nb).cast("double")
    (u2.cast("double") / lit(2.0) - na.cast("double") * nb.cast("double") / lit(2.0)) /
      sqrt(na.cast("double") * nb.cast("double") *
        ((n + lit(1.0)) - t.cast("double") / (n * (n - lit(1.0)))) / lit(12.0))
  }

  /** Brunner–Munzel test — the two-sample rank test that stays valid when
    * the groups have DIFFERENT variances/shapes (where [[mannWhitneyDF]]'s
    * null requires equal distributions beyond location; BM is the
    * recommended replacement in the biostat literature). Estimates
    * `p̂ = P(A < B) + ½P(A = B)` with a studentized statistic and
    * Satterthwaite df.
    *
    * Exactness: the corpus reduces to the same value-level count frame +
    * sharded exclusive prefixes as MW, and every rank moment is INTEGER:
    * with DOUBLED midranks, a group-A row at value v has doubled global
    * midrank `2(cuma+cumb) + (na+nb) + 1` and doubled placement
    * (global − within-group) `2·cumb + nb` — constants per cell, so the
    * group sums Σr, Σd, Σd² fold in ONE aggregate (ALL of them ride
    * DECIMAL(38,0): Σd² ≤ 4N³ overflows LONG at ~10⁶ rows and the
    * linear Σr/Σd sums ≤ 2N² wrap silently past ~2·10⁹ rows). The
    * statistic/df/p̂ are fixed double trees over eight exact sums —
    * bit-replayable.
    *
    * One row `(n_a, n_b, p_hat, w_bm, df)`: `w_bm` positive when B is
    * stochastically LARGER; `df` is the Satterthwaite approximation
    * (compare |w_bm| to a t critical at that df). Degenerate one-group
    * input yields NULLs (division by zero group size). */
  def brunnerMunzelDF(df: DataFrame, valueCol: String, isA: Column): DataFrame = {
    val d2a = lit(2L) * col("cumb") + col("nb")
    val d2b = lit(2L) * col("cuma") + col("na")
    val r2 = lit(2L) * (col("cuma") + col("cumb")) +
      (col("na") + col("nb")) + lit(1L)
    val agg = valueCounts(df, valueCol, isA).df.agg(
      sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
      sum(col("na").cast("decimal(38,0)") * r2).as("sr2a"),
      sum(col("nb").cast("decimal(38,0)") * r2).as("sr2b"),
      sum(col("na").cast("decimal(38,0)") * d2a).as("s2a"),
      sum(col("nb").cast("decimal(38,0)") * d2b).as("s2b"),
      sum(col("na").cast("decimal(38,0)") * d2a * d2a).as("q4a0"),
      sum(col("nb").cast("decimal(38,0)") * d2b * d2b).as("q4b0"))
    val n1 = col("n_a").cast("double"); val n2 = col("n_b").cast("double")
    val m2a = col("sr2a").cast("double") / n1
    val m2b = col("sr2b").cast("double") / n2
    val c1 = (m2a - (n1 + lit(1.0))) / lit(2.0)
    val c2 = (m2b - (n2 + lit(1.0))) / lit(2.0)
    val v1 = (col("q4a0").cast("double") / lit(4.0) -
      c1 * col("s2a").cast("double") + n1 * c1 * c1) / (n1 - lit(1.0))
    val v2 = (col("q4b0").cast("double") / lit(4.0) -
      c2 * col("s2b").cast("double") + n2 * c2 * c2) / (n2 - lit(1.0))
    val pooled = n1 * v1 + n2 * v2
    val w = n1 * n2 * ((m2b - m2a) / lit(2.0)) / (n1 + n2) / sqrt(pooled)
    val dfree = pooled * pooled /
      ((n1 * v1) * (n1 * v1) / (n1 - lit(1.0)) +
        (n2 * v2) * (n2 * v2) / (n2 - lit(1.0)))
    val phat = ((m2b - (n2 + lit(1.0))) / lit(2.0)) / n1
    agg.select(col("n_a"), col("n_b"),
      round(phat, 6).as("p_hat"), round(w, 6).as("w_bm"),
      round(dfree, 4).as("df"))
  }

  /** Kruskal–Wallis H (the k-group generalization of [[mannWhitneyDF]]):
    * one row per group, ordered by group key, carrying the group's size
    * `n_g` and DOUBLED rank sum `r2sum` (ties at average rank make every
    * doubled rank an integer: a tied block of size t at exclusive prefix
    * c contributes 2c + t + 1 per member) — both exact LONGs — plus the
    * statistic as a RUNNING chain `h_running` in group order (the r19
    * fixed-chain doctrine: the k-term double sum re-associates nowhere),
    * with the tie-corrected variant `h_corr_running` alongside. The LAST
    * row's running values are H and H/(1 − ΣT/(N³−N)).
    *
    * Plan: corpus → (value, group) cells in one map-side-combined groupBy,
    * value-level totals, the sharded exclusive prefix over values, a
    * value-level equi-join back to the cells, then a k-row group frame.
    * The only k-sized window is the deliberate dimension-sized running
    * chain (the w2/r19 whitelist family). */
  def kruskalWallisDF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    // vc feeds the per-value totals AND the per-group rank join — pin it
    // so the corpus groupBy runs once; the tie totals read the pinned
    // sharded frame, never `tot`
    val vc = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        col(groupCol).cast("string").as("grp"))
      .groupBy(col("v"), col("grp")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = vc.groupBy(col("v")).agg(sum(col("c")).as("t"))
    val pref = ShardLookup.exclusivePrefix(tot, Seq(col("v")), Seq("t" -> "cum"))
    val perGroup = vc.join(pref.df, "v")
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c") * (lit(2L) * col("cum") + col("t") + lit(1L))).as("r2sum"))
    val nTot = pref.totals("t")
    // 0 on an input with no usable rows (the sum over no values is NULL),
    // whose result is then the empty group frame
    val tieTerm = pref.df.agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L)))
      .head().getLong(0)
    val nD = lit(nTot.toDouble)
    // Σ R_g²/n_g with R_g = r2sum/2, accumulated left-to-right in grp order
    val runW = Window.partitionBy().orderBy(col("grp").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val term = (col("r2sum").cast("double") / lit(2.0)) *
      (col("r2sum").cast("double") / lit(2.0)) / col("n_g").cast("double")
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * sum(term).over(runW) -
      lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - lit(tieTerm.toDouble) / (nD * nD * nD - nD)
    perGroup
      .select(col("grp"), col("n_g"), col("r2sum"),
        lit(nTot).as("n"), lit(tieTerm).as("tie_term"),
        round(h, 6).as("h_running"),
        round(h / corr, 6).as("h_corr_running"))
      .orderBy(col("grp"))
  }

  /** Spearman rank correlation, EXACT up to one closed-form expression:
    * both columns map to DOUBLED average ranks (integers, as in
    * [[kruskalWallisDF]]) via value-level counts + the sharded prefix
    * sum; the five power sums over the doubled ranks accumulate as
    * DECIMAL(38,0) (order-independent integer arithmetic — the q6
    * exact-moments doctrine), and ρ is one fixed Pearson expression over
    * them. One row `(n, sdx, sdy, sdxy, sdx2, sdy2, rho)`; the sums are
    * emitted as doubles (an exact-integer → double conversion both
    * engines round identically).
    *
    * Plan: two value-level rank maps (each: one groupBy + prefix sum),
    * two row-level equi-joins on the value, one map-side-combined global
    * aggregate. No global sort, no corpus-sized window. */
  def spearmanDF(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // base feeds THREE consumers (both rank-map groupBys and the row-level
    // join) — pin the 2-column projection so the corpus scan runs once
    // (guide §2.4). A value-PAIR cell collapse was tried instead (r13) and
    // measured SLOWER: (x, y) is near-unique here, so the extra corpus-
    // sized groupBy + materialization bought nothing.
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .localCheckpoint()
    def rankMap(c: String): DataFrame = {
      val tot = base.select(col(c).as("v")).groupBy(col("v"))
        .agg(count(lit(1)).as("t"))
      ShardLookup.exclusivePrefix(tot, Seq(col("v")), Seq("t" -> "cum")).df
        .select(col("v").as(c),
          (lit(2L) * col("cum") + col("t") + lit(1L)).as(s"d$c"))
    }
    val dec = "decimal(18,0)"
    // the two rank maps are independent eager protocols (each runs the
    // sharded-prefix machinery: two pins + a shard-totals collect) over
    // the SAME pinned base — overlap them as concurrent jobs
    // (guide §2.6; bit-identical, see Tables.concurrently)
    val Seq(rmx, rmy) = graft.Tables.concurrently(
      Seq(() => rankMap("x"), () => rankMap("y")))
    val joined = base.join(rmx, "x").join(rmy, "y")
      .select(col("dx").cast(dec).as("dx"), col("dy").cast(dec).as("dy"))
    val agg = joined.agg(count(lit(1)).as("n"),
      sum(col("dx")).as("sdx0"), sum(col("dy")).as("sdy0"),
      sum(col("dx") * col("dy")).as("sdxy0"),
      sum(col("dx") * col("dx")).as("sdx20"),
      sum(col("dy") * col("dy")).as("sdy20"))
    val n = col("n").cast("double")
    val sdx = col("sdx0").cast("double"); val sdy = col("sdy0").cast("double")
    val sdxy = col("sdxy0").cast("double")
    val sdx2 = col("sdx20").cast("double"); val sdy2 = col("sdy20").cast("double")
    agg.select(col("n"), sdx.as("sdx"), sdy.as("sdy"), sdxy.as("sdxy"),
      sdx2.as("sdx2"), sdy2.as("sdy2"),
      round((n * sdxy - sdx * sdy) /
        sqrt((n * sdx2 - sdx * sdx) * (n * sdy2 - sdy * sdy)), 6).as("rho"))
  }

  /** Wilcoxon signed-rank test for PAIRED samples (the within-subject
    * sibling of [[mannWhitneyDF]] — R's `wilcox.test(x, y, paired = TRUE,
    * correct = FALSE)` convention): zero differences drop, |d| ranks with
    * average ties via the same value-level sharded prefix, and the test
    * reduces to three exact LONGs — `n` (non-zero pairs), `w2plus`
    * (= 2·W⁺: the doubled positive-rank sum, integral under average-tie
    * doubling), `tie_term` (Σ t³−t over tied |d| blocks) — plus the one
    * closed-form z: `(W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − T/48)`,
    * a fixed expression tree a replay reproduces bit-for-bit.
    *
    * Plan: pair diffs row-level, one map-side-combined groupBy to |d|
    * value counts, the sharded exclusive prefix, one global aggregate. */
  def signedRankDF(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val diffs = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(xCol).cast("double") - col(yCol).cast("double")).as("dd"))
      .where(col("dd") =!= 0.0)
      .select(abs(col("dd")).as("v"), when(col("dd") > 0.0, 1L).otherwise(0L).as("p"))
    val vc = diffs.groupBy(col("v"))
      .agg(count(lit(1)).as("t"), sum(col("p")).as("pos"))
    val agg = ShardLookup.exclusivePrefix(vc, Seq(col("v")), Seq("t" -> "cum")).df.agg(
      sum(col("t")).as("n"),
      sum(col("pos") * (lit(2L) * col("cum") + col("t") + lit(1L))).as("w2plus"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))
    val n = col("n").cast("double")
    val z = (col("w2plus").cast("double") / lit(2.0) -
        n * (n + lit(1.0)) / lit(4.0)) /
      sqrt(n * (n + lit(1.0)) * (lit(2.0) * n + lit(1.0)) / lit(24.0) -
        col("tie_term").cast("double") / lit(48.0))
    agg.select(col("n"), col("w2plus"), col("tie_term"), round(z, 6).as("z"))
  }

  /** Friedman test for k REPEATED measures over blocks (the within-subject
    * sibling of [[kruskalWallisDF]]): each block ranks its own k treatment
    * values (average ties → integer DOUBLED ranks via two PARTITIONED
    * windows — count-below and count-equal within the block; no global
    * window, no corpus sort), treatments reduce to their doubled rank sums
    * `r2sum`, and the statistic rides the k-row treatment frame as a
    * RUNNING chain (the r20 shape): the LAST row's `chi2_running` /
    * `chi2_corr_running` are Friedman's χ² and its tie-corrected variant
    * `χ² / (1 − ΣT/(n·k·(k²−1)))`. Blocks must be complete (exactly the
    * same k treatments each) — incomplete blocks are the caller's filter.
    * `valueCol` must be integral (the RANGE frame needs an integer order
    * key); scale fractional values first. */
  def friedmanDF(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    // base feeds three eager jobs (tie term, distinct-block count) plus
    // the rank pipeline — pin it so the upstream runs once
    val base = df.where(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).as("blk"), col(treatmentCol).cast("string").as("trt"),
        col(valueCol).cast("long").as("v"))
      .localCheckpoint()
    val below = Window.partitionBy(col("blk")).orderBy(col("v").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val eq = Window.partitionBy(col("blk"), col("v"))
    val ranked = base
      .withColumn("__r2", lit(2L) * count(lit(1)).over(below) +
        count(lit(1)).over(eq) + lit(1L))
    // per-block tie term: Σ(t³−t) over tied values, summed over blocks —
    // value-cell counts then one global integer aggregate (0 when no row
    // is usable; the result is then the empty treatment frame)
    val tieTerm = base.groupBy(col("blk"), col("v")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L))).head().getLong(0)
    // k-row frame, pinned: its count() and the output select must not
    // re-run the rank windows
    val perTrt = ranked.groupBy(col("trt"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__r2")).as("r2sum"))
      .localCheckpoint()
    val nBlocks = base.agg(countDistinct(col("blk"))).head().getLong(0)
    val k = perTrt.count()
    val nD = lit(nBlocks.toDouble); val kD = lit(k.toDouble)
    val runW = Window.partitionBy().orderBy(col("trt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // k-row treatment frame: the deliberate dimension-sized running chain
    val term = (col("r2sum").cast("double") / lit(2.0)) *
      (col("r2sum").cast("double") / lit(2.0))
    val chi2 = lit(12.0) / (nD * kD * (kD + lit(1.0))) * sum(term).over(runW) -
      lit(3.0) * nD * (kD + lit(1.0))
    val corr = lit(1.0) -
      lit(tieTerm.toDouble) / (nD * kD * (kD * kD - lit(1.0)))
    perTrt
      .select(col("trt"), col("n_blocks"), col("r2sum"),
        lit(nBlocks).as("n"), lit(k).as("k"), lit(tieTerm).as("tie_term"),
        round(chi2, 6).as("chi2_running"),
        round(chi2 / corr, 6).as("chi2_corr_running"))
      .orderBy(col("trt"))
  }

  /** Two-sample Kolmogorov–Smirnov D, EXACT: the max over values of
    * |ECDF_A − ECDF_B| returned as the integer numerator over the common
    * denominator n_a·n_b — `D = d_num / (n_a·n_b)` with no float in the
    * extremum search, so the statistic hash-replays exactly. One row
    * `(n_a, n_b, d_num, d)`. */
  def ksDF(df: DataFrame, valueCol: String, isA: Column): DataFrame = {
    val pref = valueCounts(df, valueCol, isA)
    // the cross-multiplied extremum inlines the totals as literals
    val (nA, nB) = (pref.totals("na"), pref.totals("nb"))
    // inclusive cumulatives at each value: exclusive prefix + own count
    pref.df
      .withColumn("__ia", col("cuma") + col("na"))
      .withColumn("__ib", col("cumb") + col("nb"))
      .agg(max(abs(col("__ia") * lit(nB) - col("__ib") * lit(nA))).as("d_num"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("d_num"),
        (col("d_num").cast("double") / lit((nA * nB).toDouble)).as("d"))
  }

  /** Kendall's τ-b — the rank-correlation sibling of [[spearmanDF]] that
    * counts concordant/discordant PAIRS, with the standard tie
    * correction. For discrete/binned inputs (the r19 cell-frame
    * doctrine) the corpus reduces to (x, y) cells in ONE groupBy and the
    * pair census becomes a DIMENSION-SIZED cell self-join:
    * `C = Σ o₁·o₂ [x₂>x₁ ∧ y₂>y₁]`, `D = Σ o₁·o₂ [x₂>x₁ ∧ y₂<y₁]` —
    * never an O(n²) row join. Tie terms come from the margins:
    * `n1 = Σ_x t_x(t_x−1)/2`, `n2 = Σ_y`, `n0 = n(n−1)/2`, and
    * `τ_b = (C−D) / √((n0−n1)·(n0−n2))` is ONE double tree over exact
    * DECIMAL integers. Output: one row
    * `(n, n_cells, conc, disc, tau_b)`. NULLs drop. */
  def kendallTauDF(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .agg(count(lit(1)).as("o"))
    val pairs = cells.alias("a").join(cells.alias("b"),
      col("b.x") > col("a.x"))
    val cd = pairs.agg(
      coalesce(sum(when(col("b.y") > col("a.y"),
        col("a.o").cast("decimal(19,0)") * col("b.o"))),
        lit(0).cast("decimal(38,0)")).as("conc"),
      coalesce(sum(when(col("b.y") < col("a.y"),
        col("a.o").cast("decimal(19,0)") * col("b.o"))),
        lit(0).cast("decimal(38,0)")).as("disc"))
    // tie masses kept UNDIVIDED (t(t−1) sums — exact integers); the /2s
    // happen once inside the final double tree
    val tx = cells.groupBy(col("x")).agg(sum(col("o")).as("t"))
      .agg(sum(col("t").cast("decimal(38,0)") * (col("t") - 1)).as("s1"))
    val ty = cells.groupBy(col("y")).agg(sum(col("o")).as("t"))
      .agg(sum(col("t").cast("decimal(38,0)") * (col("t") - 1)).as("s2"))
    val nRow = cells.agg(sum(col("o")).as("n"), count(lit(1)).as("n_cells"))
    val nd = col("n").cast("double")
    val n0 = nd * (nd - lit(1.0)) / lit(2.0)
    nRow.crossJoin(cd).crossJoin(tx).crossJoin(ty)
      .select(col("n"), col("n_cells"), col("conc").cast("long").as("conc"),
        col("disc").cast("long").as("disc"),
        round((col("conc").cast("double") - col("disc").cast("double")) /
          sqrt((n0 - col("s1").cast("double") / lit(2.0)) *
            (n0 - col("s2").cast("double") / lit(2.0))), 6).as("tau_b"))
  }

  /** Theil–Sen robust slope — the median of all pairwise slopes, the
    * rank-based sibling of OLS (breakdown point 29%, no moment
    * assumptions). Same doctrine as [[kendallTauDF]]: the corpus reduces
    * to the DIMENSION-SIZED (x, y) cell frame in ONE groupBy, the pair
    * census runs over cells (weight = o_a·o_b — never an O(n²) row join),
    * and the weighted median of the ≤ |cells|²/2 distinct slopes comes
    * off the sharded exclusive-prefix cumsum (no global sort).
    *
    * Exactness: each slope is ONE double division of exact cell values
    * (correctly rounded → identical in any engine); pair weights are
    * LONGs; the interpolating weighted median `(v@⌈W/2⌉ + v@⌈(W+1)/2⌉)/2`
    * adds two identical doubles and halves exactly. Pairs with equal x
    * are skipped (vertical slopes), the standard Sen convention. */
  def theilSenDF(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // three consumers (both self-join sides, the n total) — pin the tiny
    // (x, y)-cell frame so the corpus groupBy runs once
    val cells = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val slopes = cells.alias("a").join(cells.alias("b"),
        col("b.x") > col("a.x"))
      .select(((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))).as("v"),
        (col("a.o") * col("b.o")).as("w"))
      .groupBy(col("v")).agg(sum(col("w")).as("w"))
    val pref = ShardLookup.exclusivePrefix(slopes, Seq(col("v")), Seq("w" -> "cumw"))
    val tw = pref.totals("w")
    val nRow = cells.agg(sum(col("o")).as("n"))
    pref.df
      .withColumn("ci", col("cumw") + col("w"))
      .groupBy(lit(tw).as("n_pairs"))
      .agg(
        min(when(col("ci") >= lit((tw + 1) / 2), col("v"))).as("m1"),
        min(when(col("ci") >= lit((tw + 2) / 2), col("v"))).as("m2"))
      .crossJoin(nRow)
      .select(col("n"), col("n_pairs"),
        ((col("m1") + col("m2")) / lit(2.0)).as("slope_med"))
  }

  /** Wald–Wolfowitz runs test per key — randomness-of-sequence check over
    * a keyed value stream: flag each observation above/below its key's
    * interpolating median (median ties DROP, the standard convention),
    * count sign runs in time order, and z-score the count against the
    * exact run-count moments.
    *
    * Exactness: the median comes off the per-key value-cell cumsum in
    * DOUBLED-cent units (the q18 machinery — pure LONG); flags, run
    * boundaries and the (n₁, n₂, R) triple are integers; z is ONE fixed
    * double tree `(R − μ)/σ` with `μ = 1 + 2n₁n₂/N`,
    * `σ² = 2n₁n₂(2n₁n₂ − N)/(N²(N−1))`, NULL when degenerate (n₁ or n₂
    * zero, or σ² ≤ 0).
    *
    * Plan: ONE corpus groupBy to cells, PARTITIONED cumsum windows for
    * the medians, the k-row median frame joined back to the rows, one
    * PARTITIONED lag window in (ts, tie) order, one keyed aggregate —
    * nothing global, corpus shuffles twice (cells + sequence). */
  def runsTestDF(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val base = df.where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"), col(tsCol).as("ts"),
        col(tieCol).as("tie"),
        (col(valueCol).cast("decimal(12,2)") * 200).cast("long").as("v2"))
    val cells = base.groupBy(col("key"), col("v2")).agg(count(lit(1)).as("c"))
    val cw = Window.partitionBy(col("key")).orderBy(col("v2").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nw = Window.partitionBy(col("key"))
    val med = cells
      .withColumn("ci", sum(col("c")).over(cw))
      .withColumn("n", sum(col("c")).over(nw))
      .withColumn("m1", when(col("ci") >= expr("(n + 1) DIV 2"), col("v2")))
      .withColumn("m2", when(col("ci") >= expr("(n + 2) DIV 2"), col("v2")))
      .groupBy(col("key"))
      .agg(((min(col("m1")) + min(col("m2"))) / lit(2)).cast("long").as("med"))
    val sw = Window.partitionBy(col("key"))
      .orderBy(col("ts").asc, col("tie").asc)
    val flagged = base.join(med, "key")
      .where(col("v2") =!= col("med"))
      .withColumn("above", (col("v2") > col("med")).cast("long"))
      .withColumn("brk",
        when(lag(col("above"), 1).over(sw).isNull ||
          lag(col("above"), 1).over(sw) =!= col("above"), 1L).otherwise(0L))
    val agg = flagged.groupBy(col("key")).agg(
      sum(col("above")).as("n_above"),
      (count(lit(1)) - sum(col("above"))).as("n_below"),
      sum(col("brk")).as("runs"))
    val n1 = col("n_above").cast("double"); val n2 = col("n_below").cast("double")
    val nn = n1 + n2
    val mu = lit(1.0) + lit(2.0) * n1 * n2 / nn
    val s2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - lit(1.0)))
    agg.select(col("key"), col("n_above"), col("n_below"), col("runs"),
        when(col("n_above") > 0L && col("n_below") > 0L && s2 > lit(0.0),
          round((col("runs").cast("double") - mu) / sqrt(s2), 6)).as("z"))
      .orderBy(col("key"))
  }

  /** One-sample Kolmogorov–Smirnov against the UNIFORM law on the
    * observed [lo, hi] — is the column's mass evenly spread over its own
    * range? (The one-sample sibling of [[ksDF]]; a generator/price-grid
    * audit.) One row `(n, lo, hi, d_num, d, at_v)`; degenerate
    * single-value columns yield a NULL `d`.
    *
    * FULLY integer supremum: at each distinct cent value v the two
    * one-sided gaps are `|cum·span − n·(v−lo)|` and
    * `|cumex·span − n·(v−lo)|` (the jump's right and left limits), so the
    * argmax (ties → smallest v) is exact LONG arithmetic and the ONE
    * division `D = d_num/(n·span)` happens on the winning row. Sharded
    * exclusive prefix for cum, 1-row (n, lo, hi) broadcast,
    * TakeOrdered(1). */
  def ksUniformDF(df: DataFrame, valueCol: String): DataFrame = {
    val base = df.where(col(valueCol).isNotNull)
      .select((col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("vc"))
    val cells = graft.Tables.spreadForGroupBy(base, col("vc"))
      .groupBy(col("vc").as("v")).agg(count(lit(1)).as("c"))
    val pref = ShardLookup.exclusivePrefix(cells, Seq(col("v")), Seq("c" -> "cumex"))
    // extrema off the PINNED sharded frame — the corpus groupBy must not
    // re-run (the r63/m17 doctrine)
    val tot = pref.df.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("n", lit(pref.totals("c")))
    val scored = pref.df.crossJoin(broadcast(tot))
      .withColumn("ci", col("cumex") + col("c"))
      .withColumn("span", col("hi") - col("lo"))
      .withColumn("f0num", col("v") - col("lo"))
      .withColumn("d1", abs(col("ci") * col("span") - col("n") * col("f0num")))
      .withColumn("d2", abs(col("cumex") * col("span") - col("n") * col("f0num")))
      .withColumn("dmax", greatest(col("d1"), col("d2")))
    scored.orderBy(col("dmax").desc, col("v").asc).limit(1)
      .select(col("n"),
        round(col("lo").cast("double") / lit(100.0), 2).as("lo"),
        round(col("hi").cast("double") / lit(100.0), 2).as("hi"),
        col("dmax").as("d_num"),
        when(col("span") > 0L,
          round(col("dmax").cast("double") /
            (col("n") * col("span")).cast("double"), 6)).as("d"),
        round(col("v").cast("double") / lit(100.0), 2).as("at_v"))
  }

  /** Mood's median test — do the k groups share a common median? The
    * rank-free, outlier-immune sibling of Kruskal–Wallis: each row is
    * classified above / at-or-below the GLOBAL exact median and the 2×k
    * table goes through Pearson χ² (here via [[ChiSquare.cramersVDF]],
    * which also yields the effect size). One row
    * `(median_v, n, r, c, chi2, v)`.
    *
    * Exactness: values land in DOUBLED-cent longs (the q18 doctrine) so
    * the global interpolating median is exact LONG arithmetic off the
    * value-cell cumsum — computed with the SHARDED exclusive prefix (no
    * global window, no corpus sort) — and the above/below split is an
    * integer comparison against the 1-row broadcast median. */
  def moodMedianDF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    // two consumers (value cells, median classification) — pin so the
    // corpus scan + decimal quantization run once
    val base = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        (col(valueCol).cast("decimal(12,2)") * 200).cast("long").as("v2"))
      .localCheckpoint()
    val cells = graft.Tables.spreadForGroupBy(base, col("v2"))
      .groupBy(col("v2").as("v")).agg(count(lit(1)).as("c"))
    val pref = ShardLookup.exclusivePrefix(cells, Seq(col("v")), Seq("c" -> "cumex"))
    val n = pref.totals("c")
    val med = pref.df
      .withColumn("ci", col("cumex") + col("c"))
      .withColumn("m1", when(col("ci") >= lit((n + 1) / 2), col("v")))
      .withColumn("m2", when(col("ci") >= lit((n + 2) / 2), col("v")))
      .agg(((min(col("m1")) + min(col("m2"))) / lit(2)).cast("long").as("med2"))
    val classified = base.crossJoin(broadcast(med))
      .select(col("grp"), (col("v2") > col("med2")).cast("int").as("above"),
        col("med2"))
    ChiSquare.cramersVDF(classified, "grp", "above")
      .crossJoin(broadcast(med))
      .select(round(col("med2").cast("double") / lit(200.0), 3).as("median_v"),
        col("n"), col("r"), col("c"), col("chi2"), col("v"))
  }
}
