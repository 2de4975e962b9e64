package graft.stats

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- Fisher

  test("Fisher exact two-sided matches R's tea-tasting value") {
    // fisher.test(matrix(c(3,1,1,3),2,2))$p.value == 0.4857142857...
    assert(math.abs(Fisher.exact2x2(3, 1, 1, 3) - 0.4857142857142857) < 1e-12)
  }

  test("Fisher exact on strongly associated table is small; independent ~1") {
    assert(Fisher.exact2x2(20, 1, 1, 20) < 1e-6)
    assert(math.abs(Fisher.exact2x2(10, 10, 10, 10) - 1.0) < 1e-9)
  }

  test("Fisher column protocol builds the right 2x2") {
    val df = Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false)).toDF("x", "y")
    val (a, b, c, d, p) = Fisher.test(df, "x", "y")
    assert((a, b, c, d) == (2L, 1L, 1L, 2L))
    assert(p > 0 && p <= 1)
  }

  test("testPerGroup equals per-stratum test() in one pass") {
    val df = Seq(
      ("a", true, true), ("a", true, false), ("a", false, true), ("a", false, false),
      ("b", true, true), ("b", true, true), ("b", false, false)
    ).toDF("g", "x", "y")
    val grouped = Fisher.testPerGroup(df, "g", "x", "y").toMap
    Seq("a", "b").foreach { g =>
      val direct = Fisher.test(df.where($"g" === g), "x", "y")
      assert(grouped(g) == direct, g)
    }
  }

  // -------------------------------------------------------- Permutation

  test("exact permutation p on a tiny case matches enumeration") {
    // groups {1,2} vs {10,11}: only the 2 extreme splits of 6 reach |diff|>=9
    val p = PermutationTest.twoSided(Array(1.0, 2.0), Array(10.0, 11.0))
    assert(math.abs(p - 2.0 / 6.0) < 1e-12)
  }

  test("permutation p is ~uniform under H0 and small under strong effect") {
    val rng = new scala.util.Random(7)
    val same = PermutationTest.twoSided(
      Array.fill(40)(rng.nextGaussian()), Array.fill(40)(rng.nextGaussian()),
      nPerm = 2000, seed = 1)
    assert(same > 0.01)
    val shifted = PermutationTest.twoSided(
      Array.fill(40)(rng.nextGaussian()), Array.fill(40)(rng.nextGaussian() + 3),
      nPerm = 2000, seed = 1)
    assert(shifted < 0.01)
  }

  test("twoSided p-values are pinned bit for bit (Monte-Carlo and exact)") {
    val rng = new scala.util.Random(3)
    val mc = PermutationTest.twoSided(Array.fill(600)(rng.nextGaussian()),
      Array.fill(1400)(rng.nextGaussian() + 0.02), nPerm = 999, seed = 42L)
    // C(17, 8) = 24,310 splits: under the exact limit, so every one is enumerated
    val exact = PermutationTest.twoSided(Array.fill(8)(rng.nextGaussian()),
      Array.fill(9)(rng.nextGaussian() + 0.8))
    // values of the per-draw re-sum this path replaced: the sums are taken
    // in the same order, so the p-values must not move by a bit
    assert(mc == 0.012, s"$mc")
    assert(exact == 0.3018510900863842, s"$exact")
  }

  test("column protocol returns sentinel 2.0 for degenerate false-group") {
    val df = Seq((true, 1.0), (true, 2.0), (false, 3.0)).toDF("b", "x")
    assert(PermutationTest.onColumns(df, "b", "x") == 2.0)
  }

  test("distributed and local MC agree on the same seed structure") {
    val rng = new scala.util.Random(3)
    val a = Array.fill(30)(rng.nextGaussian())
    val b = Array.fill(30)(rng.nextGaussian() + 1.5)
    val df = (a.map((true, _)) ++ b.map((false, _))).toSeq.toDF("g", "x")
    val pLocal = PermutationTest.onColumns(df, "g", "x", nPerm = 999, seed = 5)
    val pDist = PermutationTest.onColumnsDistributed(df, "g", "x", nPerm = 999, seed = 5)
    assert(math.abs(pLocal - pDist) < 0.05) // both MC, both near the true p
  }

  test("subsample gate: inert below maxRows, deterministic and sane when binding") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 4000).map(i =>
      (i % 2 == 0, rng.nextGaussian() + (if (i % 2 == 0) 0.0 else 0.15)))
    val df = rows.toDF("g", "x")
    // gate above the cohort: bit-identical to the ungated path
    val pFull = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = Int.MaxValue)
    val pWide = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = 100000)
    assert(pFull == pWide)
    // gate binding: layout-independent (repartition cannot change the
    // subsample, hence not the p-value) and still a valid p in [0, 1]
    val pG1 = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = 500)
    val pG2 = PermutationTest.onColumnsDistributed(df.repartition(13), "g", "x",
      nPerm = 499, seed = 7, maxRows = 500)
    assert(pG1 == pG2, "content-hash subsample must be layout-independent")
    assert(pG1 > 0.0 && pG1 <= 1.0)
  }

  test("hashCols gate salts duplicates apart (round-9 advisory remedy)") {
    // two fully-duplicated value classes: the default (bool, value) hash
    // gates each class all-or-nothing — at keep-fraction 1/8 the expected
    // outcome is an empty or wildly skewed subsample. Salting the gate
    // with a row id keeps ~1/8 of EACH class, so the test stays valid.
    val rows = (1 to 2000).map(i => (i % 2 == 0, if (i % 2 == 0) 1.0 else 2.0, i))
    val df = rows.toDF("g", "x", "id")
    val p = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = 250, hashCols = Seq("id"))
    // fully-separated duplicated groups: the salted subsample must retain
    // both groups (no sentinel) and find the separation
    assert(p > 0.0 && p <= 0.05, s"salted-gate p out of range: $p")
    // layout-proof like the unsalted gate
    val p2 = PermutationTest.onColumnsDistributed(df.repartition(13), "g", "x",
      nPerm = 499, seed = 7, maxRows = 250, hashCols = Seq("id"))
    assert(p == p2)
    // hashCols are gate-only: ungated results are identical with/without
    val pOff = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = Int.MaxValue)
    val pOn = PermutationTest.onColumnsDistributed(df, "g", "x",
      nPerm = 499, seed = 7, maxRows = Int.MaxValue, hashCols = Seq("id"))
    assert(pOff == pOn)
  }

  test("dispersionDF matches driver-side betadisper dispersions exactly") {
    val rng = new scala.util.Random(17)
    val rows = (1 to 30).map { i =>
      (i.toLong, s"g${i % 3}",
        rng.nextBoolean(), rng.nextBoolean(), rng.nextBoolean(), rng.nextBoolean())
    }
    val df = rows.toDF("id", "grp", "f0", "f1", "f2", "f3")
    // driver truth: per-point mean Jaccard distance to own-group members,
    // then per-group mean and max — the betadisper leg of Permanova.test
    val feats = rows.map(r => Array(r._3, r._4, r._5, r._6)).toArray
    val groups = rows.map(_._2).toArray
    def disp(i: Int): Double = {
      val idx = rows.indices.filter(j => j != i && groups(j) == groups(i))
      idx.map(j => Permanova.jaccard(feats(i), feats(j))).sum / idx.size
    }
    val expected = rows.indices.groupBy(groups(_)).map { case (g, idx) =>
      val ds = idx.map(disp)
      (g, idx.size.toLong,
        BigDecimal(ds.sum / ds.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(ds.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = Permanova.dispersionDF(df, "id", "grp",
        Seq("f0", "f1", "f2", "f3"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(got == expected)
  }

  // ---------------------------------------------------------------- FDR

  test("BH matches hand computation") {
    val rejected = FDR.benjaminiHochberg(Array(0.01, 0.02, 0.04, 0.5), 0.05)
    assert(rejected == Set(0, 1))
  }

  test("Storey reduces to BH-like behavior with pi0 estimate") {
    val ps = Array(0.001, 0.002, 0.9, 0.95, 0.99)
    val r = FDR.storey(ps, 0.05, 0.5)
    assert(r == Set(0, 1))
  }

  test("SABHA with uniform qhat equals BH on masked pvals") {
    val ps = Array(0.01, 0.02, 0.04, 0.6)
    val qhat = Array.fill(4)(1.0)
    assert(FDR.sabha(ps, qhat, 0.05, 0.5) == FDR.benjaminiHochberg(
      ps.map(p => if (p > 0.5) Double.PositiveInfinity else p), 0.05))
  }

  test("solveQBlock returns block-constant qhat within [eps, 1]") {
    val ps = Array(0.001, 0.003, 0.8, 0.9, 0.002, 0.7)
    val blocks = Array(0, 0, 1, 1, 2, 2)
    val q = FDR.solveQBlock(ps, tau = 0.5, eps = 0.1, blocks = blocks)
    assert(q.forall(v => v >= 0.1 - 1e-9 && v <= 1.0 + 1e-9))
    // block-constant (ADMM converges to projection fixed point approximately)
    assert(math.abs(q(0) - q(1)) < 0.05)
    assert(math.abs(q(2) - q(3)) < 0.05)
  }

  test("sabhaSelect surfaces strong signals and drops clear nulls") {
    val labels = Array("strong1", "strong2", "null1", "null2", "null3", "null4")
    val ps = Array(1e-6, 1e-5, 0.7, 0.8, 0.9, 0.95)
    val sel = FDR.sabhaSelect(ps, labels)
    assert(sel.contains("strong1") && sel.contains("strong2"))
    assert(!sel.exists(_.startsWith("null")))
  }

  test("sabhaSelectDF (distributed) equals driver-side sabha on the feasible projection") {
    import spark.implicits._
    // block means of (p>tau)/(1-tau) all land inside [eps, 1], so
    // solveQBlock's feasible init IS the clamped projection and the
    // distributed rejection set must equal the ported R math exactly
    val ps = Array(0.001, 0.6, 0.02, 0.7, 0.03, 0.9, 0.04, 0.55)
    val blocks = Array(0, 0, 0, 0, 1, 1, 1, 1)
    val qhat = FDR.solveQBlock(ps, tau = 0.5, eps = 0.1, blocks = blocks)
    val expected = FDR.sabha(ps, qhat, alpha = 0.2, tau = 0.5)
    val df = ps.zip(blocks).zipWithIndex
      .map { case ((p, b), i) => (i, b, p) }.toSeq.toDF("i", "block", "p")
    val got = FDR.sabhaSelectDF(df, "p", "block", col("i"),
        alpha = 0.2, tau = 0.5, eps = 0.1)
      .select("i", "qhat", "rejected").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getInt(2)))
    got.foreach { case (i, q, _) =>
      assert(math.abs(q - qhat(i)) < 1e-12, s"qhat mismatch at $i: $q vs ${qhat(i)}") }
    assert(got.filter(_._3 == 1).map(_._1).toSet == expected, got.mkString(","))
  }

  test("sabhaSelectDF clamps infeasible block projections into [eps, 1]") {
    import spark.implicits._
    // block 0 is all-masked (projection mean 2.0 -> clamp to 1.0); block 1
    // all-small (mean 0.0 -> clamp to eps)
    val df = Seq((0, 0, 0.9), (1, 0, 0.8), (2, 1, 0.01), (3, 1, 0.02))
      .toDF("i", "block", "p")
    val got = FDR.sabhaSelectDF(df, "p", "block", col("i"))
      .select("i", "qhat", "rejected").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    assert(got(0)._2 == 1.0 && got(1)._2 == 1.0)
    assert(got(2)._2 == 0.1 && got(3)._2 == 0.1)
    assert(got(0)._3 == 0 && got(1)._3 == 0, "masked hypotheses never reject")
    assert(got(2)._3 == 1 && got(3)._3 == 1)
  }

  test("tvChainProjectDF (distributed) equals the driver chain TV projection") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // mixed magnitudes incl. ties and zero diffs; three bounds exercise the
    // inside-ball identity, a tie-heavy level, and a deep truncation
    val y = Array.fill(40)(math.rint(rng.nextDouble() * 8) / 2.0)
    for (bound <- Seq(0.5, 3.0, 1e6)) {
      val expected = FDR.tvChainProject(y, bound)
      val df = y.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("i", "y")
      val got = FDR.tvChainProjectDF(df, "y", Seq(col("i")), bound)
        .select("i", "y_tv").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
      expected.indices.foreach { i =>
        assert(math.abs(got(i) - expected(i)) < 1e-9,
          s"bound $bound idx $i: ${got(i)} vs ${expected(i)}")
      }
    }
  }

  test("tvChainProjectDriver is BIT-identical to the windowed tvChainProjectDF") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // irrational-ish magnitudes so any FP-association drift would show;
    // ties and zero diffs exercise the rank tie-break path
    val y = Array.fill(60)(math.rint(rng.nextDouble() * 16) / 4.0 + rng.nextInt(2))
    for (bound <- Seq(0.25, 3.0, 1e7)) {
      val df = y.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("i", "y")
      def vals(out: org.apache.spark.sql.DataFrame): Array[Double] =
        out.select("i", "y_tv").collect()
          .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
      val win = vals(FDR.tvChainProjectDF(df, "y", Seq(col("i")), bound))
      val drv = vals(FDR.tvChainProjectDriver(df, "y", Seq(col("i")), bound))
      win.indices.foreach { i =>
        assert(java.lang.Double.doubleToLongBits(win(i)) ==
          java.lang.Double.doubleToLongBits(drv(i)),
          s"bound $bound idx $i: windowed ${win(i)} vs driver ${drv(i)}")
      }
    }
    // single-row chain: both anchor at y0
    val one = Seq((0, -0.0)).toDF("i", "y")
    assert(FDR.tvChainProjectDriver(one, "y", Seq(col("i")), 1.0)
      .select("y_tv").collect()(0).getDouble(0) ==
      FDR.tvChainProjectDF(one, "y", Seq(col("i")), 1.0)
        .select("y_tv").collect()(0).getDouble(0))
  }

  test("tvChainProject shrinks total variation to the ball radius, preserving y0") {
    val y = Array(0.0, 2.0, 0.0, 2.0, 2.0, 0.0)
    val out = FDR.tvChainProject(y, 3.0)
    assert(out(0) == y(0))
    val tv = (1 until out.length).map(i => math.abs(out(i) - out(i - 1))).sum
    assert(math.abs(tv - 3.0) < 1e-9, s"tv $tv")
  }

  test("ADMM qhat satisfies the SABHA feasibility constraint sum(B_i/q_i) <= n(1-tau)") {
    // force the ADMM path (block-0 init mean = 2 > 1) while keeping the
    // constraint satisfiable (#B = 2 ≤ n(1-tau) = 3; with 1/q ≥ 1 the
    // constraint is infeasible for ANY q ∈ [eps,1] once #B exceeds n(1-tau),
    // in the R original as much as here)
    val ps = Array(0.9, 0.85, 0.01, 0.02, 0.03, 0.04)
    val blocks = Array(0, 0, 1, 1, 1, 1)
    val tau = 0.5
    val q = FDR.solveQBlock(ps, tau, eps = 0.1, blocks)
    val lhs = ps.zip(q).collect { case (p, qi) if p > tau => 1.0 / qi }.sum
    assert(lhs <= ps.length * (1 - tau) + 1e-2, s"constraint violated: $lhs")
    assert(q.forall(v => v >= 0.1 - 1e-9 && v <= 1.0 + 1e-9))
  }

  test("ADMM qhat is numerically optimal for the SABHA objective (2-block grid check)") {
    // The q-update's stationarity conditions identify the objective the R
    // original minimizes:  L(q) = -Σ_{p>τ} log q_i - Σ_{p≤τ} log(1-(1-τ)q_i)
    // s.t. q block-constant, q ∈ [eps,1], Σ_{p>τ} 1/q_i ≤ n(1-τ).
    // Validate the port by brute force: on a 2-block instance that forces
    // the ADMM path, the solver's objective must match the best feasible
    // grid point (no R run needed).
    val tau = 0.5; val eps = 0.1
    // 4 bigs ≤ n(1-τ) = 5 (feasible), mixed blocks so the optimum is
    // interior AND the inverse-sum constraint binds (unconstrained optimum
    // (qa,qb) = (1, 1/3) has Σ1/q = 6 > 5); block-0 init mean = 1.5 > 1
    // forces the ADMM path
    val pvals = Array(0.9, 0.8, 0.7, 0.1, 0.6, 0.01, 0.02, 0.03, 0.2, 0.3)
    val blocks = Array(0, 0, 0, 0, 1, 1, 1, 1, 1, 1)
    // tighter threshold than the reference's 1e-3 default (which mirrors R
    // and stops early on this instance) — the check is that the MATH
    // converges to the true constrained optimum, and it does: (1.0, 0.5)
    // with the inverse-sum constraint exactly tight
    val q = FDR.solveQBlock(pvals, tau, eps, blocks,
      FDR.AdmmParams(convergeThr = 1e-6))
    val n = pvals.length; val gamma = n * (1 - tau)
    val big = pvals.map(_ > tau)
    def qVec(qa: Double, qb: Double) = blocks.map(b => if (b == 0) qa else qb)
    def obj(qa: Double, qb: Double): Double =
      pvals.indices.map { i =>
        val qi = qVec(qa, qb)(i)
        if (big(i)) -math.log(qi) else -math.log(1 - (1 - tau) * qi)
      }.sum
    def constraintLhs(qa: Double, qb: Double): Double =
      pvals.indices.filter(big(_)).map(i => 1.0 / qVec(qa, qb)(i)).sum
    def feasible(qa: Double, qb: Double): Boolean =
      constraintLhs(qa, qb) <= gamma + 1e-9
    val qa = q(0); val qb = q(4)
    // block-constant + box constraints hold; inverse-sum holds to ADMM's
    // convergence tolerance (1e-3 relative)
    assert(blocks.indices.forall(i =>
      math.abs(q(i) - (if (blocks(i) == 0) qa else qb)) < 1e-3), q.mkString(","))
    assert(q.forall(v => v >= eps - 1e-3 && v <= 1 + 1e-3))
    assert(constraintLhs(qa, qb) <= gamma + 0.05, s"lhs ${constraintLhs(qa, qb)}")
    // optimality vs exhaustive feasible grid
    val grid = (0 to 450).map(i => eps + i * 0.002)
    val best = (for { a <- grid; b <- grid if feasible(a, b) } yield obj(a, b)).min
    assert(obj(qa, qb) <= best + 0.01, s"admm ${obj(qa, qb)} vs grid $best")
  }

  test("pava matches a direct transliteration of the R block-merging recursion") {
    // reference semantics re-implemented naively (R :39-77) — repeated
    // whole-vector scans, exactly the R control flow
    def pavaR(y: Array[Double]): Array[Double] = {
      val thresh = 1e-8
      val n = y.length
      val groups = Array.tabulate(n)(_ + 1)
      def mean(block: Int): Double = {
        val idx = groups.indices.filter(groups(_) == block)
        idx.map(y).sum / idx.size
      }
      var block = 1
      var stop = false
      while (!stop) {
        if (groups.contains(block + 1)) {
          if (mean(block) <= mean(block + 1) + thresh) block += 1
          else {
            groups.indices.foreach(i => if (groups(i) > block) groups(i) -= 1)
            var stopInner = false
            while (!stopInner) {
              if (groups.contains(block - 1)) {
                if (mean(block - 1) > mean(block) + thresh) {
                  groups.indices.foreach(i => if (groups(i) >= block) groups(i) -= 1)
                  block -= 1
                } else stopInner = true
              } else stopInner = true
            }
          }
        } else stop = true
      }
      val x = y.clone()
      (1 to groups.max).foreach { b =>
        val idx = groups.indices.filter(groups(_) == b)
        val m = idx.map(y).sum / idx.size
        idx.foreach(x(_) = m)
      }
      x
    }
    val rng = new scala.util.Random(11)
    (1 to 25).foreach { _ =>
      val y = Array.fill(1 + rng.nextInt(40))(math.rint(rng.nextGaussian() * 100) / 100)
      val fast = FDR.pava(y)
      val slow = pavaR(y)
      assert(fast.zip(slow).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"in=${y.mkString(",")}\nfast=${fast.mkString(",")}\nslow=${slow.mkString(",")}")
      // isotonic + projection property: monotone input is a fixed point
      assert(fast.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9))
      assert(FDR.pava(fast).zip(fast).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    }
  }

  test("solveQOrdered: monotone feasible qhat, optimal vs monotone grid") {
    // same objective as the block check: L(q) = -Σ_{p>τ} log q_i
    //   - Σ_{p≤τ} log(1-(1-τ)q_i), s.t. ε ≤ q₁ ≤…≤ qₙ ≤ 1,
    //   Σ_{p>τ} 1/q_i ≤ n(1-τ). Bigs interleaved with smalls so the
    //   monotonicity constraint genuinely binds (smalls AFTER bigs are
    //   dragged up, bigs EARLY are dragged down).
    val tau = 0.5; val eps = 0.1
    val pvals = Array(0.01, 0.9, 0.02, 0.8, 0.03, 0.7, 0.2, 0.6, 0.3, 0.1)
    val q = FDR.solveQOrdered(pvals, tau, eps, FDR.AdmmParams(convergeThr = 1e-6))
    val n = pvals.length; val gamma = n * (1 - tau)
    val big = pvals.map(_ > tau)
    assert(q.sliding(2).forall(p => p(0) <= p(1) + 1e-3), q.mkString(","))
    assert(q.forall(v => v >= eps - 1e-3 && v <= 1 + 1e-3))
    val lhs = pvals.indices.filter(big(_)).map(i => 1.0 / q(i)).sum
    assert(lhs <= gamma + 0.05, s"inverse-sum constraint violated: $lhs")
    def obj(qv: IndexedSeq[Double]): Double =
      pvals.indices.map { i =>
        if (big(i)) -math.log(qv(i)) else -math.log(1 - (1 - tau) * qv(i))
      }.sum
    // brute-force over 3-level monotone step vectors (a≤b≤c with two
    // breakpoints) on a fine grid — a SUBSET of the feasible monotone set,
    // so the ADMM optimum over the full set must do at least as well
    val grid = (0 to 45).map(i => eps + i * 0.02)
    val best = (for {
      i <- 1 until n; j <- i until n
      a <- grid; b <- grid if b >= a; c <- grid if c >= b
      qv = IndexedSeq.tabulate(n)(k => if (k < i) a else if (k < j) b else c)
      if pvals.indices.filter(big(_)).map(k => 1.0 / qv(k)).sum <= gamma + 1e-9
    } yield obj(qv)).min
    assert(obj(q.toIndexedSeq) <= best + 0.02,
      s"admm ${obj(q.toIndexedSeq)} vs grid $best")
  }

  test("l1Projection: feasible unchanged; else tight, idempotent, and optimal") {
    val id = FDR.l1Projection(5.0)(Array(1.0, -2.0, 1.5))
    assert(id.toSeq == Seq(1.0, -2.0, 1.5))
    val rng = new scala.util.Random(13)
    (1 to 20).foreach { _ =>
      val y = Array.fill(2 + rng.nextInt(8))(rng.nextGaussian() * 3)
      val bound = 0.5 + rng.nextDouble() * 2
      val x = FDR.l1Projection(bound)(y)
      if (y.map(math.abs).sum > bound) {
        assert(math.abs(x.map(math.abs).sum - bound) < 1e-9, "projection must be tight")
        // idempotent and sign-preserving
        assert(FDR.l1Projection(bound)(x).zip(x).forall(p => math.abs(p._1 - p._2) < 1e-9))
        assert(x.zip(y).forall { case (xi, yi) => xi == 0.0 || math.signum(xi) == math.signum(yi) })
        // optimality: no feasible grid point on a random 2-coordinate
        // perturbation line beats the projection distance
        val dist = x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
        (1 to 50).foreach { _ =>
          val cand = x.clone()
          val i = rng.nextInt(x.length); val j = rng.nextInt(x.length)
          val d = (rng.nextDouble() - 0.5) * 0.2
          cand(i) += d; cand(j) -= d * math.signum(cand(j)) * math.signum(cand(i))
          if (cand.map(math.abs).sum <= bound) {
            val cd = cand.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
            assert(cd >= dist - 1e-9, s"found better feasible point: $cd < $dist")
          }
        }
      }
    }
  }

  test("solveQTV1d: TV/box/inverse-sum feasible, optimal vs step-vector grid") {
    // objective as in the block/ordered checks: L(q) = -Σ_{p>τ} log q_i
    //   - Σ_{p≤τ} log(1-(1-τ)q_i), s.t. ε ≤ q ≤ 1, Σ_{p>τ} 1/q_i ≤ n(1-τ),
    //   Σ_i |q_i - q_{i+1}| ≤ TV_bd. Signal (bigs) clustered in the first
    //   half so the optimum genuinely uses the TV budget (high q left, low
    //   q right — a step the budget must pay for).
    val tau = 0.5; val eps = 0.1; val tvBd = 0.5
    val pvals = Array(0.9, 0.8, 0.7, 0.6, 0.9, 0.01, 0.02, 0.03, 0.04, 0.05)
    val q = FDR.solveQTV1d(pvals, tau, eps, tvBd, FDR.AdmmParams(convergeThr = 1e-6))
    val n = pvals.length; val gamma = n * (1 - tau)
    val big = pvals.map(_ > tau)
    assert(q.forall(v => v >= eps - 1e-3 && v <= 1 + 1e-3), q.mkString(","))
    val tv = q.sliding(2).map(p => math.abs(p(0) - p(1))).sum
    assert(tv <= tvBd + 1e-2, s"TV constraint violated: $tv")
    val lhs = pvals.indices.filter(big(_)).map(i => 1.0 / q(i)).sum
    assert(lhs <= gamma + 0.05, s"inverse-sum constraint violated: $lhs")
    def obj(qv: IndexedSeq[Double]): Double =
      pvals.indices.map { i =>
        if (big(i)) -math.log(qv(i)) else -math.log(1 - (1 - tau) * qv(i))
      }.sum
    // brute force over 2-level step vectors (a then b, one breakpoint):
    // a SUBSET of the TV-feasible set, so the ADMM optimum over the full
    // set must do at least as well
    val grid = (0 to 90).map(i => eps + i * 0.01)
    val best = (for {
      k <- 1 until n; a <- grid; b <- grid
      if math.abs(a - b) <= tvBd + 1e-12
      qv = IndexedSeq.tabulate(n)(i => if (i < k) a else b)
      if pvals.indices.filter(big(_)).map(i => 1.0 / qv(i)).sum <= gamma + 1e-9
    } yield obj(qv)).min
    assert(obj(q.toIndexedSeq) <= best + 0.02, s"admm ${obj(q.toIndexedSeq)} vs grid $best")
  }

  test("solveQTV2d wires the grid edges: unconstrained-limit and constant-limit") {
    val tau = 0.5; val eps = 0.1
    // 2x3 grid, bigs in the left column
    val pm = Array(Array(0.9, 0.01, 0.02), Array(0.8, 0.03, 0.04))
    // huge TV budget → per-node optimum: q=1 on bigs, q=eps on smalls
    val free = FDR.solveQTV2d(pm, tau, eps, tvBound = 100.0,
      FDR.AdmmParams(convergeThr = 1e-6))
    // column-major: index i + j*n1, n1=2 → bigs at 0,1
    assert(math.abs(free(0) - 1.0) < 5e-3 && math.abs(free(1) - 1.0) < 5e-3,
      free.mkString(","))
    assert((2 to 5).forall(i => math.abs(free(i) - eps) < 5e-3), free.mkString(","))
    // zero TV budget → q constant; compare against the best feasible constant
    val flatQ = FDR.solveQTV2d(pm, tau, eps, tvBound = 0.0,
      FDR.AdmmParams(convergeThr = 1e-6))
    assert(flatQ.forall(v => math.abs(v - flatQ(0)) < 1e-2), flatQ.mkString(","))
    val big = Array(true, true, false, false, false, false)
    def obj(c: Double): Double =
      big.map(b => if (b) -math.log(c) else -math.log(1 - (1 - tau) * c)).sum
    val gamma = 6 * (1 - tau)
    val bestC = (0 to 90).map(i => eps + i * 0.01)
      .filter(c => big.count(identity) / c <= gamma + 1e-9)
      .minBy(obj)
    assert(math.abs(obj(flatQ(0)) - obj(bestC)) < 0.05,
      s"flat ${flatQ(0)} obj ${obj(flatQ(0))} vs best constant $bestC obj ${obj(bestC)}")
  }

  test("inverseSumProx: feasible input unchanged, else constraint is tight") {
    val feasible = FDR.inverseSumProx(Array(10.0, 10.0), bound = 1.0)
    assert(feasible.toSeq == Seq(10.0, 10.0))
    val tight = FDR.inverseSumProx(Array(0.5, 0.5), bound = 2.0)
    assert(math.abs(tight.map(1 / _).sum - 2.0) < 1e-6)
  }

  // ---------------------------------------------------------------- ROC

  test("thres2Equal: rho=0.5 gives midpoint; low prevalence shifts up") {
    val k1 = Array(1.0, 2.0, 3.0) // non-diseased
    val k2 = Array(7.0, 8.0, 9.0) // diseased
    assert(math.abs(Roc.thres2Equal(k1, k2, 0.5) - 5.0) < 1e-12)
    assert(Roc.thres2Equal(k1, k2, 0.01) > 5.0) // rare disease → higher cutoff
  }

  test("adjustDF matches hand-computed BH and Storey adjusted p-values") {
    // p = [.01,.02,.04,.6,.9]: bh = [.05,.05,.0667,.75,.9]; pi0 = 2/(0.5*5)
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.04), ("d", 0.6), ("e", 0.9))
      .toDF("id", "p")
    val got = FDR.adjustDF(df, "p", $"id")
      .select($"id", round($"bh_adj", 6), round($"storey_pi0", 6), round($"storey_adj", 6))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("a", 0.05, 0.8, 0.04), ("b", 0.05, 0.8, 0.04), ("c", 0.066667, 0.8, 0.053333),
      ("d", 0.75, 0.8, 0.6), ("e", 0.9, 0.8, 0.72)))
    // agrees with the driver-array BH rejection set at alpha = 0.07
    val rej = FDR.benjaminiHochberg(Array(0.01, 0.02, 0.04, 0.6, 0.9), 0.07)
    val dfRej = got.filter(_._2 <= 0.07).map(_._1).toSet
    assert(dfRej == rej.map(i => Seq("a", "b", "c", "d", "e")(i)))
  }

  test("binormalThresholdDF agrees with the array-protocol thres2Equal") {
    val rng = new scala.util.Random(3)
    val healthy = Array.fill(200)(math.rint((rng.nextGaussian() + 2) * 100) / 100)
    val diseased = Array.fill(150)(math.rint((rng.nextGaussian() + 5) * 100) / 100)
    val df = (healthy.map((false, _)) ++ diseased.map((true, _))).toSeq
      .toDF("label", "score")
    val dfThres = Roc.binormalThresholdDF(df, $"label", $"score", rho = 0.01)
      .collect()(0).getAs[Double]("threshold")
    val arrThres = Roc.thres2Equal(healthy, diseased, 0.01)
    assert(math.abs(dfThres - arrThres) < 1e-6, s"$dfThres vs $arrThres")
  }

  test("adjustDFPerFamily treats each family independently, matching per-family adjustDF") {
    val df = Seq(
      ("f1", "a", 0.01), ("f1", "b", 0.04), ("f1", "c", 0.9),
      ("f2", "d", 0.02), ("f2", "e", 0.6)).toDF("fam", "id", "p")
    val together = FDR.adjustDFPerFamily(df, "p", Seq("fam"), $"id")
      .select($"fam", $"id", round($"bh_adj", 9), round($"storey_adj", 9))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    val separately = Seq("f1", "f2").flatMap { f =>
      FDR.adjustDF(df.where($"fam" === f), "p", $"id")
        .select($"fam", $"id", round($"bh_adj", 9), round($"storey_adj", 9))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    }.toSet
    assert(together == separately && together.size == 5)
  }

  test("sharded adjustDF is bit-identical to the windowed form on random p-values") {
    // the range-sharded two-phase rank/suffix-min must be an EXACT
    // decomposition of the single-family windowed computation (reachable via
    // adjustDFPerFamily with a constant family), including duplicate
    // p-values and p > lambda masses — no rounding in the comparison
    val rng = new scala.util.Random(17)
    val rows = (1 to 500).map { i =>
      val p = if (i % 7 == 0) 0.25 else math.rint(rng.nextDouble() * 1e6) / 1e6
      (i.toLong, p)
    }
    val df = rows.toDF("id", "p")
    val sharded = FDR.adjustDF(df, "p", $"id")
      .select($"id", $"bh_adj", $"storey_pi0", $"storey_adj")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val windowed = FDR.adjustDFPerFamily(df.withColumn("__f", lit(1)), "p", Seq("__f"), $"id")
      .select($"id", $"bh_adj", $"storey_pi0", $"storey_adj")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(sharded.length == windowed.length)
    sharded.zip(windowed).foreach { case (s, w) =>
      assert(s == w, s"sharded $s != windowed $w") // bit-exact, no tolerance
    }
  }

  test("empiricalRoc matches hand-computed AUC/Youden incl. tie handling") {
    // pos scores {3,2}, neg {2,1}: pairwise AUC = (1+1+1+0.5)/4 = 0.875;
    // Youden J = 0.5 at thresholds 3 and 2, tie -> larger threshold
    val df = Seq((true, 3.0), (true, 2.0), (false, 2.0), (false, 1.0))
      .toDF("label", "score")
    val r = graft.stats.Roc.empiricalRoc(df, $"label", $"score").collect()(0)
    assert(r.getAs[Double]("auc") == 0.875)
    assert(r.getAs[Double]("youden_j") == 0.5)
    assert(r.getAs[Double]("threshold") == 3.0)
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
  }

  test("prCurve: hand-computed cuts; counts replay on any layout") {
    // pos {3,2}, neg {2,1}; cuts desc: t=3 → tp1 fp0; t=2 → tp2 fp1;
    // t=1 → tp2 fp2
    val df = Seq((true, 3.0), (true, 2.0), (false, 2.0), (false, 1.0))
      .toDF("label", "score")
    val r = Roc.prCurve(df, $"label", $"score")
      .as[(Double, Long, Long, Double, Double, Double)].collect().toSeq
    assert(r == Seq(
      (3.0, 1L, 0L, 1.0, 0.5, 0.666667),
      (2.0, 2L, 1L, 0.666667, 1.0, 0.8),
      (1.0, 2L, 2L, 0.5, 1.0, 0.666667)))
    // layout independence of the sharded prefix counts
    val rng = new scala.util.Random(17)
    val big = (1 to 500).map(_ => (rng.nextBoolean(), rng.nextInt(40).toDouble))
    val a = Roc.prCurve(big.toDF("label", "score").repartition(1),
      $"label", $"score").collect().toSeq
    val b = Roc.prCurve(big.toDF("label", "score").repartition(13),
      $"label", $"score").collect().toSeq
    assert(a == b)
  }

  test("empiricalRocDriver / empiricalCostThresholdDriver are bit-identical to the windowed twins") {
    // random quantized scores with heavy ties: the driver-side sweeps must
    // reproduce the windowed forms exactly (same LONG numerators, same
    // double division order, same tie-breaks) — no tolerance
    val rng = new scala.util.Random(23)
    val df = (1 to 400).map { _ =>
      (rng.nextBoolean(), math.rint(rng.nextDouble() * 200) / 10.0)
    }.toDF("label", "score")
    val w1 = Roc.empiricalRoc(df, $"label", $"score").collect()(0)
    val d1 = Roc.empiricalRocDriver(df, $"label", $"score").collect()(0)
    Seq("auc", "youden_j", "threshold").foreach { c =>
      assert(java.lang.Double.doubleToLongBits(w1.getAs[Double](c)) ==
        java.lang.Double.doubleToLongBits(d1.getAs[Double](c)), s"$c: $w1 vs $d1")
    }
    Seq("n_pos", "n_neg").foreach { c =>
      assert(w1.getAs[Long](c) == d1.getAs[Long](c), s"$c: $w1 vs $d1") }
    val w2 = Roc.empiricalCostThresholdDF(df, $"label", $"score", 3, 10).collect()(0)
    val d2 = Roc.empiricalCostThresholdDriver(df, $"label", $"score", 3, 10).collect()(0)
    Seq("threshold", "cost").foreach { c =>
      assert(java.lang.Double.doubleToLongBits(w2.getAs[Double](c)) ==
        java.lang.Double.doubleToLongBits(d2.getAs[Double](c)), s"$c: $w2 vs $d2")
    }
    Seq("n_pos", "n_neg").foreach { c =>
      assert(w2.getAs[Long](c) == d2.getAs[Long](c), s"$c: $w2 vs $d2") }
  }

  test("empiricalThreshold separates well-separated groups") {
    val t = Roc.empiricalThreshold(Array(1.0, 2.0, 3.0), Array(8.0, 9.0, 10.0), 0.5)
    assert(t > 3.0 && t < 8.0)
  }

  test("empiricalCostThresholdDF agrees with the array-protocol empiricalThreshold") {
    // quantized draws so score ties across and within groups are common —
    // exercises the distinct-score grouping and the argmin tie-break
    val rng = new scala.util.Random(7)
    val healthy = Array.fill(120)(math.rint((rng.nextGaussian() + 2) * 20) / 20)
    val diseased = Array.fill(80)(math.rint((rng.nextGaussian() + 3) * 20) / 20)
    val df = (healthy.map((false, _)) ++ diseased.map((true, _))).toSeq
      .toDF("label", "score")
    val row = Roc.empiricalCostThresholdDF(df, $"label", $"score",
      rhoNum = 1, rhoDen = 100).collect()(0)
    val arrThres = Roc.empiricalThreshold(healthy, diseased, 0.01)
    assert(row.getAs[Double]("threshold") == arrThres,
      s"${row.getAs[Double]("threshold")} vs $arrThres")
    assert(row.getAs[Long]("n_pos") == 80L && row.getAs[Long]("n_neg") == 120L)
  }

  // ------------------------------------------------------- Assoc rules

  test("FPGrowth mining matches hand-computed support/confidence/lift") {
    // a,b always co-occur (4/5); c sometimes
    val df = Seq(
      (true, true, false), (true, true, true), (true, true, false),
      (true, true, true), (false, false, true)
    ).toDF("a", "b", "c")
    val rules = AssociationRules.mine(df, Seq("a", "b", "c"),
      minSupport = 0.5, minConfidence = 0.8, minLen = 2, maxLen = 3, minLift = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // a => b: support 0.8, confidence 1.0, lift 1/(4/5) = 1.25
    val ab = rules.find(r => r._1 == "a" && r._2 == "b").get
    assert(math.abs(ab._3 - 0.8) < 1e-12)
    assert(math.abs(ab._4 - 1.0) < 1e-12)
    assert(math.abs(ab._5 - 1.25) < 1e-12)
  }

  test("mineBoolean reproduces FPGrowth's rule set exactly") {
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(400)((rng.nextBoolean(), rng.nextDouble() < 0.7,
      rng.nextDouble() < 0.3, rng.nextBoolean()))
    val df = rows.toDF("a", "b", "c", "d")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1),
        math.round(r.getDouble(2) * 1e9), math.round(r.getDouble(3) * 1e9),
        math.round(r.getDouble(4) * 1e9))
    val fp = AssociationRules.mine(df, Seq("a", "b", "c", "d"),
      minSupport = 0.05, minConfidence = 0.2, minLen = 2, maxLen = 4, minLift = 0.0)
      .collect().map(key).toSet
    val fast = AssociationRules.mineBoolean(df, Seq("a", "b", "c", "d"),
      minSupport = 0.05, minConfidence = 0.2, minLen = 2, maxLen = 4, minLift = 0.0)
      .collect().map(key).toSet
    assert(fast == fp)
    assert(fast.nonEmpty)
  }

  test("transactions builds item arrays from true columns") {
    val df = Seq((true, false, true)).toDF("x", "y", "z")
    val items = AssociationRules.transactions(df, Seq("x", "y", "z"))
      .as[Seq[String]].head()
    assert(items == Seq("x", "z"))
  }
}
