package graft.stats

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SurvivalSpec extends SparkSpec {
  import spark.implicits._

  // classic worked example (Klein & Moeschberger style): 10 subjects,
  // events at 3, 5, 5, 8; censored at 4, 6, 10; events at 11, 12; censored 12
  private val cohort = Seq(
    (3L, true), (4L, false), (5L, true), (5L, true), (6L, false),
    (8L, true), (10L, false), (11L, true), (12L, true), (12L, false))

  test("Kaplan-Meier: hand-computed risk table and survival") {
    val df = cohort.toDF("t", "ev").repartition(3)
    val r = Survival.kaplanMeierDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double)].collect()
    // (t, n_risk, d, c)
    val expected = Seq(
      (3L, 10L, 1L, 0L), (4L, 9L, 0L, 1L), (5L, 8L, 2L, 0L),
      (6L, 6L, 0L, 1L), (8L, 5L, 1L, 0L), (10L, 4L, 0L, 1L),
      (11L, 3L, 1L, 0L), (12L, 2L, 1L, 1L))
    assert(r.map(x => (x._1, x._2, x._3, x._4)).toSeq == expected)
    // survival: 9/10, 9/10, 9/10*6/8, ... driver product replay
    var s = 1.0
    val surv = expected.map { case (_, n, d, _) =>
      s *= (n - d).toDouble / n; s }
    r.map(_._5).zip(surv).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6, s"$got vs $want") }
  }

  test("Kaplan-Meier: survival pins to exactly 0 when the risk set dies out") {
    val df = Seq((1L, true), (2L, true), (2L, true)).toDF("t", "ev")
    val r = Survival.kaplanMeierDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(r.last == ((2L, 2L, 2L, 0L, 0.0)))
  }

  test("Kaplan-Meier: distributed equals the driver sweep on random data") {
    val rng = new scala.util.Random(19)
    val data = Seq.fill(2000)((rng.nextInt(40).toLong + 1L, rng.nextBoolean()))
    val df = data.toDF("t", "ev").repartition(7)
    val r = Survival.kaplanMeierDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double)].collect()
    val byT = data.groupBy(_._1).toSeq.sortBy(_._1)
    var atRisk = data.size.toLong; var s = 1.0
    byT.zip(r).foreach { case ((t, rows), got) =>
      val d = rows.count(_._2).toLong; val c = rows.size - d
      s *= (atRisk - d).toDouble / atRisk
      assert(got._1 == t && got._2 == atRisk && got._3 == d && got._4 == c)
      assert(math.abs(got._5 - s) < 1e-6)
      atRisk -= rows.size
    }
  }

  test("log-rank: hand-computed two-group example") {
    // G1: events at 1, 2; G2: event at 2, censored at 3
    val df = Seq((1L, true, true), (2L, true, true), (2L, true, false),
      (3L, false, false)).toDF("t", "ev", "g")
    val r = Survival.logRankDF(df, "t", col("ev"), col("g"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Long, Double, Double, Double)]
      .collect()
    // t=1: n1=2 n2=2 d1=1 d2=0 → e1 = 1*2/4 = .5, v = (1*2/4)*(2/4)*(3/3) = .25
    // t=2: n1=1 n2=2 d1=1 d2=1 → e1 = 2*1/3, v = (2*1/3)*(2/3)*(1/2) = 2/9
    assert(r.map(x => (x._1, x._2, x._3, x._4, x._5)).toSeq ==
      Seq((1L, 2L, 2L, 1L, 0L), (2L, 1L, 2L, 1L, 1L)))
    assert(math.abs(r(0)._6 - 0.5) < 1e-6 && math.abs(r(0)._7 - 0.25) < 1e-6)
    assert(math.abs(r(1)._6 - 2.0 / 3) < 1e-6 && math.abs(r(1)._7 - 2.0 / 9) < 1e-6)
    val o1 = 2.0; val e1 = 0.5 + 2.0 / 3; val v = 0.25 + 2.0 / 9
    assert(math.abs(r.last._11 - (o1 - e1) * (o1 - e1) / v) < 1e-6)
  }

  test("log-rank: distributed equals the driver sweep on random data") {
    val rng = new scala.util.Random(23)
    val data = Seq.fill(3000)(
      (rng.nextInt(30).toLong + 1L, rng.nextInt(3) > 0, rng.nextBoolean()))
    val df = data.toDF("t", "ev", "g").repartition(9)
    val r = Survival.logRankDF(df, "t", col("ev"), col("g"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Long, Double, Double, Double)]
      .collect()
    var n1 = data.count(_._3).toLong; var n2 = data.size - n1
    var o1 = 0L; var e1 = 0.0; var v = 0.0
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    data.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, g) =>
      val d1 = g.count(x => x._2 && x._3).toLong
      val d2 = g.count(x => x._2 && !x._3).toLong
      val d = d1 + d2; val n = n1 + n2
      if (d > 0) {
        rows += ((t, n1, n2, d1, d2))
        o1 += d1
        e1 += d.toDouble * n1 / n
        if (n > 1) v += d.toDouble * n1 / n * (n2.toDouble / n) * ((n - d).toDouble / (n - 1))
      }
      n1 -= g.count(_._3); n2 -= g.count(!_._3)
    }
    assert(r.map(x => (x._1, x._2, x._3, x._4, x._5)).toSeq == rows.toSeq)
    assert(r.last._8 == o1)
    assert(math.abs(r.last._9 - e1) < 1e-6)
    assert(math.abs(r.last._11 - (o1 - e1) * (o1 - e1) / v) < 1e-4)
  }

  test("signed-rank: hand-computed ties example") {
    // diffs: +1, -1, +2, +2, 0(drops) → |d| ranks: {1,1}→1.5 avg (doubled 3),
    // {2,2}→3.5 avg (doubled 7); W2+ = 3 + 7 + 7 = 17, n = 4, T = (2³-2)·2 = 12
    val df = Seq((2.0, 1.0), (1.0, 2.0), (3.0, 1.0), (5.0, 3.0), (4.0, 4.0))
      .toDF("x", "y")
    val r = RankTests.signedRankDF(df, "x", "y")
      .as[(Long, Long, Long, Double)].head()
    assert((r._1, r._2, r._3) == ((4L, 17L, 12L)))
    val z = (17.0 / 2 - 4.0 * 5 / 4) / math.sqrt(4.0 * 5 * 9 / 24 - 12.0 / 48)
    assert(math.abs(r._4 - z) < 1e-6)
  }

  test("signed-rank: distributed equals the driver rank sweep") {
    val rng = new scala.util.Random(31)
    val data = Seq.fill(800)((rng.nextInt(10).toDouble, rng.nextInt(10).toDouble))
    val df = data.toDF("x", "y").repartition(5)
    val r = RankTests.signedRankDF(df, "x", "y")
      .as[(Long, Long, Long, Double)].head()
    val diffs = data.map(p => p._1 - p._2).filter(_ != 0.0)
    val n = diffs.size.toLong
    val sorted = diffs.map(math.abs).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2 + 1).sum.toDouble / xs.size }
    val wplus = diffs.filter(_ > 0).map(d => rankOf(math.abs(d))).sum
    val tie = sorted.groupBy(identity).values
      .map(_.size.toLong).map(t => t * t * t - t).sum
    assert(r._1 == n && r._2 == math.round(2 * wplus) && r._3 == tie)
  }

  test("McNemar: hand-computed discordant pairs; undefined without any") {
    // 5 (F,F), 2 (F,T), 6 (T,F), 3 (T,T) → chi2 = (2-6)²/8 = 2, cc = 9/8
    val df = (Seq.fill(5)((false, false)) ++ Seq.fill(2)((false, true)) ++
      Seq.fill(6)((true, false)) ++ Seq.fill(3)((true, true)))
      .toDF("p", "q").repartition(3)
    val r = Epi.mcnemarDF(df, col("p"), col("q")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 2L, 6L, 3L)))
    assert(r.getDouble(4) == 2.0 && r.getDouble(5) == 1.125)
    // all-concordant: the test is undefined, not zero
    val conc = Seq((true, true), (false, false)).toDF("p", "q")
    val rc = Epi.mcnemarDF(conc, col("p"), col("q")).head()
    assert(rc.isNullAt(4) && rc.isNullAt(5))
  }

  test("rate ratio: hand-computed person-time example") {
    // arm1: 3 events over 100 days; arm2: 1 event over 200 days → IRR 6
    val df = (Seq.fill(3)((true, true, 10L)) ++ Seq.fill(7)((true, false, 10L)) ++
      Seq.fill(1)((false, true, 50L)) ++ Seq.fill(3)((false, false, 50L)))
      .toDF("g", "e", "t").repartition(3)
    val r = Epi.rateRatioDF(df, col("g"), col("e"), "t")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert((r._1, r._2, r._3, r._4) == ((3L, 1L, 100L, 200L)))
    assert(math.abs(r._5 - 6.0) < 1e-6)                 // (3/100)/(1/200)
    // z = (a·T − n·t1)/sqrt(n·t1·t2) = (3·300 − 4·100)/sqrt(4·100·200)
    assert(math.abs(r._6 - 500.0 / math.sqrt(80000.0)) < 1e-6)
  }

  test("Mantel-Haenszel: hand-computed stratified example") {
    // stratum s1: a=2 b=1 c=1 d=2 (n=6); stratum s2: a=1 b=2 c=2 d=1 (n=6)
    def rows(s: String, x: Boolean, y: Boolean, k: Int) =
      Seq.fill(k)((s, x, y))
    val df = (rows("s1", true, true, 2) ++ rows("s1", true, false, 1) ++
      rows("s1", false, true, 1) ++ rows("s1", false, false, 2) ++
      rows("s2", true, true, 1) ++ rows("s2", true, false, 2) ++
      rows("s2", false, true, 2) ++ rows("s2", false, false, 1))
      .toDF("s", "x", "y").repartition(3)
    val r = Epi.mantelHaenszelDF(df, "s", col("x"), col("y"))
      .collect()
    val r1 = r(0); val r2 = r(1)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4)) ==
      ((2L, 1L, 1L, 2L)))
    assert(math.abs(r1.getDouble(5) - 4.0) < 1e-6)          // OR s1 = 2*2/(1*1)
    assert(math.abs(r2.getDouble(5) - 0.25) < 1e-6)         // OR s2 = 1*1/(2*2)
    assert(math.abs(r1.getDouble(6) - 2.0) < 1e-6)          // RR s1 = (2/3)/(1/3)
    // MH pooled: num = 2*2/6 + 1*1/6 = 5/6; den = 1*1/6 + 2*2/6 = 5/6 → 1.0
    assert(math.abs(r2.getDouble(7) - 1.0) < 1e-6)
    // CMH: a_run = 3, e_run = 3/2·3/6·... per stratum e = (a+b)(a+c)/n = 3·3/6 = 1.5
    assert(r2.getLong(8) == 3L)
    assert(math.abs(r2.getDouble(9) - 3.0) < 1e-6)
    // v per stratum = 3·3·3·3/(36·5) = 81/180 = 0.45 → v_run = 0.9
    assert(math.abs(r2.getDouble(10) - 0.9) < 1e-6)
    assert(math.abs(r2.getDouble(11) - 0.0) < 1e-6)         // (3-3)²/0.9
  }

  test("Friedman: hand-computed blocked ranks with ties") {
    // blocks × treatments (k=3): b1 (1,2,3) → ranks 1,2,3; b2 (2,2,5) →
    // ranks 1.5,1.5,3 (doubled 3,3,6); b3 (3,1,2) → ranks 3,1,2
    val df = Seq(
      ("b1", "t1", 1L), ("b1", "t2", 2L), ("b1", "t3", 3L),
      ("b2", "t1", 2L), ("b2", "t2", 2L), ("b2", "t3", 5L),
      ("b3", "t1", 3L), ("b3", "t2", 1L), ("b3", "t3", 2L))
      .toDF("blk", "trt", "v").repartition(3)
    val r = RankTests.friedmanDF(df, "blk", "trt", "v").collect()
    // doubled rank sums: t1 = 2+3+6 = 11, t2 = 4+3+2 = 9, t3 = 6+6+4 = 16
    assert(r.map(x => (x.getString(0), x.getLong(2))).toSeq ==
      Seq(("t1", 11L), ("t2", 9L), ("t3", 16L)))
    assert(r.head.getLong(3) == 3L && r.head.getLong(4) == 3L)
    assert(r.head.getLong(5) == 6L)                      // one tie pair: 2³-2
    val sumR2 = Seq(5.5, 4.5, 8.0).map(x => x * x).sum
    val chi2 = 12.0 / (3.0 * 3 * 4) * sumR2 - 3.0 * 3 * 4
    assert(math.abs(r.last.getDouble(6) - chi2) < 1e-6)
    val corr = 1.0 - 6.0 / (3.0 * 3 * (9 - 1))
    assert(math.abs(r.last.getDouble(7) - chi2 / corr) < 1e-6)
  }

  test("Friedman: distributed equals the driver rank sweep") {
    val rng = new scala.util.Random(71)
    val data = for (b <- 0 until 400; t <- 0 until 4)
      yield (s"b$b", s"t$t", rng.nextInt(8).toLong)
    val df = data.toDF("blk", "trt", "v").repartition(9)
    val r = RankTests.friedmanDF(df, "blk", "trt", "v").collect()
    val byBlock = data.groupBy(_._1)
    val rankSums = scala.collection.mutable.Map.empty[String, Double]
    var tie = 0L
    byBlock.values.foreach { rows =>
      val sorted = rows.map(_._3).sorted
      val rankOf = sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2 + 1).sum.toDouble / xs.size }
      rows.foreach { case (_, t, v) =>
        rankSums(t) = rankSums.getOrElse(t, 0.0) + rankOf(v) }
      tie += sorted.groupBy(identity).values
        .map(_.size.toLong).map(t => t * t * t - t).sum
    }
    r.foreach { row =>
      assert(row.getLong(2) == math.round(2 * rankSums(row.getString(0))))
    }
    assert(r.head.getLong(3) == 400L && r.head.getLong(5) == tie)
    val n = 400.0; val k = 4.0
    val chi2 = 12.0 / (n * k * (k + 1)) * rankSums.values.map(x => x * x).sum -
      3.0 * n * (k + 1)
    assert(math.abs(r.last.getDouble(6) - chi2) < 1e-4)
  }

  test("Cochran-Armitage: hand-computed dose-response trend") {
    // doses 0,1,2 with n = 4 each; outcomes r = 0, 2, 4 — perfect trend
    val df = (Seq.fill(4)((0L, false)) ++
      Seq.fill(2)((1L, true)) ++ Seq.fill(2)((1L, false)) ++
      Seq.fill(4)((2L, true))).toDF("w", "y").repartition(3)
    val r = Epi.cochranArmitageDF(df, "w", col("y"))
      .as[(Long, Long, Long, Long, Long, Double)].head()
    // N=12 R=6 Σwn=12 Σwr=10 Σw²n=20
    assert((r._1, r._2, r._3, r._4, r._5) == ((12L, 6L, 12L, 10L, 20L)))
    val z = (12.0 * 10 - 12.0 * 6) /
      math.sqrt(6.0 * 6 * (12.0 * 20 - 12.0 * 12) / 12.0)
    assert(math.abs(r._6 - z) < 1e-6)
    // flat outcome rate across doses scores z = 0
    val flat = (Seq.fill(2)((0L, true)) ++ Seq.fill(2)((0L, false)) ++
      Seq.fill(2)((1L, true)) ++ Seq.fill(2)((1L, false))).toDF("w", "y")
    assert(Epi.cochranArmitageDF(flat, "w", col("y"))
      .as[(Long, Long, Long, Long, Long, Double)].head()._6 == 0.0)
  }

  test("Breslow-Day: opposite ORs score positive, identical ORs score zero") {
    def rows(s: String, x: Boolean, y: Boolean, k: Int) =
      Seq.fill(k)((s, x, y))
    // the MH hand example: OR 4 vs OR 1/4, pooled psi = 1 exactly →
    // the linear (psi = 1) branch: a_exp = n1*m1/T = 1.5 per stratum,
    // term = (a - 1.5)^2 * 4/1.5 → 2/3 each, BD = 4/3
    val het = (rows("s1", true, true, 2) ++ rows("s1", true, false, 1) ++
      rows("s1", false, true, 1) ++ rows("s1", false, false, 2) ++
      rows("s2", true, true, 1) ++ rows("s2", true, false, 2) ++
      rows("s2", false, true, 2) ++ rows("s2", false, false, 1))
      .toDF("s", "x", "y").repartition(3)
    val r = Epi.breslowDayDF(het, "s", col("x"), col("y")).collect()
    assert(math.abs(r(0).getDouble(5) - 1.5) < 1e-6)
    assert(math.abs(r(0).getDouble(6) - 2.0 / 3) < 1e-6)
    assert(math.abs(r(1).getDouble(7) - 4.0 / 3) < 1e-6)
    // two strata with the SAME OR: every a equals its expectation → BD 0
    val hom = (rows("s1", true, true, 4) ++ rows("s1", true, false, 2) ++
      rows("s1", false, true, 2) ++ rows("s1", false, false, 4) ++
      rows("s2", true, true, 8) ++ rows("s2", true, false, 4) ++
      rows("s2", false, true, 4) ++ rows("s2", false, false, 8))
      .toDF("s", "x", "y")
    val h = Epi.breslowDayDF(hom, "s", col("x"), col("y")).collect()
    assert(math.abs(h.last.getDouble(7)) < 1e-9)
  }

  test("Mantel-Haenszel: distributed equals the driver sweep") {
    val rng = new scala.util.Random(41)
    val data = Seq.fill(5000)(
      (s"st${rng.nextInt(5)}", rng.nextBoolean(), rng.nextInt(4) == 0))
    val df = data.toDF("s", "x", "y").repartition(8)
    val r = Epi.mantelHaenszelDF(df, "s", col("x"), col("y")).collect()
    var (num, den, aRun, eRun, vRun) = (0.0, 0.0, 0L, 0.0, 0.0)
    data.groupBy(_._1).toSeq.sortBy(_._1).zip(r).foreach { case ((st, g), got) =>
      val a = g.count(x => x._2 && x._3).toLong
      val b = g.count(x => x._2 && !x._3).toLong
      val c = g.count(x => !x._2 && x._3).toLong
      val d = g.count(x => !x._2 && !x._3).toLong
      val n = (a + b + c + d).toDouble
      num += a * d / n; den += b * c / n; aRun += a
      eRun += (a + b) * (a + c) / n
      vRun += (a + b).toDouble * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
      assert(got.getString(0) == st)
      assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4)) ==
        ((a, b, c, d)))
      assert(math.abs(got.getDouble(7) - num / den) < 1e-5)
      assert(math.abs(got.getDouble(11) -
        (aRun - eRun) * (aRun - eRun) / vRun) < 1e-4)
    }
  }

  test("cochranQDF: textbook 3-treatment example") {
    import spark.implicits._
    // blocks (x1, x2, x3); hand Q via the closed form
    val rows = Seq(
      (true, true, false), (true, false, false), (false, true, true),
      (true, true, true), (false, false, false), (true, false, true),
      (false, true, false), (true, true, false))
    val df = rows.toDF("x1", "x2", "x3")
    val r = graft.stats.Epi.cochranQDF(df,
      Seq(org.apache.spark.sql.functions.col("x1"),
        org.apache.spark.sql.functions.col("x2"),
        org.apache.spark.sql.functions.col("x3")))
      .collect()(0)
    val c = Seq(rows.count(_._1), rows.count(_._2), rows.count(_._3)).map(_.toLong)
    val rs = rows.map(t => Seq(t._1, t._2, t._3).count(identity).toLong)
    val qRef = 2.0 * (3.0 * c.map(x => x.toDouble * x).sum -
      math.pow(c.sum.toDouble, 2)) /
      (3.0 * rs.sum - rs.map(x => x * x).sum)
    assert(r.getLong(0) == 8L)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((c(0), c(1), c(2))))
    assert(math.abs(r.getDouble(4) - qRef) < 1e-6) // engine rounds Q to 6
  }

  test("Nelson-Aalen: hand-computed cumulative hazard and variance") {
    val df = cohort.toDF("t", "ev").repartition(3)
    val r = Survival.nelsonAalenDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    // H accumulates d/n at event times only; var accumulates d/n²
    val hAt = r.map(x => x._1 -> x._5).toMap
    assert(hAt(3L) == 0.1)                    // 1/10
    assert(hAt(5L) == 0.35)                   // + 2/8
    assert(hAt(8L) == 0.55)                   // + 1/5
    assert(hAt(11L) == 0.883333)              // + 1/3
    assert(hAt(12L) == 1.383333)              // + 1/2
    val vAt = r.map(x => x._1 -> x._6).toMap
    assert(vAt(8L) == 0.08125)                // 1/100 + 2/64 + 1/25
    assert(vAt(12L) == 0.44236111)            // + 1/9 + 1/4
  }

  // two-arm cohort with real separation of ship-rate between arms
  private val coxCohort = Seq(
    // (time, event, g1)
    (2L, true, true), (3L, true, true), (3L, true, false), (4L, false, true),
    (5L, true, false), (6L, true, true), (7L, false, false), (8L, true, false),
    (9L, true, true), (10L, false, false), (11L, true, false), (12L, true, true))

  /** Naive O(n·times) Breslow partial log-likelihood straight from the
    * definition — an independent code path to pin the fit against. */
  private def naiveLL(beta: Double): Double = {
    val eventTimes = coxCohort.filter(_._2).map(_._1).distinct.sorted
    eventTimes.map { t =>
      val d1 = coxCohort.count(r => r._1 == t && r._2 && r._3)
      val d = coxCohort.count(r => r._1 == t && r._2)
      val riskSum = coxCohort.filter(_._1 >= t)
        .map(r => if (r._3) math.exp(beta) else 1.0).sum
      beta * d1 - d * math.log(riskSum)
    }.sum
  }

  test("Greenwood bands: hand-computed variance chain on the classic cohort") {
    val df = cohort.toDF("t", "ev").repartition(3)
    val r = Survival.kaplanMeierGreenwoodDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)].collect()
    // matches kaplanMeierDF on the shared columns
    val km = Survival.kaplanMeierDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(r.map(x => (x._1, x._2, x._3, x._4, x._5)).toSeq == km.toSeq)
    // driver replay: g = Σ d/(n(n−d)), se = S·√g, band clamps to [0,1]
    var s = 1.0; var g = 0.0
    r.foreach { case (_, n, d, _, surv, se, lo, hi) =>
      s *= (n - d).toDouble / n
      if (d < n) g += d.toDouble / (n.toDouble * (n - d))
      val sew = s * math.sqrt(g)
      assert(math.abs(se - sew) < 1e-6, s"se $se vs $sew")
      assert(math.abs(lo - math.max(0.0, s - 1.96 * sew)) < 1e-6)
      assert(math.abs(hi - math.min(1.0, s + 1.96 * sew)) < 1e-6)
      assert(lo >= 0.0 && hi <= 1.0 && lo <= surv + 1e-9 && surv <= hi + 1e-9)
    }
  }

  test("Greenwood bands: se/lo/hi pin to exactly 0 after the risk set dies") {
    val df = Seq((1L, true), (2L, true), (2L, true)).toDF("t", "ev")
    val r = Survival.kaplanMeierGreenwoodDF(df, "t", col("ev"))
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(r.last == ((2L, 2L, 2L, 0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("stratified KM: each stratum's curve equals its own pooled KM; no global window") {
    val rng = new scala.util.Random(47)
    val data = Seq.fill(1500)(
      (s"g${rng.nextInt(3)}", rng.nextInt(30).toLong + 1L, rng.nextBoolean()))
    val df = data.toDF("g", "t", "ev").repartition(7)
    val strat = Survival.kaplanMeierByGroupDF(df, "g", "t", col("ev"))
    // per-stratum slices match running kaplanMeierDF on that stratum alone
    Seq("g0", "g1", "g2").foreach { g =>
      val slice = strat.where(col("grp") === g).drop("grp")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val solo = Survival.kaplanMeierDF(
        df.where(col("g") === g), "t", col("ev"))
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(slice == solo, s"stratum $g diverges")
    }
    // the scale property: NO partition-less window anywhere in the plan
    val globals = strat.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "stratified KM must not use a global window")
  }

  test("RMST: hand-computed step-curve area with tail and horizon clamp") {
    val df = cohort.toDF("t", "ev").repartition(3)
    // survival steps on the classic cohort (from the KM test): S changes
    // only at event times 3, 5, 8, 11, 12
    val s = Map(3L -> 0.9, 4L -> 0.9, 5L -> 0.675, 6L -> 0.675, 8L -> 0.54,
      10L -> 0.54, 11L -> 0.36, 12L -> 0.18)
    // tau beyond the last time: area = Σ S(prev)·Δt + S(12)·(20−12)
    val r20 = Survival.rmstDF(df, "t", col("ev"), tau = 20L)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    val times = Seq(3L, 4L, 5L, 6L, 8L, 10L, 11L, 12L)
    var area = 0.0; var prevS = 1.0; var prevT = 0L
    times.foreach { tt => area += prevS * (tt - prevT); prevS = s(tt); prevT = tt }
    area += s(12L) * (20L - 12L)
    assert(math.abs(r20.last._6 - area) < 1e-5, s"${r20.last._6} vs $area")
    // tau INSIDE the curve: increments clamp, later rows add nothing
    val r7 = Survival.rmstDF(df, "t", col("ev"), tau = 7L)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    // spans (0,3] (3,4] (4,5] (5,6] and the clamped (6,7] slice of (6,8]
    val want7 = 1.0 * 3 + 0.9 * 1 + 0.9 * 1 + 0.675 * 1 + 0.675 * 1
    assert(math.abs(r7.last._6 - want7) < 1e-5, s"${r7.last._6} vs $want7")
  }

  test("competing risks CIF: cif1 + cif2 + survival = 1; matches driver replay") {
    val rng = new scala.util.Random(53)
    // three outcomes: cause1, cause2, censored
    val data = Seq.fill(2000) {
      val k = rng.nextInt(3)
      (rng.nextInt(25).toLong + 1L, k == 0, k == 1)
    }
    val df = data.toDF("t", "c1", "c2").repartition(6)
    val r = Survival.cumulativeIncidenceDF(df, "t", col("c1"), col("c2"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect()
    // driver replay of the Aalen–Johansen recursion
    var atRisk = data.size.toLong; var sPrev = 1.0; var f1 = 0.0; var f2 = 0.0
    data.groupBy(_._1).toSeq.sortBy(_._1).zip(r).foreach { case ((tt, g), got) =>
      val d1 = g.count(_._2).toLong
      val d2 = g.count(x => x._3 && !x._2).toLong
      val c = g.size - d1 - d2
      f1 += sPrev * d1.toDouble / atRisk
      f2 += sPrev * d2.toDouble / atRisk
      val sNow = sPrev * (atRisk - d1 - d2).toDouble / atRisk
      assert(got._1 == tt && got._2 == atRisk && got._3 == d1 &&
        got._4 == d2 && got._5 == c)
      assert(math.abs(got._6 - sNow) < 1e-6)
      assert(math.abs(got._7 - f1) < 1e-6)
      assert(math.abs(got._8 - f2) < 1e-6)
      // the AJ identity, exact up to rounding
      assert(math.abs(got._6 + got._7 + got._8 - 1.0) < 3e-6)
      sPrev = sNow; atRisk -= g.size
    }
  }

  test("coxBinaryFitDistributed: equals the driver fit; layout-proof") {
    val df = coxCohort.toDF("t", "ev", "g").repartition(4)
    val frame = Survival.twoGroupTimeFrame(df, "t", col("ev"), col("g"))
    val driver = Survival.coxBinaryFit(frame)
    val dist = Survival.coxBinaryFitDistributed(frame)
    assert(dist.converged)
    // the decimal fold truncates each term at 1e-18 — β agrees with the
    // driver's sequential-double loop far below the Newton tolerance
    assert(math.abs(dist.beta - driver.beta) < 1e-9,
      s"${dist.beta} vs ${driver.beta}")
    assert(math.abs(dist.se - driver.se) < 1e-9)
    // decimal addition is associative: bit-identical on ANY partitioning
    val fits = Seq(1, 7, 32).map { p =>
      Survival.coxBinaryFitDistributed(Survival.twoGroupTimeFrame(
        coxCohort.toDF("t", "ev", "g").repartition(p), "t", col("ev"), col("g")))
    }
    assert(fits.forall(f => f.beta == fits.head.beta && f.se == fits.head.se
      && f.iters == fits.head.iters))
    // and it maximizes the independent naive likelihood
    val ll = naiveLL(dist.beta)
    assert(ll >= naiveLL(dist.beta + 1e-4) && ll >= naiveLL(dist.beta - 1e-4))
  }

  test("coxBinaryFitCollected: BIT-identical to the distributed fit") {
    // the r50 fast path replicates the distributed decimal fold on the
    // driver — (beta, se, iters, converged) must match EXACTLY, on any
    // partitioning, or the exported-β oracle contract breaks
    Seq(1, 4, 32).foreach { p =>
      val frame = Survival.twoGroupTimeFrame(
        coxCohort.toDF("t", "ev", "g").repartition(p), "t", col("ev"), col("g"))
      val dist = Survival.coxBinaryFitDistributed(frame)
      val coll = Survival.coxBinaryFitCollected(frame)
      assert(coll.beta == dist.beta, s"p=$p: ${coll.beta} vs ${dist.beta}")
      assert(coll.se == dist.se && coll.iters == dist.iters &&
        coll.converged == dist.converged)
    }
  }

  test("coxBinaryFit: maximizes the Breslow partial likelihood; layout-proof") {
    val df = coxCohort.toDF("t", "ev", "g").repartition(4)
    val frame = Survival.twoGroupTimeFrame(df, "t", col("ev"), col("g"))
    val fit = Survival.coxBinaryFit(frame)
    assert(fit.converged)
    // the fitted beta beats its neighbourhood under the independent LL
    val ll = naiveLL(fit.beta)
    assert(ll >= naiveLL(fit.beta + 1e-4) && ll >= naiveLL(fit.beta - 1e-4))
    // bit-deterministic on any layout
    val fit1 = Survival.coxBinaryFit(Survival.twoGroupTimeFrame(
      coxCohort.toDF("t", "ev", "g").repartition(1), "t", col("ev"), col("g")))
    assert(fit1.beta == fit.beta && fit1.se == fit.se)
    // score diagnostics: u_run's last row ~ 0 at the optimum
    val score = Survival.coxScoreDF(frame, fit.beta)
      .select("u_run").as[Double].collect()
    assert(math.abs(score.last) < 1e-5)
  }

  test("an all-NULL input gives an empty curve") {
    val df = Seq.fill(5)((Option.empty[Long], Option.empty[Boolean], Option.empty[Boolean]))
      .toDF("t", "ev", "g")
    val curves = Seq(
      "kaplanMeierDF" -> Survival.kaplanMeierDF(df, "t", col("ev")),
      "kaplanMeierGreenwoodDF" -> Survival.kaplanMeierGreenwoodDF(df, "t", col("ev")),
      "rmstDF" -> Survival.rmstDF(df, "t", col("ev"), 10L),
      "nelsonAalenDF" -> Survival.nelsonAalenDF(df, "t", col("ev")),
      "logRankDF" -> Survival.logRankDF(df, "t", col("ev"), col("g")),
      "cumulativeIncidenceDF" -> Survival.cumulativeIncidenceDF(df, "t", col("ev"), col("g")))
    curves.foreach { case (name, c) => assert(c.collect().isEmpty, name) }
  }

  test("building a Kaplan-Meier curve runs only the prefix's jobs") {
    val df = cohort.toDF("t", "ev").repartition(3)
    val (n, _) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      Survival.kaplanMeierDF(df, "t", col("ev")))
    // first pin (the repartition's and the groupBy's map stages, its
    // result), the range sampling, the second pin (map stage, result) and
    // the shard-totals collect (map stage, result); N is a prefix total,
    // not one more aggregate
    assert(n == 8, s"$n jobs")
  }
}
