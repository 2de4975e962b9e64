package graft.stats

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RankTestsSpec extends SparkSpec {
  import spark.implicits._

  test("Mann-Whitney: hand-computed ties example") {
    // A = {1, 2, 2}, B = {2, 3} → U_A = 1.0 (one tie pair at ½ each of two
    // a=2 vs b=2), tie term = 3³-3 = 24, z = -2 / sqrt(2.4)
    val df = Seq((1.0, true), (2.0, true), (2.0, true), (2.0, false),
      (3.0, false)).toDF("x", "a")
    val r = RankTests.mannWhitneyDF(df, "x", col("a"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r._1 == 3L && r._2 == 2L && r._3 == 2L && r._4 == 24L)
    assert(math.abs(r._5 - (-2.0 / math.sqrt(2.4))) < 1e-12)
  }

  test("Mann-Whitney: distributed equals the O(n^2) pair definition") {
    val rng = new scala.util.Random(7)
    val as = Seq.fill(200)(rng.nextInt(12).toDouble)
    val bs = Seq.fill(300)(rng.nextInt(12).toDouble + rng.nextInt(2))
    val df = (as.map((_, true)) ++ bs.map((_, false))).toDF("x", "a")
      .repartition(7) // arbitrary layout; sharded prefix must not care
    val r = RankTests.mannWhitneyDF(df, "x", col("a"))
      .as[(Long, Long, Long, Long, Double)].head()
    val u2Ref = (for (a <- as; b <- bs) yield
      if (a > b) 2L else if (a == b) 1L else 0L).sum
    assert((r._1, r._2, r._3) == (200L, 300L, u2Ref))
    val n = 500.0
    val t = (as ++ bs).groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    assert(r._4 == t)
    val zRef = (u2Ref / 2.0 - 200.0 * 300.0 / 2.0) /
      math.sqrt(200.0 * 300.0 * ((n + 1.0) - t / (n * (n - 1.0))) / 12.0)
    assert(math.abs(r._5 - zRef) < 1e-12)
  }

  test("KS: hand-computed example and pair-free exactness") {
    // A = {1, 3}, B = {2, 3}: ECDF gap peaks at v=1 (1/2 - 0) → D = 1/2
    val df = Seq((1.0, true), (3.0, true), (2.0, false), (3.0, false))
      .toDF("x", "a")
    val r = RankTests.ksDF(df, "x", col("a"))
      .as[(Long, Long, Long, Double)].head()
    assert(r == ((2L, 2L, 2L, 0.5)))
  }

  test("KS: distributed equals the driver ECDF sweep on messy data") {
    val rng = new scala.util.Random(11)
    val as = Seq.fill(150)(rng.nextGaussian())
    val bs = Seq.fill(250)(rng.nextGaussian() + 0.3)
    val df = (as.map((_, true)) ++ bs.map((_, false))).toDF("x", "a")
      .repartition(5)
    val r = RankTests.ksDF(df, "x", col("a"))
      .as[(Long, Long, Long, Double)].head()
    val values = (as ++ bs).distinct.sorted
    val dNumRef = values.map { v =>
      val ia = as.count(_ <= v).toLong
      val ib = bs.count(_ <= v).toLong
      math.abs(ia * 250L - ib * 150L)
    }.max
    assert((r._1, r._2, r._3) == ((150L, 250L, dNumRef)))
    assert(r._4 == dNumRef.toDouble / (150.0 * 250.0))
  }

  test("NULL values and NULL group flags drop before counting") {
    val df = Seq((Some(1.0), Some(true)), (None, Some(true)),
      (Some(2.0), None), (Some(2.0), Some(false))).toDF("x", "a")
    val r = RankTests.mannWhitneyDF(df, "x", col("a"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r._1 == 1L && r._2 == 1L)
  }

  // driver-side reference: average ranks (ties), then the H formula
  private def kwRef(data: Seq[(Double, String)]): (Double, Double) = {
    val n = data.size
    val sorted = data.map(_._1).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2 + 1).sum.toDouble / xs.size }
    val s = data.groupBy(_._2).values
      .map { g => val r = g.map(x => rankOf(x._1)).sum; r * r / g.size }.sum
    val h = 12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0)
    val tie = sorted.groupBy(identity).values.map(_.size.toLong)
      .map(t => t * t * t - t).sum
    (h, h / (1.0 - tie.toDouble / (n.toDouble * n * n - n)))
  }

  test("Kruskal-Wallis: hand-computed 3-group example with ties") {
    // A = {1, 2}, B = {2, 3}, C = {3, 3}: doubled ranks 2·{1, 2.5, 2.5, 5, 5, 5}
    val df = Seq((1.0, "A"), (2.0, "A"), (2.0, "B"), (3.0, "B"),
      (3.0, "C"), (3.0, "C")).toDF("x", "g")
    val rows = RankTests.kruskalWallisDF(df, "x", "g")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq("A", "B", "C"))
    // doubled rank sums: A = 2 + 5 = 7, B = 5 + 10 = 15, C = 10 + 10 = 20
    assert(rows.map(_._3).toSeq == Seq(7L, 15L, 20L))
    assert(rows.forall(r => r._4 == 6L))
    // ties: one pair (t=2) and one triple (t=3) → 6 + 24 = 30
    assert(rows.forall(r => r._5 == 30L))
    val (h, hc) = kwRef(Seq((1.0, "A"), (2.0, "A"), (2.0, "B"), (3.0, "B"),
      (3.0, "C"), (3.0, "C")))
    assert(math.abs(rows.last._6 - h) < 5e-7)
    assert(math.abs(rows.last._7 - hc) < 5e-7)
  }

  test("Kruskal-Wallis: distributed equals the driver rank formula") {
    val rng = new scala.util.Random(13)
    val data = Seq.fill(600)(
      (rng.nextInt(25).toDouble, s"g${rng.nextInt(4)}"))
    val df = data.toDF("x", "g").repartition(9)
    val rows = RankTests.kruskalWallisDF(df, "x", "g")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    val (h, hc) = kwRef(data)
    assert(rows.last._4 == 600L)
    assert(math.abs(rows.last._6 - h) < 5e-7)
    assert(math.abs(rows.last._7 - hc) < 5e-7)
    // per-group sizes agree with the data
    val sizes = data.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r._2 == sizes(r._1)))
  }

  test("Spearman: monotone data gives rho 1, anti-monotone gives -1") {
    val up = (1 to 50).map(i => (i.toDouble, (i * i).toDouble))
    assert(RankTests.spearmanDF(up.toDF("x", "y"), "x", "y")
      .select(col("rho")).as[Double].head() == 1.0)
    val down = (1 to 50).map(i => (i.toDouble, (100 - i).toDouble))
    assert(RankTests.spearmanDF(down.toDF("x", "y"), "x", "y")
      .select(col("rho")).as[Double].head() == -1.0)
  }

  test("Spearman: distributed equals the driver rank Pearson under ties") {
    val rng = new scala.util.Random(17)
    val data = Seq.fill(500)(
      (rng.nextInt(20).toDouble, rng.nextInt(30).toDouble))
    val df = data.toDF("x", "y").repartition(7)
    val got = RankTests.spearmanDF(df, "x", "y")
      .select(col("rho")).as[Double].head()
    def ranks(vs: Seq[Double]): Map[Double, Double] =
      vs.sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2 + 1).sum.toDouble / xs.size }
    val rx = ranks(data.map(_._1)); val ry = ranks(data.map(_._2))
    val pts = data.map { case (x, y) => (rx(x), ry(y)) }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val ref = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(got - ref) < 5e-7)
  }

  test("kendallTauDF: driver all-pairs replay with ties; monotone data → 1") {
    val rng = new scala.util.Random(29)
    val data = Seq.fill(300)((rng.nextInt(6).toDouble, rng.nextInt(4).toDouble))
    val r = RankTests.kendallTauDF(data.toDF("x", "y").repartition(7),
      "x", "y").as[(Long, Long, Long, Long, Double)].head()
    // driver O(n²) reference
    var conc = 0L; var disc = 0L
    for (i <- data.indices; j <- (i + 1) until data.size) {
      val s = (data(i)._1 - data(j)._1) * (data(i)._2 - data(j)._2)
      if (s > 0) conc += 1 else if (s < 0) disc += 1
    }
    val n = data.size.toDouble
    val n0 = n * (n - 1) / 2.0
    def tieMass(vs: Seq[Double]): Double =
      vs.groupBy(identity).values.map(g => g.size.toDouble * (g.size - 1)).sum / 2.0
    val tau = (conc - disc) / math.sqrt(
      (n0 - tieMass(data.map(_._1))) * (n0 - tieMass(data.map(_._2))))
    assert(r._1 == 300L && r._3 == conc && r._4 == disc)
    assert(math.abs(r._5 - tau) < 5e-7)
    // perfectly monotone, tie-free data → τ = 1
    val mono = (1 to 50).map(i => (i.toDouble, i * 2.0))
    val rm = RankTests.kendallTauDF(mono.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(rm._5 == 1.0 && rm._4 == 0L)
  }

  test("theilSenDF: driver all-pairs weighted median; exact line recovers slope") {
    val rng = new scala.util.Random(31)
    val data = Seq.fill(250)((rng.nextInt(8).toDouble, rng.nextInt(5).toDouble))
    val r = RankTests.theilSenDF(data.toDF("x", "y").repartition(7), "x", "y")
      .as[(Long, Long, Double)].head()
    // driver O(n²) reference: the same interpolating weighted median
    val slopes = (for {
      i <- data.indices; j <- data.indices
      if data(j)._1 > data(i)._1
    } yield (data(j)._2 - data(i)._2) / (data(j)._1 - data(i)._1)).sorted
    val w = slopes.size.toLong
    val ref = (slopes(((w + 1) / 2).toInt - 1) + slopes(((w + 2) / 2).toInt - 1)) / 2.0
    assert(r._1 == 250L && r._2 == w)
    assert(java.lang.Double.doubleToLongBits(r._3) ==
      java.lang.Double.doubleToLongBits(ref))
    // exact linear data → exact slope, any layout
    val line = (1 to 40).map(i => (i.toDouble, 3.0 * i + 7.0))
    for (p <- Seq(1, 7, 32)) {
      val rl = RankTests.theilSenDF(line.toDF("x", "y").repartition(p), "x", "y")
        .as[(Long, Long, Double)].head()
      assert(rl._3 == 3.0, s"partitions=$p")
    }
  }

  test("runsTestDF: hand-counted runs; alternating sequence z > 0, sorted z < 0") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // key a: values 1,9,1,9,1,9 around median 5 → perfectly alternating:
    // n1=n2=3, R=6 (max) → z = (6 - 4)/sigma > 0
    val alt = (1 to 6).map(i => ("a", ts(i), i.toLong, if (i % 2 == 0) 9.0 else 1.0))
    // key b: 1,1,1,9,9,9 → R=2 (min) → z < 0
    val sorted = (1 to 6).map(i => ("b", ts(i), i.toLong + 10, if (i <= 3) 1.0 else 9.0))
    val df = (alt ++ sorted).toDF("k", "t", "id", "v").repartition(5)
    val r = RankTests.runsTestDF(df, "k", "t", "id", "v")
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    val byK = r.map(t => t._1 -> t).toMap
    assert(byK("a") == (("a", 3L, 3L, 6L, byK("a")._5)) && byK("a")._5.get > 0)
    assert(byK("b") == (("b", 3L, 3L, 2L, byK("b")._5)) && byK("b")._5.get < 0)
    // ties with the median drop: add median-valued rows, counts unchanged
    val withTies = (alt ++ sorted ++ Seq(("a", ts(7), 99L, 5.0))).toDF("k", "t", "id", "v")
    val rt = RankTests.runsTestDF(withTies, "k", "t", "id", "v")
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    assert(rt.find(_._1 == "a").get._4 == 6L)
  }

  test("brunnerMunzelDF: the published lawstat pain-score example") {
    // Brunner & Munzel (2000) example as shipped in R's
    // lawstat::brunner.munzel.test docs: statistic 3.1375, df 17.683,
    // estimate P(X<Y)+.5P(X=Y) = 0.788961
    val x = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1).map(_.toDouble)
    val y = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4).map(_.toDouble)
    val df = (x.map((_, true)) ++ y.map((_, false)))
      .toDF("v", "a").repartition(5)
    val r = RankTests.brunnerMunzelDF(df, "v", col("a")).head()
    assert(r.getLong(0) == 14L && r.getLong(1) == 11L)
    assert(math.abs(r.getDouble(2) - 0.788961) < 1e-5, s"p_hat=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 3.1375) < 1e-3, s"w_bm=${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 17.683) < 1e-2, s"df=${r.getDouble(4)}")
  }

  test("brunnerMunzelDF: matches a direct rank fold on tied data, any layout") {
    val data = (1 to 200).map { i =>
      val a = i % 3 != 0
      val v = (if (a) i % 7 else i % 9).toDouble
      (v, a)
    }
    // independent direct implementation: explicit midranks over all rows
    val all = data.map(_._1).sorted
    def midrank(v: Double): Double = {
      val below = all.count(_ < v); val eq = all.count(_ == v)
      below + (eq + 1) / 2.0
    }
    def within(vs: Seq[Double])(v: Double): Double = {
      val below = vs.count(_ < v); val eq = vs.count(_ == v)
      below + (eq + 1) / 2.0
    }
    val xs = data.filter(_._2).map(_._1); val ys = data.filterNot(_._2).map(_._1)
    val (n1, n2) = (xs.size.toDouble, ys.size.toDouble)
    val r1 = xs.map(midrank); val r2 = ys.map(midrank)
    val (m1, m2) = (r1.sum / n1, r2.sum / n2)
    val d1 = xs.zip(r1).map { case (v, r) => r - within(xs)(v) }
    val d2v = ys.zip(r2).map { case (v, r) => r - within(ys)(v) }
    val v1 = d1.map(d => math.pow(d - (m1 - (n1 + 1) / 2), 2)).sum / (n1 - 1)
    val v2 = d2v.map(d => math.pow(d - (m2 - (n2 + 1) / 2), 2)).sum / (n2 - 1)
    val wExp = n1 * n2 * (m2 - m1) / (n1 + n2) / math.sqrt(n1 * v1 + n2 * v2)
    val pExp = (m2 - (n2 + 1) / 2.0) / n1
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(1, 8, 32).foreach { p =>
      val r = RankTests.brunnerMunzelDF(
        data.toDF("v", "a").repartition(p), "v", col("a")).head()
      assert(math.abs(r.getDouble(2) - rd(pExp)) < 1e-9, s"p=$p p_hat")
      assert(math.abs(r.getDouble(3) - rd(wExp)) < 1e-8, s"p=$p w_bm")
    }
  }

  test("moodMedianDF: hand case — global median, 2xk chi-square") {
    import org.apache.spark.sql.functions._
    // values 1..8 (cents): global interpolating median = 4.5; groups:
    // g1 = {1,2,3,4} all at-or-below, g2 = {5,6,7,8} all above -> chi2 = n
    val df = (1 to 4).map(v => ("g1", v.toDouble)) ++
      (5 to 8).map(v => ("g2", v.toDouble))
    val r = RankTests.moodMedianDF(df.toDF("g", "x").repartition(3), "x", "g")
      .as[(Double, Long, Long, Long, Double, Double)].head()
    assert(r._1 == 4.5 && r._2 == 8L && r._3 == 2L && r._4 == 2L)
    assert(r._5 == 8.0, r.toString) // perfect separation: chi2 = n
    assert(r._6 == 1.0)             // Cramer's V = 1
  }

  test("ksUniformDF: hand-computed two-limit supremum; degenerate NULL") {
    import org.apache.spark.sql.functions._
    // cents 0, 25, 100: sup gap at v=25 (F_n = 2/3 vs F0 = 1/4),
    // d_num = |2*100 - 3*25| = 125, D = 125/300
    val df = Seq(0.00, 0.25, 1.00).toDF("x").repartition(2)
    val r = RankTests.ksUniformDF(df, "x")
      .as[(Long, Double, Double, Long, Option[Double], Double)].head()
    assert(r._1 == 3L && r._2 == 0.0 && r._3 == 1.0)
    assert(r._4 == 125L && r._6 == 0.25, r.toString)
    assert(r._5.contains(0.416667))
    // constant column: span 0 -> NULL d
    val c = Seq(5.0, 5.0).toDF("x")
    val rc = RankTests.ksUniformDF(c, "x")
      .select("d").as[Option[Double]].head()
    assert(rc.isEmpty)
  }

  test("an all-NULL input gives empty Kruskal-Wallis and Friedman frames") {
    val df = Seq.fill(5)((Option.empty[Double], Option.empty[String], Option.empty[Boolean]))
      .toDF("x", "g", "a")
    assert(RankTests.kruskalWallisDF(df, "x", "g").collect().isEmpty)
    assert(RankTests.friedmanDF(df, "g", "a", "x").collect().isEmpty)
    // KS over the same input: one row with both sizes 0 and no statistic
    val ks = RankTests.ksDF(df, "x", col("a")).collect()
    assert(ks.length == 1 && ks(0).getLong(0) == 0L && ks(0).getLong(1) == 0L &&
      ks(0).isNullAt(2), ks.mkString)
  }
}
