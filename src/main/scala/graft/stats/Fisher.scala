package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fisher exact test on a 2×2 contingency table (SURVEY §2.8 R2; the
  * reference calls R's `fisher.test(...)$p.value`,
  * `Hypothesis testing R.r:551,554`).
  *
  * Two-sided p = sum of hypergeometric probabilities of all tables (same
  * margins) with probability ≤ the observed table's (R's default two-sided
  * rule), computed in log space — exact, not a chi-square approximation
  * (SURVEY §7.4 calls this out as a correctness trap).
  */
object Fisher {

  /** Table layout: a=TT, b=TF, c=FT, d=FF. */
  def exact2x2(a: Long, b: Long, c: Long, d: Long): Double = {
    val r1 = a + b; val r2 = c + d; val c1 = a + c; val n = a + b + c + d
    if (n == 0 || r1 == 0 || r2 == 0 || c1 == 0 || c1 == n) return 1.0
    val lo = math.max(0L, c1 - r2)
    val hi = math.min(r1, c1)
    def logP(x: Long): Double =
      lchoose(r1, x) + lchoose(r2, c1 - x) - lchoose(n, c1)
    val obs = logP(a)
    // R's rule: include tables with prob <= obs * (1 + 1e-7)
    val cutoff = obs + math.log1p(1e-7)
    var s = 0.0
    var x = lo
    while (x <= hi) {
      val lp = logP(x)
      if (lp <= cutoff) s += math.exp(lp)
      x += 1
    }
    math.min(1.0, s)
  }

  private def lchoose(n: Long, k: Long): Double =
    lgammaFn(n + 1.0) - lgammaFn(k + 1.0) - lgammaFn(n - k + 1.0)

  private def lgammaFn(x: Double): Double =
    org.apache.commons.math3.special.Gamma.logGamma(x)

  /** Stratified protocol: ONE pass computes every stratum's 2×2 table
    * (groupBy stratum × x × y), then exact p per stratum on the driver —
    * K strata cost one scan, not K (each table is 4 longs regardless of
    * data size). Returns stratum → (a, b, c, d, p), strata sorted. */
  def testPerGroup(df: DataFrame, groupCol: String, colA: String,
      colB: String): Seq[(String, (Long, Long, Long, Long, Double))] = {
    val counts = df
      .select(col(groupCol).cast("string").as("g"),
        col(colA).cast("boolean").as("x"), col(colB).cast("boolean").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("g").isNotNull)
      .groupBy(col("g"), col("x"), col("y")).count()
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)) -> r.getLong(3)))
    counts.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (g, cells) =>
      g -> fromCounts(cells.toMap)
    }
  }

  /** Column protocol: one `groupBy` pass over two boolean columns (NULLs
    * dropped) → 2×2 counts on the driver → exact p. Returns
    * (a, b, c, d, p). */
  def test(df: DataFrame, colA: String, colB: String): (Long, Long, Long, Long, Double) = {
    val counts = df
      .select(col(colA).cast("boolean").as("x"), col(colB).cast("boolean").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).count()
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    fromCounts(counts)
  }

  /** [[test]] over (x, y) pairs already on the driver. */
  def testPairs(xy: Iterable[(Boolean, Boolean)]): (Long, Long, Long, Long, Double) =
    fromCounts(xy.groupMapReduce(identity)(_ => 1L)(_ + _))

  private def fromCounts(counts: Map[(Boolean, Boolean), Long]): (Long, Long, Long, Long, Double) = {
    val a = counts.getOrElse((true, true), 0L)
    val b = counts.getOrElse((true, false), 0L)
    val c = counts.getOrElse((false, true), 0L)
    val d = counts.getOrElse((false, false), 0L)
    (a, b, c, d, exact2x2(a, b, c, d))
  }
}
