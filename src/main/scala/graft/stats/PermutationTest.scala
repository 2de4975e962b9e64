package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Two-sample permutation test (SURVEY §2.8 R1; behavior of `myPermTest`,
  * `Hypothesis testing R.r:393-403`): split a numeric column by a boolean
  * column (rows with NULL in either dropped), test H0: same distribution via
  * the difference-of-means statistic under label permutation.
  *
  * The reference collects both vectors into R and calls `perm::permTS`; the
  * engine ports the same execution model (vectors are per-hypothesis small —
  * collect to driver) plus a distributed resampler for wide fan-out.
  * Monte-Carlo with fixed seed; exact enumeration when the group split is
  * small enough to enumerate.
  */
object PermutationTest {

  /** Sentinel returned when the false-group has ≤ 1 element, matching the
    * reference's guard (`Hypothesis testing R.r:400-401` returns literal 2). */
  val DegenerateSentinel = 2.0

  /** Two-sided p for difference of means between a and b.
    * Exact (all C(n, |a|) splits) when that count ≤ `exactLimit`, else
    * Monte-Carlo with `nPerm` draws, p = (1 + #{|T*| ≥ |T|}) / (1 + nPerm). */
  def twoSided(a: Array[Double], b: Array[Double], nPerm: Int = 9999,
      seed: Long = 42L, exactLimit: Long = 100000L): Double = {
    val n = a.length + b.length
    val pooled = a ++ b
    // summed once, not once per draw (the same additions in the same order)
    val sum = pooled.sum
    val obs = math.abs(mean(a) - mean(b))
    val eps = 1e-12 * (1 + obs)
    if (choose(n, a.length) <= exactLimit) {
      var ge = 0L; var total = 0L
      combinations(n, a.length) { idx =>
        total += 1
        val s = idx.map(pooled).sum
        if (math.abs(s / a.length - (sum - s) / b.length) >= obs - eps) ge += 1
      }
      ge.toDouble / total
    } else {
      val rng = new scala.util.Random(seed)
      var ge = 0
      val arr = pooled.clone()
      var i = 0
      while (i < nPerm) {
        // Fisher–Yates partial shuffle: first |a| entries = permuted group A
        var j = 0
        while (j < a.length) {
          val k = j + rng.nextInt(n - j)
          val t = arr(j); arr(j) = arr(k); arr(k) = t
          j += 1
        }
        var sa = 0.0; var m = 0
        while (m < a.length) { sa += arr(m); m += 1 }
        val sb = sum - sa
        if (math.abs(sa / a.length - sb / b.length) >= obs - eps) ge += 1
        i += 1
      }
      (1.0 + ge) / (1.0 + nPerm)
    }
  }

  /** The reference's column protocol: NA-filter, split `numCol` by `boolCol`,
    * sentinel 2.0 if the false-group has ≤1 element. Driver-local math over a
    * single collect — mirrors the reference's collect-into-R model; the
    * collected vectors are two doubles per row, not the whole frame. */
  def onColumns(df: DataFrame, boolCol: String, numCol: String,
      nPerm: Int = 9999, seed: Long = 42L): Double = {
    val rows = df.select(col(boolCol).cast("boolean"), col(numCol).cast("double"))
      .where(col(boolCol).isNotNull && col(numCol).isNotNull)
      .collect()
    onRows(rows, 0, 1, nPerm, seed)
  }

  /** The column protocol over collected rows: drop rows with NULL at
    * `boolIdx` (boolean) or `numIdx` (double), split the values by the flag
    * in row order, and test them — or the sentinel when the false-group has
    * ≤ 1 element. Several tests over one collect give what each one's
    * [[onColumns]] gives, as long as the collect keeps the row order. */
  def onRows(rows: Array[Row], boolIdx: Int, numIdx: Int,
      nPerm: Int = 9999, seed: Long = 42L): Double = {
    val (t, f) = rows.filter(r => !r.isNullAt(boolIdx) && !r.isNullAt(numIdx))
      .partition(_.getBoolean(boolIdx))
    val falses = f.map(_.getDouble(numIdx))
    if (falses.length <= 1) DegenerateSentinel
    else twoSided(t.map(_.getDouble(numIdx)), falses, nPerm, seed)
  }

  /** Distributed Monte-Carlo resampling: permutations fan out over the
    * cluster (one task batch per seed range), data broadcast once. Use when
    * nPerm is large or many hypotheses run at once.
    *
    * Scale gate (`maxRows`, default 2^20): when the NA-filtered cohort
    * exceeds it, a DETERMINISTIC content-hash subsample (keep rows whose
    * xxhash64(bool, value, seed) falls under the proportional threshold —
    * layout- and partitioning-independent, the s3_hash_sample doctrine)
    * caps both the driver collect and the per-permutation O(n) work, so
    * cost stops growing with data size once the gate binds. Without it the
    * cohort at sf100 is the full fact-table column — a driver-side and
    * per-draw scale killer. Pass `maxRows = Int.MaxValue` to disable.
    *
    * Statistical caveat (and its remedy): with the default hash over
    * (bool, value) alone, DUPLICATE rows gate all-or-nothing — a whole
    * duplicate class is kept or dropped together, so on heavily
    * duplicated columns the subsample over/under-weights those classes
    * and the p-value's MC variance is higher than a uniform row sample's.
    * Pass `hashCols` (any row-distinguishing columns, e.g. the table's
    * key) to fold them into the gate hash: duplicates then gate
    * independently and the subsample approximates a true uniform row
    * sample while staying deterministic and layout-proof. `hashCols`
    * affect ONLY the gate — the test statistic still sees (bool, value). */
  def onColumnsDistributed(df: DataFrame, boolCol: String, numCol: String,
      nPerm: Int = 99999, seed: Long = 42L, maxRows: Int = 1 << 20,
      hashCols: Seq[String] = Nil): Double = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(boolCol).cast("boolean").as(boolCol) +:
        col(numCol).cast("double").as(numCol) +: hashCols.map(col): _*)
      .where(col(boolCol).isNotNull && col(numCol).isNotNull)
    val n = base.count()
    val gated =
      if (n <= maxRows) base
      else {
        // threshold on |hash| ∈ [0, Long.MaxValue): expected keep fraction
        // maxRows/n of the cohort, exact enough for a resampling cap
        val thresh = (Long.MaxValue.toDouble * (maxRows.toDouble / n)).toLong
        base.where(abs(xxhash64(col(boolCol) +: col(numCol) +:
          hashCols.map(col) :+ lit(seed): _*)) < thresh)
      }
    val rows = gated.select(col(boolCol), col(numCol)).collect()
    val (t, f) = rows.partition(_.getBoolean(0))
    // canonical ascending order per group: collect() order follows the
    // partition layout, and the pooled array's order feeds the draws — so
    // without this sort the p-value would depend on partitioning. Sorted,
    // it is a pure function of (multiset, seed), cluster-layout-proof.
    val trues = t.map(_.getDouble(1)).sorted
    val falses = f.map(_.getDouble(1)).sorted
    if (falses.length <= 1) return DegenerateSentinel
    val pooledB = spark.sparkContext.broadcast(trues ++ falses)
    val nA = trues.length
    val obs = math.abs(mean(trues) - mean(falses))
    val eps = 1e-12 * (1 + obs)
    val ge = spark.range(nPerm).mapPartitions { it =>
      val pooled = pooledB.value
      val n = pooled.length
      val total = pooled.sum
      // ONE scratch array per partition, REFILLED per draw via arraycopy:
      // the round-1 version allocated a fresh ~5 MB clone per permutation
      // (GC churn dominated); the memcpy itself is microseconds. Seeding by
      // permId keeps each draw a pure function of (seed, permId), so the
      // p-value is identical on any partition layout / cluster size.
      val arr = new Array[Double](n)
      it.map { permId =>
        System.arraycopy(pooled, 0, arr, 0, n)
        val rng = new scala.util.Random(seed + permId)
        var j = 0
        while (j < nA) {
          val k = j + rng.nextInt(n - j)
          val tmp = arr(j); arr(j) = arr(k); arr(k) = tmp
          j += 1
        }
        var sa = 0.0; var m = 0
        while (m < nA) { sa += arr(m); m += 1 }
        val d = math.abs(sa / nA - (total - sa) / (n - nA))
        if (d >= obs - eps) 1L else 0L
      }
    }.reduce(_ + _)
    (1.0 + ge) / (1.0 + nPerm)
  }

  private def mean(a: Array[Double]): Double = a.sum / a.length

  private def choose(n: Int, k: Int): Long = {
    var r = 1.0
    var i = 0
    while (i < math.min(k, n - k)) {
      r = r * (n - i) / (i + 1)
      if (r > 1e18) return Long.MaxValue
      i += 1
    }
    r.round
  }

  /** Iterate k-subsets of 0 until n. */
  private def combinations(n: Int, k: Int)(f: Array[Int] => Unit): Unit = {
    val idx = Array.tabulate(k)(identity)
    var done = false
    while (!done) {
      f(idx)
      var i = k - 1
      while (i >= 0 && idx(i) == n - k + i) i -= 1
      if (i < 0) done = true
      else {
        idx(i) += 1
        var j = i + 1
        while (j < k) { idx(j) = idx(j - 1) + 1; j += 1 }
      }
    }
  }
}
