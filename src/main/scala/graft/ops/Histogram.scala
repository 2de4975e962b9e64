package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EQUI-DEPTH histogram (the h1 equi-width query's sibling, and the
  * structure behind range-partition planning and percentile-bucket
  * feature encodings): k buckets holding ≈ n/k rows each, boundaries
  * falling where the data is dense.
  *
  * Exactness: money values scale to cent LONGs, the cumulative rank is
  * the [[ShardLookup.exclusivePrefix]] sharded prefix sum over value-level
  * counts, and the bucket of a value is `(cum·k) DIV n` — pure integer
  * floor division, so bucket edges and counts hash-replay exactly. A
  * value with multiplicity > n/k overflows its bucket rather than
  * splitting (values are atomic — the classic equi-depth caveat).
  *
  * Plan: one corpus-sized map-side-combined groupBy to value cells, the
  * sharded prefix and its total (no global sort), one k-row aggregate. */
object Histogram {

  def equiDepth(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need a positive bucket count, got $k")
    // near-unique cell key: fan a single-split scan out before the groupBy
    // (scale-adaptive no-op on pre-split inputs)
    val cells = graft.Tables.spreadForGroupBy(
      df.where(col(valueCol).isNotNull)
        .select((col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("v")),
      col("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val pref = ShardLookup.exclusivePrefix(cells, Seq(col("v")), Seq("c" -> "cum"))
    val n = pref.totals("c")
    require(n > 0, "equiDepth needs at least one non-null row")
    pref.df
      .withColumn("bucket", expr(s"cum * ${k}L DIV ${n}L"))
      .groupBy(col("bucket"))
      .agg((min(col("v")).cast("double") / lit(100.0)).as("lo"),
        (max(col("v")).cast("double") / lit(100.0)).as("hi"),
        sum(col("c")).as("cnt"))
      .orderBy(col("bucket"))
  }

  /** EQUI-WIDTH 2-D histogram (heatmap frame): `nx × ny` cells between
    * each dimension's own (min, max), counts per occupied cell. The
    * dashboard/joint-density primitive — and the diagnostic view behind
    * [[Layout.zvalue]]'s bucketing.
    *
    * Exactness: extrema are exact double SELECTIONS (min/max), identical
    * whether collected to the driver (here — one tiny job, then plan
    * literals) or recomputed in a replay's subquery, so the single bin
    * expression `least(n−1, floor((v − mn)·n / (mx − mn)))` evaluates
    * identically in both engines. The max value folds into the top bin;
    * a constant dimension collapses to bin 0. One corpus aggregate for
    * extrema, one map-side-combined groupBy to the cell frame — ≤ nx·ny
    * rows ever shuffle. */
  def heatmap2d(df: DataFrame, xCol: String, yCol: String,
      nx: Int = 8, ny: Int = 8): DataFrame = {
    require(nx >= 1 && ny >= 1, s"need positive bin counts, got ($nx, $ny)")
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
    val ext = base.agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("y")).as("mny"), max(col("y")).as("mxy")).head()
    val (mnx, mxx) = (ext.getDouble(0), ext.getDouble(1))
    val (mny, mxy) = (ext.getDouble(2), ext.getDouble(3))
    def bin(c: org.apache.spark.sql.Column, mn: Double, mx: Double, n: Int) =
      if (mx > mn)
        least(lit(n - 1L), floor((c - lit(mn)) * lit(n.toDouble) / lit(mx - mn)))
      else lit(0L)
    base
      .select(bin(col("x"), mnx, mxx, nx).as("xbin"),
        bin(col("y"), mny, mxy, ny).as("ybin"))
      .groupBy(col("xbin"), col("ybin")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("xbin"), col("ybin"))
  }
}
