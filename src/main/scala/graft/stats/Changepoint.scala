package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Offline single-changepoint detection on a daily count series — the
  * binary-segmentation base step (Scott & Knott 1974; the max-CUSUM form):
  * the split t maximizing the between-segment evidence for a mean shift.
  * NOT-IN-REFERENCE extension; kinship: e15's CUSUM is the ONLINE drift
  * monitor, this is the retrospective "WHEN did the level change" answer.
  *
  * Exactness: under constant variance the best split maximizes
  * |CUSUM_t| = |cum_t − (t/n)·total|, and scaling by n makes it the pure
  * INTEGER score `D_t = n·cum_t − t·total` — the argmax (ties → earliest
  * t) is exact integer arithmetic; the only doubles are the reported
  * segment means (one division each).
  *
  * Plan: one corpus-sized groupBy to the day frame, the sharded exclusive
  * prefix for (cum, index) whose totals are (total, n) —
  * [[graft.ops.ShardLookup.exclusivePrefix]], no global window — and a
  * day-frame-sized TakeOrdered(1). */
object Changepoint {

  /** `(split_day, t, n_days, total, cum_left, d, mean_before, mean_after)`
    * — the best mean-shift split of the daily count series of `df`
    * (1 row; empty if the series has < 2 days). `t` is the 1-based day
    * index; the split is AFTER day t (both segments non-empty). */
  def meanShiftDailyDF(df: DataFrame, dayCol: Column): DataFrame = {
    val days = df.where(dayCol.isNotNull)
      .groupBy(to_date(dayCol).as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__one", lit(1L))
    val pref = graft.ops.ShardLookup.exclusivePrefix(days, Seq(col("v")),
      Seq("c" -> "cum_ex", "__one" -> "idx_ex"))
    val scored = pref.df.select(col("v").as("split_day"),
        (col("idx_ex") + 1L).as("t"),
        (col("cum_ex") + col("c")).as("cum_left"),
        lit(pref.totals("__one")).as("n_days"), lit(pref.totals("c")).as("total"))
      .where(col("t") < col("n_days")) // both segments non-empty
      .withColumn("d", col("n_days") * col("cum_left") - col("t") * col("total"))
    scored.orderBy(abs(col("d")).desc, col("t").asc).limit(1)
      .select(col("split_day"), col("t"), col("n_days"), col("total"),
        col("cum_left"), col("d"),
        round(col("cum_left").cast("double") / col("t").cast("double"), 6)
          .as("mean_before"),
        round((col("total") - col("cum_left")).cast("double") /
          (col("n_days") - col("t")).cast("double"), 6).as("mean_after"))
  }
}
