package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval sweep-line analytics (NOT-IN-REFERENCE §2.6 extension — the
  * aggregate sibling of [[IntervalJoin]]: instead of joining points INTO
  * intervals, census how many intervals are open at once).
  *
  * The classic +1/−1 sweep: each interval contributes a start event and
  * an end event; the concurrency at day `d` is the running sum of net
  * events up to `d`. The corpus reduces to the distinct-day frame in ONE
  * map-side-combined groupBy (2 rows emitted per interval), and the
  * running sum rides the repo's sharded two-phase prefix
  * ([[ShardLookup.exclusivePrefix]]) — integer-exact,
  * no global sort, nothing data-sized after the first shuffle. */
object Sweep {

  /** Daily concurrency census over `[startCol, endCol)` intervals: one
    * row per day that has any start/end activity, ordered by day —
    * `(day, n_start, n_end, open)` where `open` counts intervals with
    * `start ≤ day < end` (half-open: an interval ending on `d` is no
    * longer open on `d`). Rows with a NULL endpoint drop. */
  def concurrencyDaily(df: DataFrame, startCol: Column, endCol: Column): DataFrame = {
    val s = df.where(startCol.isNotNull && endCol.isNotNull)
    val ev = s.select(to_date(startCol).as("d"), lit(1L).as("s"), lit(0L).as("e"))
      .unionByName(
        s.select(to_date(endCol).as("d"), lit(0L).as("s"), lit(1L).as("e")))
      .groupBy(datediff(col("d"), to_date(lit("1970-01-01"))).cast("long").as("v"))
      .agg(sum(col("s")).as("n_start"), sum(col("e")).as("n_end"))
      .withColumn("net", col("n_start") - col("n_end"))
    ShardLookup.exclusivePrefix(ev, Seq(col("v")), Seq("net" -> "cumn")).df.select(
      date_add(to_date(lit("1970-01-01")), col("v").cast("int")).as("day"),
      col("n_start"), col("n_end"),
      (col("cumn") + col("net")).as("open"))
      .orderBy(col("day"))
  }
}
