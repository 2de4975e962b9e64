package graft.streaming

import org.apache.spark.sql.Dataset

/** Fold state of one monitored key: the doubled-unit prefix sum `p` of
  * Σ(2c − 2k), its running floor `pmin = min(0, min_j P_j)`, the bucket
  * count, and the latched alarm. */
case class CusumState(p: Long, pmin: Long, nBuckets: Long, alarmed: Boolean)

/** Final state of one key: `cusum2` is the doubled one-sided CUSUM
  * statistic after its last bucket; `alarm_now` reads that statistic
  * against the threshold, `alarmed_ever` latches. */
case class CusumUpdate(key: String, n_buckets: Long, cusum2: Long,
    alarm_now: Boolean, alarmed_ever: Boolean)

/** One-sided CUSUM drift monitor as a per-key fold (e28) — the
  * incremental form of `ops.Resample.cusumDetect` (e16): accumulate small
  * sustained upward shifts of a keyed count sequence, alarm when the
  * statistic crosses 2h.
  *
  * Design for exactness: `cusumDetect` computes
  * `S_t = max(0, S_{t−1} + (c_t − k))` via the reflection identity
  * `S_t = P_t − min(0, min_j P_j)` over PARTITIONED windows; here the
  * SAME doubled-unit LONG recurrence folds bucket by bucket — `p`, `pmin`
  * are two longs per key, so the statistic is bit-identical to
  * `cusumDetect` on the same bucket sequence (integers: no FP drift, no
  * association sensitivity). Rows PRE-SUM per bucket_ts and then fold in
  * timestamp order — duplicate (key, bucket_ts) rows (an
  * un-pre-aggregated feed) collapse into ONE bucket exactly as
  * `cusumDetect`'s groupBy(bucket) does. Because the recurrence is
  * per-bucket, folding a bucket sequence in consecutive parts equals one
  * whole fold (StreamingCusumSpec checks it for any split), which is why
  * one closed-input fold stands in for an incremental monitor. The
  * detector does NOT reset after an alarm — `alarm_now` mirrors
  * `cusumDetect`'s column; the latched `alarmed_ever` is what a pager
  * reads. */
object StreamingCusum {

  /** The per-bucket recurrence: pre-summed `(bucket_ts, count)` pairs
    * fold in ts order into the doubled-unit (p, pmin, n, alarmed) state.
    * Pure. */
  def foldBuckets(prev: CusumState, buckets: Seq[(Long, Long)],
      target2: Long, threshold2: Long): CusumState = {
    var p = prev.p; var pmin = prev.pmin; var n = prev.nBuckets
    var alarmed = prev.alarmed
    buckets.sortBy(_._1).foreach { case (_, c) =>
      p += 2L * c - target2
      if (p < pmin) pmin = p
      n += 1
      if (p - pmin >= threshold2) alarmed = true
    }
    CusumState(p, pmin, n, alarmed)
  }

  /** [[foldBuckets]] over each key's whole bucket sequence of a closed
    * input. One row per key: the final state `(key, n_buckets, cusum2,
    * alarm_now, alarmed_ever)`. Input: `(key, bucket_ts, count)` rows,
    * duplicate bucket_ts rows summed first. */
  def batchReplay(counts: Dataset[(String, Long, Long)],
      target2: Long, threshold2: Long): Dataset[CusumUpdate] = {
    require(threshold2 > 0, s"threshold2 must be positive, got $threshold2")
    import counts.sparkSession.implicits._
    counts.groupByKey(_._1).mapGroups { (key, rows) =>
      val buckets = rows.map(r => (r._2, r._3)).toSeq.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq
      val st = foldBuckets(CusumState(0L, 0L, 0L, alarmed = false),
        buckets, target2, threshold2)
      CusumUpdate(key, st.nBuckets, st.p - st.pmin,
        st.p - st.pmin >= threshold2, st.alarmed)
    }
  }
}
