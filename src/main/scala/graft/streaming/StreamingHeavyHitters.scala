package graft.streaming

import org.apache.spark.sql.Dataset

/** Fold state of one key: the Misra–Gries counter table (≤ k entries),
  * the exact processed weight, and the exact total decrement mass. */
case class MgState(counters: Map[String, Long], processed: Long,
    spilled: Long)

/** One reported heavy-hitter candidate: `count_lb` is the MG counter (a
  * LOWER bound on the item's true weight; `count_lb + spilled`
  * upper-bounds it), `processed` the exact total weight seen, `spilled`
  * the exact decrement mass (≤ processed/(k+1) — the MG guarantee,
  * reported exactly rather than as the bound). */
case class MgUpdate(key: String, item: String, count_lb: Long,
    processed: Long, spilled: Long)

/** Misra–Gries heavy hitters as a per-key fold (e29) — the incremental
  * form of the `MisraGriesSketch` aggregate (a2_heavy_hitters): track the
  * top items of a keyed weighted multiset in k counters per key, with
  * exact deterministic error accounting.
  *
  * Design: input is PRE-AGGREGATED `(key, item, weight)` counts. Each
  * batch folds with the WEIGHTED MG step: add the item's weight; when the
  * table exceeds k entries, subtract the minimum counter from every
  * entry and drop the zeros (≥ 1 entry always drops, so the table is
  * back to ≤ k). Batch items fold in sorted order, so a refold of the
  * same batch sequence is bit-identical; across DIFFERENT batchings the
  * counters may differ but the sketch guarantee never does:
  * `true − spilled ≤ counter ≤ true`, with `spilled ≤ processed/(k+1)` —
  * any item heavier than processed/(k+1) is guaranteed present.
  * StreamingHeavyHittersSpec checks the guarantee against exact counts,
  * for one batch and for any split into batches. */
object StreamingHeavyHitters {

  /** The weighted Misra–Gries step: a pre-summed batch multiset folds in
    * sorted item order into the ≤ k counter table with exact spill
    * accounting. Pure. */
  def foldBatch(prev: MgState, batch: Seq[(String, Long)], k: Int): MgState = {
    val m = scala.collection.mutable.HashMap[String, Long](
      prev.counters.toSeq: _*)
    var processed = prev.processed
    var spilled = prev.spilled
    batch.sortBy(_._1).foreach { case (item, w) =>
      if (w > 0L) {
        processed += w
        m(item) = m.getOrElse(item, 0L) + w
        if (m.size > k) {
          val d = m.valuesIterator.min
          spilled += d
          val dead = m.collect { case (i, c) if c <= d => i }.toList
          dead.foreach(m.remove)
          m.keysIterator.toList.foreach(i => m(i) = m(i) - d)
        }
      }
    }
    MgState(m.toMap, processed, spilled)
  }

  /** [[foldBatch]] over each key's whole item multiset of a closed input
    * as ONE batch — the final counter table, with the exact
    * `processed`/`spilled` accounting the MG guarantee reads. One row per
    * surviving (key, item). */
  def batchReplay(counts: Dataset[(String, String, Long)],
      k: Int): Dataset[MgUpdate] = {
    require(k >= 1, s"need a positive counter budget, got $k")
    import counts.sparkSession.implicits._
    counts.groupByKey(_._1).flatMapGroups { (key, rows) =>
      val batch = rows.map(r => (r._2, r._3)).toSeq.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq
      val st = foldBatch(MgState(Map.empty, 0L, 0L), batch, k)
      st.counters.toSeq.sortBy { case (i, c) => (-c, i) }.iterator
        .map { case (i, c) => MgUpdate(key, i, c, st.processed, st.spilled) }
    }
  }
}
