package graft.streaming

import org.apache.spark.sql.Dataset

/** Fold state of one monitored metric: exact trial/success totals plus
  * the latched Wald-band crossing flags. */
case class SprtState(n: Long, x: Long, crossedUp: Boolean, crossedDn: Boolean)

/** Final state of one monitored metric. */
case class SprtUpdate(key: String, n: Long, x: Long, llr: Double,
    crossedUp: Boolean, crossedDn: Boolean, decision: String)

/** Wald SPRT as a per-key fold over looks (e30) — the incremental form
  * of `stats.Sequential.sprtDF` (r70): anytime-valid monitoring of
  * Bernoulli rates, one latched decision state per metric key.
  *
  * Design for exactness: the state is the pair of EXACT LONG totals
  * `(n, x)` — the LLR is recomputed at each look from totals via the
  * closed form `x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0))` (two multiplies
  * of exact-long-valued doubles + one add), so the running statistic is
  * bit-identical regardless of how the looks are split — a chained
  * `llr += look_llr` double accumulation would drift. Only the LATCHED
  * `crossed_*` flags are path-dependent (they observe the statistic at
  * each look) — exactly the semantics a sequential test wants. Folding
  * a look sequence in consecutive parts equals one whole fold
  * (StreamingSprtSpec checks it for any split). */
object StreamingSprt {

  /** One look: add the look's increment to the exact totals, recompute
    * the LLR from totals (closed form), latch the band flags. Pure.
    * Returns (state, llr). */
  def foldLook(prev: SprtState, dn2: Long, dx: Long,
      c1: Double, c0: Double, up: Double, dn: Double): (SprtState, Double) = {
    val n = prev.n + dn2; val x = prev.x + dx
    val llr = x.toDouble * c1 + (n - x).toDouble * c0
    (SprtState(n, x, prev.crossedUp || llr >= up,
      prev.crossedDn || llr <= dn), llr)
  }

  /** [[foldLook]] applied once per `lookTs` bucket in ts order, so the
    * latched crossing flags (the only path-dependent state) replay the
    * sequential test's look sequence deterministically. One row per key:
    * the final `(key, n, x, llr, crossed_up, crossed_dn, decision)`.
    * Input: `(key, lookTs, trials, successes)` rows, summed per look. */
  def batchReplay(counts: Dataset[(String, Long, Long, Long)],
      p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): Dataset[SprtUpdate] = {
    require(p0 > 0.0 && p0 < 1.0 && p1 > 0.0 && p1 < 1.0 && p0 != p1)
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1.0 - p1) / (1.0 - p0))
    val up = math.log((1.0 - beta) / alpha)
    val dn = math.log(beta / (1.0 - alpha))
    import counts.sparkSession.implicits._
    counts.groupByKey(_._1).mapGroups { (key, rows) =>
      // pre-sum per look, fold in look order
      val looks = rows.map(r => (r._2, (r._3, r._4))).toSeq.groupBy(_._1)
        .view.mapValues(v => (v.map(_._2._1).sum, v.map(_._2._2).sum))
        .toSeq.sortBy(_._1)
      var st = SprtState(0L, 0L, crossedUp = false, crossedDn = false)
      var llr = 0.0
      looks.foreach { case (_, (t, s)) =>
        val r = foldLook(st, t, s, c1, c0, up, dn); st = r._1; llr = r._2
      }
      val decision =
        if (llr >= up) "accept_h1"
        else if (llr <= dn) "accept_h0"
        else "continue"
      SprtUpdate(key, st.n, st.x, llr, st.crossedUp, st.crossedDn, decision)
    }
  }
}
