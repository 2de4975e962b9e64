package graft.streaming

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  /** Zipf-ish deterministic workload: item i appears with weight
    * proportional to its index gap — item "hot" dominates. */
  private def workload: Seq[(String, Long)] =
    Seq.fill(60)(("hot", 5L)) ++
      (1 to 40).map(i => (s"warm${i % 4}", 3L)) ++
      (1 to 120).map(i => (s"cold$i", 1L))

  private val truth: Map[String, Long] =
    workload.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  private val total = workload.map(_._2).sum

  /** The Misra–Gries guarantee of one key's final counter table
    * `(item, count_lb, processed, spilled)` against exact counts. */
  private def assertGuarantee(finals: Seq[(String, Long, Long, Long)],
      scale: Long, k: Int, who: String): Unit = {
    assert(finals.nonEmpty && finals.length <= k, s"$who: counter budget")
    val (_, _, processed, spilled) = finals.head
    assert(finals.forall(f => f._3 == processed && f._4 == spilled), who)
    assert(processed == total * scale, s"$who: exact processed weight")
    assert(spilled * (k + 1) <= processed, s"$who: spill bound processed/(k+1)")
    finals.foreach { case (item, lb, _, sp) =>
      assert(lb <= truth(item) * scale, s"$who/$item counter must lower-bound truth")
      assert(lb >= truth(item) * scale - sp, s"$who/$item within the spill band")
    }
    // the dominant item is guaranteed present and top-ranked
    assert(finals.maxBy(_._2)._1 == "hot", s"$who keeps the hot item")
  }

  test("streaming MG: lower-bound counters, exact spill accounting, k cap") {
    // batchReplay against exact counts, two keys at different weights
    val rows = workload.map { case (i, w) => ("s", i, w) } ++
      workload.map { case (i, w) => ("t", i, w * 3) }
    val got = StreamingHeavyHitters.batchReplay(rows.toDS(), k = 8).collect()
    Seq("s" -> 1L, "t" -> 3L).foreach { case (key, scale) =>
      assertGuarantee(got.filter(_.key == key).toSeq
        .map(u => (u.item, u.count_lb, u.processed, u.spilled)), scale, 8, key)
    }
  }

  test("batchReplay over pre-summed (key,item) cells equals raw-row replay") {
    // the e29 fast path feeds batchReplay the truth aggregate instead of
    // raw rows — foldBatch's own first step IS that per-item sum, so the
    // fold input multiset (and the whole sketch) must be bit-identical
    val raw = workload.map { case (i, w) => ("s", i, w) } ++
      workload.map { case (i, w) => ("t", i, w * 2) }
    val summed = raw.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).sum).toSeq
      .map { case ((k, i), w) => (k, i, w) }
    def run(rows: Seq[(String, String, Long)]) =
      StreamingHeavyHitters.batchReplay(rows.toDS(), k = 8)
        .collect().map(u => (u.key, u.item, u.count_lb, u.processed,
          u.spilled)).toSet
    assert(run(raw) == run(summed))
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("foldBatch keeps the MG guarantee under any batch split of the workload") {
    // across batchings the counters may differ; the guarantee may not
    val gen = for {
      order <- Gen.long
      cuts <- Gen.listOf(Gen.choose(0, workload.length))
      k <- Gen.choose(4, 12)
    } yield (order, cuts.distinct.sorted, k)
    samples(gen, 100).foreach { case (order, cuts, k) =>
      val arrival = new scala.util.Random(order).shuffle(workload)
      val st = (0 +: cuts).zip(cuts :+ arrival.length)
        .foldLeft(MgState(Map.empty, 0L, 0L)) { case (s, (a, b)) =>
          // the batch-local pre-sum batchReplay does before folding
          val batch = arrival.slice(a, b).groupBy(_._1).view
            .mapValues(_.map(_._2).sum).toSeq
          StreamingHeavyHitters.foldBatch(s, batch, k)
        }
      assertGuarantee(st.counters.toSeq.map { case (i, c) =>
        (i, c, st.processed, st.spilled) }, 1L, k, s"k=$k cuts=$cuts")
    }
  }
}
