package graft.streaming

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class StreamingCusumSpec extends SparkSpec {
  import spark.implicits._

  /** 24 hourly buckets: baseline ~3/hour, then a sustained +2 shift. */
  private val counts: Seq[(Long, Long)] =
    (0 until 12).map(h => (h.toLong, 3L + (h % 2))) ++
      (12 until 24).map(h => (h.toLong, 5L + (h % 2)))

  private def hourUs(h: Long) = h * 3600L * 1000000L

  test("streaming CUSUM equals the batch reflection identity, latch persists") {
    // batchReplay against the max(0, S + 2c − 2k) recurrence it folds
    // the shift alarms, then 12 empty hours pull the statistic back to 0
    val seq = counts ++ (24 until 36).map(h => (h.toLong, 0L))
    // target2 = 7 (k = 3.5), threshold2 = 10 (h = 5)
    val got = StreamingCusum.batchReplay(
      seq.map { case (h, c) => ("m", hourUs(h), c) }.toDS(), 7L, 10L)
      .collect().head
    var s = 0L; var alarmedEver = false
    seq.foreach { case (_, c) =>
      s = math.max(0L, s + 2L * c - 7L)
      if (s >= 10L) alarmedEver = true
    }
    assert(got.n_buckets == 36L)
    assert(got.cusum2 == s, s"fold ${got.cusum2} vs recurrence $s")
    assert(got.alarm_now == (s >= 10L) && got.alarmed_ever == alarmedEver)
    assert(alarmedEver && !got.alarm_now,
      "the shift must alarm, and the latch must outlive the statistic")
  }

  test("streaming CUSUM final state equals cusumDetect's last row per key") {
    import java.sql.Timestamp
    // raw events whose hourly counts are `counts` (key k) and its reverse
    // (key m, which alarms early and then recovers)
    val perKey = Seq("k" -> counts, "m" -> counts.reverse.zipWithIndex
      .map { case ((_, c), h) => (h.toLong, c) })
    val rows = perKey.flatMap { case (key, cs) => cs.flatMap { case (h, c) =>
      (1L to c).map(i => (key, Timestamp.valueOf(f"2024-04-01 $h%02d:$i%02d:00")))
    } }
    val detect = graft.ops.Resample.cusumDetect(rows.toDF("k", "t"),
      "k", "t", "hour", target2 = 7L, threshold2 = 10L).collect()
    // the fold's input: the same hourly counts, each bucket split into two
    // rows with the same bucket_ts (an un-pre-aggregated feed)
    val fed = detect.toSeq.flatMap { r =>
      val (key, bts, c) = (r.getString(0), r.getTimestamp(1).getTime * 1000L,
        r.getLong(2))
      if (c > 1) Seq((key, bts, c - 1L), (key, bts, 1L)) else Seq((key, bts, c))
    }
    val fold = StreamingCusum.batchReplay(fed.toDS(), 7L, 10L)
      .collect().map(u => u.key -> u).toMap
    perKey.foreach { case (key, _) =>
      val ks = detect.filter(_.getString(0) == key)
      val last = ks.last
      val u = fold(key)
      assert(u.n_buckets == ks.length.toLong, key)
      assert(u.cusum2 == last.getLong(3), s"$key cusum2 ${u.cusum2} vs ${last.getLong(3)}")
      assert(u.alarm_now == last.getBoolean(4), key)
      assert(u.alarmed_ever == ks.exists(_.getBoolean(4)), key)
    }
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** A bucket sequence with distinct ts, the cut points of a split into
    * consecutive parts, the fold constants, and an arrival-order seed. */
  private val splitGen = for {
    n <- Gen.choose(0, 40)
    cs <- Gen.listOfN(n, Gen.choose(0L, 12L))
    cuts <- Gen.listOf(Gen.choose(0, n))
    target2 <- Gen.choose(0L, 20L)
    threshold2 <- Gen.choose(1L, 40L)
    order <- Gen.long
  } yield (cs.zipWithIndex.map { case (c, h) => (hourUs(h), c) },
    cuts.distinct.sorted, target2, threshold2, order)

  test("foldBuckets over any consecutive split equals one whole fold") {
    samples(splitGen, 300).foreach { case (buckets, cuts, t2, h2, order) =>
      val rnd = new scala.util.Random(order)
      val init = CusumState(0L, 0L, 0L, alarmed = false)
      // each part arrives in shuffled order: the fold sorts by bucket_ts
      val parted = (0 +: cuts).zip(cuts :+ buckets.length).foldLeft(init) {
        case (st, (a, b)) =>
          StreamingCusum.foldBuckets(st, rnd.shuffle(buckets.slice(a, b)), t2, h2)
      }
      val whole = StreamingCusum.foldBuckets(init, buckets, t2, h2)
      assert(parted == whole, s"cuts $cuts over $buckets")
    }
  }
}
