package graft.streaming

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class StreamingSprtSpec extends SparkSpec {
  import spark.implicits._

  private val c1 = math.log(0.4 / 0.2)
  private val c0 = math.log(0.6 / 0.8)
  private val up = math.log(0.95 / 0.05)
  private val dn = math.log(0.05 / 0.95)

  test("streaming SPRT: totals-exact LLR, latched crossing across batches") {
    // batchReplay folds one batch per look: three high-rate looks climb
    // over the upper bound, then a bad look — the flag must stay latched
    // while the decision reflects the CURRENT statistic
    val looks = Seq((0L, 20L, 12L), (1L, 20L, 12L), (2L, 20L, 12L), (3L, 60L, 2L))
    val got = StreamingSprt.batchReplay(
      looks.map { case (l, t, s) => ("m", l, t, s) }.toDS(),
      p0 = 0.2, p1 = 0.4).collect().head
    val (n, x) = (120L, 38L)
    assert(got.n == n && got.x == x)
    // totals-exact: bit-equal to the closed form, no chained drift
    assert(got.llr == x.toDouble * c1 + (n - x).toDouble * c0)
    assert(got.crossedUp, "the high-rate looks must latch crossed_up")
    assert(!got.crossedDn)
    assert(got.llr < up && got.decision == "continue",
      "the bad look pulls the statistic back")
  }

  test("streaming SPRT: independent keys keep independent state") {
    val byKey = StreamingSprt.batchReplay(
      Seq(("hi", 0L, 40L, 24L), ("lo", 0L, 40L, 1L)).toDS(),
      p0 = 0.2, p1 = 0.4).collect().map(u => u.key -> u.decision).toMap
    assert(byKey("hi") == "accept_h1", byKey.toString)
    assert(byKey("lo") == "accept_h0", byKey.toString)
  }

  test("streaming SPRT final state equals the r70 batch replay's last row") {
    import org.apache.spark.sql.functions._
    // a deterministic cohort over 10 days; batchReplay sees it as
    // (key, day, trials, successes) looks, two rows per day
    val rng = new scala.util.Random(77)
    val rows = Seq.fill(2000)((rng.nextInt(10) + 1, rng.nextInt(5) == 0))
    val df = rows.map { case (d, ok) => (f"2024-02-$d%02d 09:00:00", ok) }
      .toDF("tss", "ok").select(to_timestamp(col("tss")).as("ts"), col("ok"))
    val batch = graft.stats.Sequential
      .sprtDF(df, "ts", lit(true), col("ok"), 0.18, 0.22).collect()
    val looks = rows.zipWithIndex.groupBy { case ((d, _), i) => (d, i % 2) }
      .toSeq.map { case ((d, _), rs) =>
        ("m", d.toLong, rs.size.toLong, rs.count(_._1._2).toLong) }
    assert(looks.length > 10, "each day must arrive in more than one row")
    val got = StreamingSprt.batchReplay(looks.toDS(), p0 = 0.18, p1 = 0.22)
      .collect().head
    val bl = batch.last
    assert(got.n == batch.map(_.getLong(1)).sum)
    assert(got.x == batch.map(_.getLong(2)).sum)
    // llr_run rounds to 6 in sprtDF's chain; the totals form agrees there
    assert(math.abs(got.llr - bl.getDouble(4)) < 2e-6)
    assert(got.crossedUp == bl.getBoolean(5) && got.crossedDn == bl.getBoolean(6))
    assert(got.decision == bl.getString(7))
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** Fold `looks` one at a time from (st, llr). */
  private def foldAll(st: SprtState, llr: Double,
      looks: Seq[(Long, Long)]): (SprtState, Double) =
    looks.foldLeft((st, llr)) { case ((s, _), (t, x)) =>
      StreamingSprt.foldLook(s, t, x, c1, c0, up, dn) }

  private val splitGen = for {
    n <- Gen.choose(0, 40)
    looks <- Gen.listOfN(n, for {
      t <- Gen.choose(0L, 30L)
      x <- Gen.choose(0L, t)
    } yield (t, x))
    cuts <- Gen.listOf(Gen.choose(0, n))
  } yield (looks, cuts.distinct.sorted)

  test("foldLook over any consecutive split equals one whole fold; a coarser " +
      "look schedule keeps the totals") {
    val init = SprtState(0L, 0L, crossedUp = false, crossedDn = false)
    samples(splitGen, 300).foreach { case (looks, cuts) =>
      val parts = (0 +: cuts).zip(cuts :+ looks.length)
        .map { case (a, b) => looks.slice(a, b) }
      val whole = foldAll(init, 0.0, looks)
      val parted = parts.foldLeft((init, 0.0)) { case ((s, l), p) =>
        foldAll(s, l, p) }
      assert(parted == whole, s"cuts $cuts over $looks")
      // each non-empty part as ONE look: the same exact totals and LLR
      // bits; its crossings are a subset of the finer schedule's
      val coarse = foldAll(init, 0.0, parts.filter(_.nonEmpty)
        .map(p => (p.map(_._1).sum, p.map(_._2).sum)))
      assert(coarse._1.n == whole._1.n && coarse._1.x == whole._1.x &&
        coarse._2 == whole._2, s"cuts $cuts over $looks")
      assert((!coarse._1.crossedUp || whole._1.crossedUp) &&
        (!coarse._1.crossedDn || whole._1.crossedDn))
    }
  }
}
