package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest tonight"
  private val unrelated = "completely unrelated content about spark catalyst " +
    "plans and shuffle exchanges in distributed queries"

  private def pairs(docs: Seq[(Long, String)], minAgree: Int): Set[(Long, Long, Int)] =
    StreamingNearDup.batchReplay(docs.toDF("doc_id", "text"), minAgree = minAgree)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** The d8 signature computed driver-side: md5 per word 3-gram shingle
    * (the whole text when it has fewer than 3 words), slot j = the minimum
    * of 4-hex slice j over the shingles. */
  private def signature(text: String): Seq[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val sh = if (toks.length < 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    val hex = sh.map { s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString }
    (0 until 8).map(j => hex.map(_.substring(j * 4, j * 4 + 4)).min)
  }

  /** Exhaustive pairwise model of the e7 contract (k = 8, 4 bands of 2
    * slots, cap 50): every pair of docs, its owning band = the lowest band
    * whose keys agree, kept when that (band, key) bucket holds ≤ 50 docs
    * and ≥ `minAgree` slots agree; `dup_of` is the lower id. */
  private def model(docs: Seq[(Long, String)], minAgree: Int): Set[(Long, Long, Int)] = {
    val sigs = docs.map { case (id, t) => id -> signature(t) }
    def keys(sig: Seq[String]) = sig.grouped(2).map(_.mkString).toSeq
    val bucketSize = sigs.flatMap { case (_, s) => keys(s).zipWithIndex }
      .groupBy(identity).view.mapValues(_.size).toMap
    (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      owning <- (0 until 4).find(bd => keys(sa)(bd) == keys(sb)(bd))
      if bucketSize((keys(sa)(owning), owning)) <= 50
      agree = sa.zip(sb).count(p => p._1 == p._2)
      if agree >= minAgree
    } yield (b, a, agree)).toSet
  }

  test("batchReplay equals an exhaustive pairwise model on the same corpus") {
    val docs = Seq(
      (1L, base),
      (2L, base.replace("dark", "damp")),
      (3L, unrelated),
      (4L, base), // exact dup of 1 (and near-dup of 2)
      (5L, "another unrelated short text"))
    val expected = model(docs, minAgree = 6)
    assert(pairs(docs, minAgree = 6) == expected)
    assert(expected.contains((4L, 1L, 8)) && expected.exists(_._1 == 2L),
      s"the corpus must exercise exact and near duplicates: $expected")
  }

  test("batchReplay: near-identical docs match; unrelated do not") {
    // one word changed -> most shingles shared -> high slot agreement
    val got = pairs(Seq((1L, base), (2L, base.replace("dark", "damp")),
      (3L, unrelated)), minAgree = 6)
    assert(got.map(p => (p._1, p._2)) == Set((2L, 1L)), got.toString)
  }

  test("exact duplicate agrees on all k slots in every band") {
    // all 4 bands collide, but band 0 OWNS the pair -> exactly one row
    val got = pairs(Seq((1L, base), (2L, base)), minAgree = 8)
    assert(got == Set((2L, 1L, 8)), got.toString)
  }

  test("signature agreement matches the batch d8 operator on the same docs") {
    // the row-local signature must equal the batch signature
    // (aggregation-based) — same shingles, same md5 slices
    val docs = Seq((1L, base), (2L, base.replace("dark", "damp")))
      .toDF("doc_id", "text")
    val batchAgree = graft.dedup.Dedup
      .minHashMd5Pairs(docs, "doc_id", "text", minAgree = 0)
      .select("agree").as[Int].collect().head
    val h = transform(graft.dedup.Dedup.shingles(col("text"), 3), s => md5(s))
    val sig = array((0 until 8).map(j =>
      array_min(transform(h, x => x.substr(j * 4 + 1, 4)))): _*)
    val sigs = docs.select(sig.as("sig")).as[Seq[String]].collect()
    val streamAgree = sigs(0).zip(sigs(1)).count(p => p._1 == p._2)
    assert(streamAgree == batchAgree)
    // and the driver-side model signature the pairwise check relies on
    assert(sigs.toSeq == Seq(signature(base), signature(base.replace("dark", "damp"))))
  }
}
