package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash near-dup pairs by owning band (e7): the pair contract of
  * `Dedup.minHashMd5Pairs` (d8) with a per-bucket cap. Each document's
  * md5-slice MinHash signature (slot j = the minimum of 4-hex slice j
  * over the md5s of its word `n`-gram shingles) splits into `bands` band
  * keys; two documents are a candidate pair when some band key collides,
  * and a pair whose full signatures agree on ≥ `minAgree` of `k` slots
  * emits a (doc_id, dup_of, agree) row with `dup_of` the lower doc_id.
  *
  * The banding S-curve applies: a pair agreeing on `agree/k` of slots
  * collides in some band with probability
  * 1-(1-(agree/k)^rowsPerBand)^bands.
  *
  * A pair colliding in SEVERAL bands is emitted exactly once, by its
  * OWNING band — the lowest band index on which the two signatures' band
  * keys agree. StreamingNearDupSpec checks the output against an
  * exhaustive pairwise model of this contract. */
object StreamingNearDup {

  /** The pairs of a static corpus. The MEGA-BUCKET CAP drops oversized
    * (band, key) buckets whole — a bucket of B docs is B²/2 candidate
    * pairs, and an over-full bucket is a hash pileup with no near-dup
    * signal; cap-free, a templated corpus's candidate join explodes
    * quadratically (measured 111 s vs ~1 s at sf0.1). A pair whose
    * owning band was capped is dropped even if it collides elsewhere.
    *
    * Plan shape: one banded equi-join on (band, key) carrying the two
    * 8-slice signatures (tiny), agreement counted row-locally — the d2/d8
    * candidate shapes, never all-pairs. */
  def batchReplay(docs: DataFrame, k: Int = 8, bands: Int = 4, n: Int = 3,
      minAgree: Int = 6, maxBucketSize: Int = 50): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(k >= 1 && k <= 8, s"k 4-hex slices must fit one md5 digest, got $k")
    // signature via explode + one grouped k-min aggregation (the proven d8
    // corpus shape: ONE md5 per shingle, map-side combining) and flat m0..mk
    // / b0..b3 COLUMNS end to end — a row-local higher-order-function
    // signature inlines the md5 transform once per slot and walks
    // interpreted lambdas k× per shingle (measured 55 s), and even
    // array-typed plumbing keeps agreement/owning-band out of whole-stage
    // codegen (7 s); the flat when-chain form runs ~2 s at sf0.1.
    val rowsPerBand = k / bands
    val ex = docs
      .select(col("doc_id"), explode(graft.dedup.Dedup.shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), md5(col("s")).as("h"))
    val mins = (0 until k).map(j => min(col("h").substr(j * 4 + 1, 4)).as(s"m$j"))
    val withBands = ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("*") +: (0 until bands).map(bb => concat_ws("",
        (bb * rowsPerBand until (bb + 1) * rowsPerBand)
          .map(r => col(s"m$r")): _*).as(s"b$bb")): _*)
    val banded = withBands
      .select(col("*"), posexplode(array(
        (0 until bands).map(bb => col(s"b$bb")): _*)).as(Seq("band", "key")))
      .withColumn("__bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key"))))
      .where(col("__bn") <= maxBucketSize).drop("__bn")
    val a = banded.alias("a"); val b = banded.alias("b")
    val agree = (0 until k).map(j =>
      when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0)).reduce(_ + _)
    // lowest band whose keys agree — guaranteed defined on joined rows
    val owning = (0 until bands - 1).foldRight(lit(bands - 1): org.apache.spark.sql.Column) {
      (bb, acc) => when(col(s"a.b$bb") === col(s"b.b$bb"), bb).otherwise(acc)
    }
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .where(col("a.band") === owning)
      .select(col("b.doc_id").as("doc_id"), col("a.doc_id").as("dup_of"),
        agree.as("agree"))
      .where(col("agree") >= minAgree)
  }
}
