package graft.ml

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The m4/m21/m23 input pin is fit-safe: `localCheckpoint()` on the shared
  * orders projection materializes the SAME partitions in the SAME row
  * order, and MLlib's findSplits sampling is a pure function of (seed,
  * partitionIndex, row order), so every fitted tree must be identical
  * pinned vs unpinned. A failure means the pin changes results. */
class PinnedFitSpec extends SparkSpec {

  test("fitTreeSpec on the pinned m21 frame equals the unpinned fit at 25/50/100%") {
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders").select(
      ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
        .cast("double").as("label"),
      col("o_totalprice"),
      (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
      year(col("o_orderdate")).cast("double").as("order_year"),
      col("o_orderkey"))
    val h1 = substring(md5(col("o_orderkey").cast("string")), 1, 1)
    val h2 = substring(md5(col("o_orderkey").cast("string")), 2, 1)
    val isTest = h1 < lit("5")
    val gates = Seq("25" -> (h2 < lit("4")), "50" -> (h2 < lit("8")),
      "100" -> lit(true))
    val feats = Seq("o_totalprice", "is_urgent", "order_year")
    val pinned = o.localCheckpoint()
    assert(pinned.rdd.getNumPartitions == o.rdd.getNumPartitions)
    gates.foreach { case (pct, gate) =>
      val a = CohortClassifier.fitTreeSpec(o.where(!isTest && gate), feats, "label")
      val b = CohortClassifier.fitTreeSpec(pinned.where(!isTest && gate), feats, "label")
      assert(a == b, s"pct=$pct: unpinned $a != pinned $b")
    }
  }
}
