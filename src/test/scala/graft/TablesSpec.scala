package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The spread helpers' partition probe: the cached scan-rooted path must
  * decide exactly like the old `df.rdd.getNumPartitions` probe, and
  * non-scan inputs must keep the exact-probe behavior. */
class TablesSpec extends SparkSpec {

  private def writeTable(rows: Int, parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    spark.range(rows).selectExpr("id", "id % 7 AS g", "CAST(id AS DOUBLE) AS v")
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  test("spread decides like the exact probe on scan-rooted input") {
    val path = writeTable(rows = 10000, parts = 1)
    val df = spark.read.parquet(path)
      .where(col("v").isNotNull).select((col("v") * 2).as("w"))
    val exact = df.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    val out = Tables.spread(df)
    if (exact * 2 < target)
      assert(out.rdd.getNumPartitions == target, "should have spread")
    else
      assert(out.rdd.getNumPartitions == exact, "should pass through")
    // second call with a DIFFERENT projection of the same files must make
    // the same decision (cache hit is keyed on the files, not the plan)
    val df2 = spark.read.parquet(path).select(col("g"))
    val out2 = Tables.spreadForGroupBy(df2, col("g"))
    if (exact * 2 < target)
      assert(out2.rdd.getNumPartitions ==
        spark.sessionState.conf.numShufflePartitions)
    else
      assert(out2.rdd.getNumPartitions == exact)
  }

  test("spread helpers fall back to the exact probe on non-scan input") {
    val path = writeTable(rows = 1000, parts = 1)
    // an aggregate is NOT a narrow scan chain — the helper must still
    // work (old probe path) and decide from the aggregate's partitioning
    val agg = spark.read.parquet(path).groupBy(col("g")).agg(sum(col("v")).as("s"))
    val exact = agg.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    val out = Tables.spread(agg)
    val expect =
      if (exact * 2 < target) target else exact
    assert(out.rdd.getNumPartitions == expect)
  }

  test("a pre-split scan passes through spread unchanged") {
    // one file per partition, each its own split: 2 × splits ≥ parallelism
    val target = spark.sparkContext.defaultParallelism
    val df = spark.read.parquet(writeTable(rows = 1000, parts = target))
    assert(df.rdd.getNumPartitions * 2 >= target)
    assert(Tables.spread(df) eq df)
  }

  test("a bare read is answered from the per-session cache") {
    val path = writeTable(rows = 1000, parts = 1)
    val bare = spark.read.parquet(path)
    assert(Tables.inputPartitions(bare) == bare.rdd.getNumPartitions)
    val keys = Option(Tables.scanParts.get(spark)).map(_.keySet.asScala).getOrElse(Set.empty)
    assert(keys.exists(_.contains(path)), s"no cache entry for $path in $keys")
  }

  test("a partition-filtered scan reports its own, pruned split count") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    // one file per g directory: several splits unfiltered, one after pruning
    spark.range(7000).selectExpr("id", "id % 7 AS g").repartition(1)
      .write.partitionBy("g").parquet(s"$dir/p.parquet")
    val all = spark.read.parquet(s"$dir/p.parquet").select(col("id"))
    val pruned = spark.read.parquet(s"$dir/p.parquet")
      .where(col("g") === 3).select(col("id"))
    // probe the unfiltered scan first so a paths-keyed cache would be warm
    assert(Tables.inputPartitions(all) == all.rdd.getNumPartitions)
    assert(Tables.inputPartitions(pruned) == pruned.rdd.getNumPartitions)
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions)
  }
}
