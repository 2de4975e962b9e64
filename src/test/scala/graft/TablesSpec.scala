package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.Listeners.jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The spread helpers' partition probe: the cached scan-rooted path must
  * decide exactly like the old `df.rdd.getNumPartitions` probe, and
  * non-scan inputs must keep the exact-probe behavior. `load` infers a
  * file's schema once per session; a small final sort runs in one
  * partition. */
class TablesSpec extends SparkSpec {

  private def tableDir(): String =
    java.nio.file.Files.createTempDirectory("tables-spec").toString

  private def writeTable(rows: Int, parts: Int): String = {
    val dir = tableDir()
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
    val dir = tableDir()
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

  test("a second load of the same file launches no Spark job") {
    val dir = tableDir()
    spark.range(100).selectExpr("id", "id % 7 AS g").write.parquet(s"$dir/t.parquet")
    val (first, df1) = jobs(spark)(Tables.load(spark, dir, "t"))
    val (second, df2) = jobs(spark)(Tables.load(spark, dir, "t"))
    assert(first == 1, "the first load infers the schema")
    assert(second == 0, "the second load declares the cached schema")
    assert(df2.schema == df1.schema)
    assert(df2.collect().toSeq == df1.collect().toSeq)
  }

  test("rewriting the file with an added column is picked up on the next load") {
    val dir = tableDir()
    spark.range(10).selectExpr("id").write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    assert(jobs(spark)(Tables.load(spark, dir, "t"))._1 == 0)
    spark.range(10).selectExpr("id", "id * 2 AS w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (n, df) = jobs(spark)(Tables.load(spark, dir, "t"))
    assert(n == 1, "a changed input is inferred again")
    assert(df.columns.toSeq == Seq("id", "w"))
    assert(df.where(col("id") === 3).select(col("w")).head().getLong(0) == 6)
  }

  test("two sessions do not share entries") {
    // a foreign writer's TIMESTAMP(MICROS, isAdjustedToUTC=false) column, as
    // in the testdata: its Spark type depends on the reading session's confs
    val dir = tableDir()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(MICROS,false)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet")).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("ts", 1704164645000000L))
    finally writer.close()
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(Tables.load(spark, dir, "t").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val (first, ntz) = jobs(other)(Tables.load(other, dir, "t"))
    assert(first == 1, "a new session infers for itself")
    assert(ntz.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val (second, again) = jobs(other)(Tables.load(other, dir, "t"))
    assert(second == 0 && again.schema == ntz.schema)
    assert(jobs(spark)(Tables.load(spark, dir, "t")) match {
      case (0, df) => df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType
      case _ => false
    })
    // a parquet conf changed within a session is part of the key too
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.load(other, dir, "t").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a failed inference (missing path) is not cached") {
    val dir = tableDir()
    intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, "t"))
    spark.range(5).selectExpr("id").write.parquet(s"$dir/t.parquet")
    val (first, df) = jobs(spark)(Tables.load(spark, dir, "t"))
    assert(first == 1 && df.count() == 5)
    assert(jobs(spark)(Tables.load(spark, dir, "t"))._1 == 0)
  }

  /** A grouped result with duplicate sort keys: 70 groups, 10 per `g`. */
  private def grouped(session: SparkSession): org.apache.spark.sql.DataFrame = {
    val dir = tableDir()
    session.range(7000).selectExpr("id % 70 AS k", "id % 7 AS g", "id AS v")
      .repartition(4).write.parquet(s"$dir/t.parquet")
    Tables.load(session, dir, "t").groupBy(col("k"), col("g"))
      .agg(sum(col("v")).as("s"))
  }

  test("a small global sort runs in one partition, one job fewer, same row order") {
    val agg = grouped(spark)
    val sorted = agg.orderBy(col("g"))
    val wrapped = Tables.sortSmallInOnePartition(agg.orderBy(col("g")))
    val plan = wrapped.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("SinglePartition"), plan)
    val (ranged, expected) = jobs(spark)(sorted.collect())
    val (single, got) = jobs(spark)(wrapped.collect())
    assert(single == ranged - 1, s"one-partition sort ran $single jobs, range sort $ranged")
    assert(got.toSeq == expected.toSeq)
    // projections over the sort are kept
    val projected = Tables.sortSmallInOnePartition(
      agg.orderBy(col("g"), col("k")).select(col("s"), col("k")))
    assert(!projected.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    assert(projected.collect().toSeq ==
      agg.orderBy(col("g"), col("k")).select(col("s"), col("k")).collect().toSeq)
  }

  test("the range sort is kept when broadcasting is off") {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val sorted = grouped(scoped).orderBy(col("g"))
    val out = Tables.sortSmallInOnePartition(sorted)
    assert(out eq sorted)
    assert(out.queryExecution.executedPlan.toString.contains("rangepartitioning"))
  }

  test("a sort whose input already arrives in one partition is left as is") {
    val agg = grouped(spark)
    val total = agg.agg(sum(col("s")).as("t"), count(lit(1)).as("n"))
    val ranked = agg.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("s"), col("k"))))
    for (sorted <- Seq(total.orderBy(col("t")), total.union(total).orderBy(col("n")),
        ranked.orderBy(col("r")).select(col("k"), col("r")))) {
      // Spark plans no exchange for these sorts, so there is nothing to save
      assert(!sorted.queryExecution.executedPlan.toString.contains("rangepartitioning"))
      assert(Tables.sortSmallInOnePartition(sorted) eq sorted)
    }
  }

  test("count() on the one-partition sort runs no more jobs than on the range sort") {
    val sorted = grouped(spark).orderBy(col("g"))
    val wrapped = Tables.sortSmallInOnePartition(sorted)
    assert(!(wrapped eq sorted))
    val (ranged, n1) = jobs(spark)(sorted.count())
    val (single, n2) = jobs(spark)(wrapped.count())
    assert(n1 == n2 && single <= ranged, s"$single jobs against $ranged")
  }
}
