package graft.queries

import graft.{SparkEntry, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Queries that persist what they derive from an input directory read it
  * back only for that same directory. */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  test("p7 on a second input reads that input's layout, not the first one's") {
    val a = Files.createTempDirectory("graft-scratch-a").toString
    val b = Files.createTempDirectory("graft-scratch-b").toString
    // day totals 3.75, 15.25, 14.25, 14.00, 2.00: p7's day filter
    // (day_value * 8 > max * 7) keeps the middle three
    Seq((1L, "2024-01-01 09:00:00", "view", 1.25), (2L, "2024-01-01 10:00:00", "buy", 2.50),
      (3L, "2024-01-02 09:00:00", "view", 10.00), (4L, "2024-01-02 10:00:00", "buy", 5.25),
      (5L, "2024-01-03 09:00:00", "buy", 9.75), (6L, "2024-01-03 10:00:00", "view", 4.50),
      (7L, "2024-01-04 09:00:00", "view", 14.00), (8L, "2024-01-05 09:00:00", "buy", 2.00))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$a/events.parquet")
    // the same events with every value doubled: the same days pass the
    // filter, so every total must double exactly
    spark.read.parquet(s"$a/events.parquet")
      .withColumn("value", col("value") * 2)
      .coalesce(1).write.parquet(s"$b/events.parquet")
    val p7 = SparkEntry.queries("p7_partition_prune")
    def run(dir: String) = p7(spark, dir).as[(String, Long, Double)].collect().toSeq
    val fromA = run(a)
    val fromB = run(b)
    assert(fromA.map(_._2).sum == 5, s"unexpected day selection: $fromA")
    assert(fromB.map(r => (r._1, r._2)) == fromA.map(r => (r._1, r._2)))
    assert(fromB.map(r => BigDecimal(r._3)) == fromA.map(r => BigDecimal(r._3) * 2),
      s"p7 on the second input returned $fromB after $fromA")
  }
}
