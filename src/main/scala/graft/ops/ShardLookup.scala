package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two-phase sharded-global pattern: a running integer sum in a global
  * order without a single-partition sort ([[exclusivePrefix]]), plus the
  * per-shard lookup attachment that delivers its driver-computed base maps
  * ([[attachLong]], [[attachDouble]]).
  *
  * The protocol, written once in [[exclusivePrefix]]:
  *   1. pin the input (localCheckpoint): RangePartitioning samples its child
  *      in a separate job before the shuffle, so an unpinned upstream — often
  *      a corpus-sized groupBy — would execute twice;
  *   2. range-shard on the order into contiguous shards and pin again, so
  *      row-to-shard assignment cannot drift between the totals job and the
  *      final pass (the partitioner re-samples bounds per execution, and a
  *      nondeterministic upstream would otherwise corrupt the bases);
  *   3. collect one row of column totals per shard;
  *   4. take the exclusive prefix over shards on the driver;
  *   5. attach each shard's base and add the per-shard windowed prefix.
  * Contiguous shards make the decomposition exact for integer sums; a running
  * DOUBLE sum would change FP association against a sequential window.
  *
  * Users: the rank tests, KS and medians ([[graft.stats.RankTests]]),
  * survival risk sets ([[graft.stats.Survival]]), the PR curve
  * ([[graft.stats.Roc]]), change points ([[graft.stats.Changepoint]]), FDR
  * ranks ([[graft.stats.FDR]], which also folds a later-shard suffix min
  * over the shard column), sequence packing ([[graft.text.Corpus]]),
  * conformal ranks ([[graft.ml.Conformal]]), identity ids, sweeps,
  * histograms, key-skew reports and systematic samples (`graft.ops`).
  * The returned frame reads the second pin; free it in long-lived sessions
  * with [[graft.dedup.Dedup.releaseCheckpoints]].
  *
  * Attachment: below [[literalThreshold]] entries the map inlines as a
  * `typedLit` plan literal — zero extra plan nodes, constant-folded lookups.
  * Above it, a partition-count-sized literal would bloat the serialized plan
  * (100k+ shards ⇒ multi-MB expression trees shipped to every task), so the
  * map ships ONCE as a broadcast-joined two-column DataFrame instead — the
  * classic small-dim broadcast, bounded by the shard count, never a shuffle
  * of the fact side. Both paths produce bit-identical columns
  * (property-pinned in ShardLookupSpec); the threshold is a plan-size knob,
  * not a semantics knob (documented in SCALING.md).
  */
object ShardLookup {

  /** Above this many map entries, deliver via broadcast join instead of a
    * plan-literal map. ~10k entries keeps the literal's serialized form
    * well under a megabyte; beyond that the broadcast path's one extra
    * plan node is the cheaper shape. */
  val literalThreshold: Int = 10000

  /** The range-shard id column of [[Prefix.sharded]]. */
  val ShardCol: String = "__shard"

  /** [[exclusivePrefix]]'s result: the frame with the prefix columns and the
    * shard id ([[ShardCol]]), and each summed column's total (0 on empty
    * input) as the shard-totals collect already holds it. */
  final case class Prefix(sharded: DataFrame, totals: Map[String, Long]) {
    def df: DataFrame = sharded.drop(ShardCol)
  }

  /** For each `(sumCol, outCol)` pair attach the EXCLUSIVE running sum of the
    * integral `sumCol` in `order` as `outCol` (rows strictly before; NULLs
    * count 0) — the protocol in the object doc. EAGER: runs its Spark jobs
    * at call time (two pins, the range sampling, one shard-totals collect).
    * `order` should be total: rows tied on it take the sort's order within
    * their shard. */
  def exclusivePrefix(df: DataFrame, order: Seq[Column],
      cols: Seq[(String, String)]): Prefix = {
    val sharded = df.localCheckpoint().repartitionByRange(order: _*)
      .withColumn(ShardCol, spark_partition_id())
      .localCheckpoint()
    val aggs = cols.map { case (c, _) => sum(col(c)) }
    val shardTotals = sharded.groupBy(col(ShardCol)).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => (r.getInt(0),
        cols.indices.map(i => if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))))
      .sortBy(_._1)
    // running(k) = the sum over shards before the k-th; its last is the total
    val running = shardTotals.scanLeft(Seq.fill(cols.size)(0L)) { case (acc, (_, t)) =>
      acc.zip(t).map { case (a, b) => a + b } }
    val bases = shardTotals.map(_._1).zip(running).toMap
    val w = Window.partitionBy(col(ShardCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = cols.zipWithIndex.foldLeft(sharded) { case (f, ((c, o), i)) =>
      attachLong(f, col(ShardCol), bases.map { case (s, a) => s -> a(i) }, "__base", 0L)
        .withColumn(o, col("__base") + coalesce(sum(col(c)).over(w), lit(0L)))
        .drop("__base")
    }
    Prefix(out, cols.map(_._1).zip(running.last).toMap)
  }

  /** `df` + column `outName` = `m(shardCol)` (or `default` where absent).
    * Long-valued variant (rank/offset bases). */
  def attachLong(df: DataFrame, shardCol: Column, m: Map[Int, Long],
      outName: String, default: Long,
      threshold: Int = literalThreshold): DataFrame =
    attach(df, shardCol, m.toSeq, outName, LongType, lit(default), threshold)

  /** Double-valued variant (suffix mins; `default` is typically +∞). */
  def attachDouble(df: DataFrame, shardCol: Column, m: Map[Int, Double],
      outName: String, default: Double,
      threshold: Int = literalThreshold): DataFrame =
    attach(df, shardCol, m.toSeq, outName, DoubleType, lit(default), threshold)

  private def attach(df: DataFrame, shardCol: Column,
      entries: Seq[(Int, Any)], outName: String, valueType: DataType,
      default: Column, threshold: Int): DataFrame = {
    if (entries.isEmpty) df.withColumn(outName, default)
    else if (entries.size <= threshold) {
      val litMap = map(entries.flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*)
      // element_at on a map literal: null on missing key → default
      df.withColumn(outName, coalesce(element_at(litMap, shardCol), default))
    } else {
      val spark = df.sparkSession
      val schema = StructType(Seq(
        StructField("__lk_shard", IntegerType, nullable = false),
        StructField(outName, valueType, nullable = false)))
      val lookup = spark.createDataFrame(
        java.util.Arrays.asList(entries.map(e => Row(e._1, e._2)): _*), schema)
      // left join + coalesce ≡ the literal path's missing-key default; the
      // explicit broadcast hint pins the plan shape independent of stats
      df.join(broadcast(lookup), shardCol === col("__lk_shard"), "left")
        .withColumn(outName, coalesce(col(outName), default))
        .drop("__lk_shard")
    }
  }
}
