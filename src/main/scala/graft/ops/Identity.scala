package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contiguous IDENTITY assignment (the Delta `GENERATED ALWAYS AS
  * IDENTITY` surface, batch form) — dense sequential ids over a
  * DETERMINISTIC total order, with no global sort and no driver
  * zipWithIndex: the rank is the [[ShardLookup.exclusivePrefix]] sharded
  * prefix sum over per-row unit counts.
  *
  * Contract: `keyCol` is the total order AND must be unique and non-null
  * — duplicate keys would make intra-tie order layout-dependent (the
  * same caveat as any order-based id scheme). NULL keys drop.
  *
  * Compose with [[graft.sources.SnapshotTable.fastStats]] for the
  * append case: the next batch's `start` is the stored column's
  * metadata-only MAX + 1 — no table scan to find the high-water mark. */
object Identity {

  def assignIds(df: DataFrame, keyCol: String, idName: String = "id",
      start: Long = 1L): DataFrame = {
    require(!df.columns.contains(idName), s"column '$idName' already exists")
    val cols = df.columns.toSeq
    val base = df.where(col(keyCol).isNotNull)
      .select(cols.map(col) :+ col(keyCol).as("v") :+ lit(1L).as("__one"): _*)
    ShardLookup.exclusivePrefix(base, Seq(col("v")), Seq("__one" -> "__rk")).df
      .withColumn(idName, lit(start) + col("__rk"))
      .select((cols :+ idName).map(col): _*)
  }
}
