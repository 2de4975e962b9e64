package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.QualityQueries.revenuePerNation

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` where the operator is
  * SQL-expressible (non-expressible ops get a weaker rows-only check).
  * Both maps are views of the family objects under `graft.queries`, where
  * each query's Spark body and its oracle sit side by side.
  *
  * Hash-match discipline (driver compares value hashes after sorting columns
  * by name): every aggregate/computed column is aliased identically on both
  * sides; money sums go through DECIMAL(18,2) so both engines sum exactly and
  * cast the same exact value to double; medians use exact interpolating
  * `percentile` ≡ DuckDB `quantile_cont`; every query ORDER BYs its keys.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Multi-join +
    * aggregation: revenue per nation (broadcast dims, shuffled fact join). */
  def entry(spark: SparkSession): DataFrame =
    revenuePerNation(spark, "/root/testdata/sf0.001")

  /** Every query family, by name prefix. */
  private[graft] val families: Seq[Family] = Seq(
    SketchQueries, DedupQueries, EventQueries, SummaryQueries,
    HistogramQueries, JoinQueries, MlQueries, VectorQueries,
    ProjectionQueries, QualityQueries, StatsQueries, MoreStatsQueries,
    SourceQueries, TextQueries, SetQueries, WindowQueries, MultimodalQueries)

  private def registry: Seq[Query] = families.flatMap(_.queries)

  /** Each query's frame as its body builds it, with a small final sort done
    * in one partition ([[Tables.sortSmallInOnePartition]]). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> ((spark: SparkSession, dir: String) =>
      Tables.sortSmallInOnePartition(q.run(spark, dir)))).toMap

  /** Read after the queries ran: a fitted query's replay exists only once it
    * has run in this JVM. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.sql.map(q.name -> _)).toMap
}
