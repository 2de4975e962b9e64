package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark body over a testdata
  * directory, and how the DuckDB oracle checks its result. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: Oracle)

/** How a query's result is checked against an independent DuckDB replay. */
sealed trait Oracle {
  /** The replay SQL, if there is one now. */
  def sql: Option[String] = this match {
    case Oracle.Sql(text) => Some(text)
    case Oracle.Fitted(build) => build()
    case Oracle.RowsOnly => None
  }
}

object Oracle {
  /** A fixed replay. */
  final case class Sql(text: String) extends Oracle

  /** No replay (engine-specific hashing or Monte-Carlo output): the result
    * only has to produce rows. */
  case object RowsOnly extends Oracle

  /** A replay built from the model or artifact the query exported when it
    * last ran in this JVM; `None` until it has run, so a query subset that
    * skips it degrades to the rows-only check. */
  final case class Fitted(build: () => Option[String]) extends Oracle
}

/** The queries of one family file: every name starts with `prefix` and a
  * number (r, the largest family, spans two files). */
abstract class Family(val prefix: String) {
  def queries: Seq[Query]
}
