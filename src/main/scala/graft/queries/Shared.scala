package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers used by several query families. */
private[queries] object Shared {

  /** Exact sum for 2-decimal money columns: decimal accumulate (order-
    * independent, no FP drift) then cast to double and round — both engines
    * produce bit-identical results. */
  def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 2)

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
}
