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

  /** First `n` hex digits of the MD5 of an input directory: collision-
    * resistant where a 32-bit `String.hashCode` clash between two inputs
    * would silently serve one input's derived data for the other. */
  def dirDigest(dir: String, n: Int = 12): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(n)

  /** Scratch path `<java.io.tmpdir>/graft-<tag>-<pid>/<name>_<dirDigest(dir)>`
    * for a query that writes files or tables. Per process, so concurrent
    * Verify/Bench processes never race on the same files and repeated
    * calls in one JVM reuse a directory instead of leaking one per run;
    * per input directory, so whatever a query persists from one input is
    * never read back for another. */
  def scratch(tag: String, name: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-$tag-${ProcessHandle.current().pid()}/" +
      s"${name}_${dirDigest(dir)}"
}
