package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table catalog with metadata registration (SURVEY §2.1 S4/S5): the
  * reference's `createTablesWithMeta` (`utils.scala:162-171`) overwrite-saves
  * a frame as a named table AND appends a (tableName, tableDescription,
  * time_stamp) row to `myPhdStatisticsMetaData` by reading the metadata
  * table, unioning, and overwriting it *in the same plan* — safe only on
  * Delta snapshots, a corruption hazard on plain parquet
  * (SURVEY §7.4 "metadata self-overwrite"). The engine appends the one new
  * row instead: the same rows as the reference's, in one write job, and
  * nothing to lose when several stages register at once.
  */
class Catalog(spark: SparkSession, metaTable: String = "myPhdStatisticsMetaData") {
  import spark.implicits._

  /** S5 — save `frame` as `tableName` (overwrite, mergeSchema) and register
    * the metadata row. A re-registration adds a second row, as repeated
    * runs in the reference accumulate (it never dedups). */
  def createTableWithMeta(tableName: String, description: String, frame: DataFrame): Unit = {
    frame.write.mode(SaveMode.Overwrite)
      .option("mergeSchema", "true")
      .saveAsTable(tableName)
    val newRow = Seq((tableName, description)).toDF("tableName", "tableDescription")
      .withColumn("time_stamp", current_timestamp())
    // appends to one table share its `_temporary` directory, which the
    // first job to commit deletes, and the first append also creates the
    // table — so they run one at a time
    Catalog.metaWrites.synchronized {
      newRow.write.mode(SaveMode.Append).saveAsTable(metaTable)
    }
  }

  /** S4 — read a registered table. */
  def table(name: String): DataFrame = spark.table(name)

  /** The metadata frame itself. */
  def metadata: DataFrame = spark.table(metaTable)
}

object Catalog {
  private val metaWrites = new Object
}
