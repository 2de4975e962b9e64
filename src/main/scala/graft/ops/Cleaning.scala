package graft.ops

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-cleaning operators (SURVEY §2.2 P1-P9).
  *
  * Behavior derived from the reference's cleaning notebooks
  * (`notebooks/PhdProject/utils.scala:64-108`, the `data clean` notebooks), re-expressed
  * as pure `DataFrame => DataFrame` functions in the DataFrame DSL only — no
  * generated-SQL detour (the reference round-trips through the parser for its
  * boolean cast, `utils.scala:104-108`; we stay in one analyzed plan).
  *
  * Every operator here is a projection: zero shuffles, folds into the
  * surrounding whole-stage-codegen span, and keeps column pruning/pushdown
  * intact at any scale.
  */
object Cleaning {

  /** P1 — keep the named columns, in the given order (`utils.scala:64-67`). */
  def selectColumns(df: DataFrame, names: Seq[String]): DataFrame =
    df.select(names.map(col): _*)

  /** P2 — `advancedCasting` (`utils.scala:94-96`): for each column in `cols`,
    * apply `prepare` then cast to `castTo`, keeping original name and column
    * order; all other columns pass through untouched.
    */
  def advancedCasting(
      df: DataFrame,
      cols: Seq[String],
      castTo: String,
      prepare: String => Column = c => col(c)): DataFrame = {
    val target = cols.toSet
    df.select(df.columns.toSeq.map { c =>
      if (target(c)) prepare(c).cast(castTo).as(c) else col(c)
    }: _*)
  }

  /** Comma-decimal repair + double cast (`data clean/studyGrScalaA.scala:71-73`):
    * numbers serialized with a decimal comma ("12,5") become doubles.
    */
  def commaDecimalToDouble(df: DataFrame, cols: Seq[String]): DataFrame =
    advancedCasting(df, cols, "double", c => regexp_replace(col(c), ",", "."))

  /** Date cast (`studyGrScalaA.scala:80-81`). */
  def castToDate(df: DataFrame, cols: Seq[String]): DataFrame =
    advancedCasting(df, cols, "date", c => to_date(col(c)))

  /** P3 — boolean normalization (`utils.scala:104-108` semantics, pure DSL):
    * `lower(cast(col as string)) == trueString`; NULL input stays NULL
    * (SQL equality is null-propagating, matching the generated-SQL original).
    * Covers the reference's "prawda"/"" and "tak"/"nie" encodings.
    *
    * The comparison folds only `A-Z` and U+212A KELVIN SIGN (`translate`)
    * instead of calling `lower()`: Spark's `lower()` uses ICU case mapping,
    * whose first use in a JVM sets up ICU's tables, seconds of a cold clean
    * stage's one task. For an ASCII `trueString` the two agree on every string:
    * the Kelvin sign is the only non-ASCII code point that lowercases to one
    * ASCII character, and none lowercases to several ASCII-only characters
    * (`CleaningSpec` checks every code point). A non-ASCII `trueString` is
    * rejected.
    */
  def booleanFromString(df: DataFrame, trueString: String, cols: Seq[String]): DataFrame = {
    require(trueString.forall(_ < 0x80),
      s"booleanFromString needs an ASCII trueString, got '$trueString'")
    val t = trueString.toLowerCase(Locale.ROOT)
    advancedCasting(df, cols, "boolean",
      c => translate(col(c).cast("string"), foldFrom, foldTo) === lit(t))
  }

  /** The characters `booleanFromString` folds, and what each folds to. */
  private val (foldFrom, foldTo) = (('A' to 'Z').mkString + "\u212A", ('a' to 'z').mkString + "k")

  /** 0/1-integer boolean cast (`contrGrScalaA.scala:39-41`). */
  def booleanFromInt(df: DataFrame, cols: Seq[String]): DataFrame =
    advancedCasting(df, cols, "boolean")

  /** P7 — drop listed columns (`studyGrScalaA.scala:54-55`). */
  def dropColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** P8 — rename by map, as a single projection (the reference chains 24
    * `withColumnRenamed` calls, `studyGrScalaA.scala:23-46`, each of which
    * re-analyzes the plan; one `select` is equivalent and O(1) plans).
    */
  def renameByMap(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.select(df.columns.toSeq.map(c => col(c).as(renames.getOrElse(c, c))): _*)

  /** P8 — rename by position, for mangled multi-line headers the reference
    * addresses as `df.columns(92)` (`studyGrScalaA.scala:24`,
    * `contrGrScalaA.scala:15-16`).
    */
  def renameByIndex(df: DataFrame, renames: Map[Int, String]): DataFrame =
    df.select(df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      col(c).as(renames.getOrElse(i, c))
    }: _*)

  /** P9 — batch select-with-rename (`HypothesisTestingPrediction.scala:78-97`). */
  def selectRenamed(df: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    df.select(pairs.map { case (from, to) => col(from).as(to) }: _*)
}
