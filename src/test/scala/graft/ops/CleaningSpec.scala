package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("advancedCasting casts listed columns, preserves order and others") {
    val df = Seq(("1,5", "x", "3"), ("2,25", "y", "4")).toDF("a", "b", "c")
    val out = Cleaning.commaDecimalToDouble(df, Seq("a"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.schema("a").dataType == DoubleType)
    assert(out.select("a").as[Double].collect().toSeq == Seq(1.5, 2.25))
    assert(out.select("b").as[String].collect().toSeq == Seq("x", "y"))
  }

  test("booleanFromString: trueString→true, other→false, null→null") {
    val df = Seq(Some("prawda"), Some("PRAWDA"), Some(""), Some("nie"), None)
      .toDF("flag")
    val out = Cleaning.booleanFromString(df, "prawda", Seq("flag"))
    assert(out.schema("flag").dataType == BooleanType)
    assert(out.as[Option[Boolean]].collect().toSeq ==
      Seq(Some(true), Some(true), Some(false), Some(false), None))
  }

  test("booleanFromString equals lower(cast(c as string)) = t on every code point") {
    // every Unicode scalar value as a one-character string (a lone surrogate
    // has no UTF-8 encoding), a few mixed-case words, "" and NULL
    val chars = spark.range(0, Character.MAX_CODE_POINT + 1L)
      .where(!col("id").between(Character.MIN_SURROGATE.toLong, Character.MAX_SURROGATE.toLong))
      .map(cp => new String(Character.toChars(cp.intValue)))
    val words = Seq("PRAWDA", "Prawda", "prawdą", "ta\u212A", "İ", "", null).toDF("value")
    val in = chars.toDF("value").union(words)
      .select(col("value").as("s"), col("value").as("flag"))
    for (t <- Seq("prawda", "tak", "o")) {
      val out = Cleaning.booleanFromString(in, t, Seq("flag"))
        .withColumn("want", lower(col("s").cast("string")) === lit(t))
      val diff = out.where(!(col("flag") <=> col("want"))).limit(5).collect()
      assert(diff.isEmpty, s"$t: ${diff.mkString(", ")}")
      assert(out.where(col("flag")).count() > 0, t) // some row is true: not vacuous
    }
  }

  test("booleanFromString rejects a non-ASCII trueString") {
    val df = Seq("prawdą").toDF("flag")
    val e = intercept[IllegalArgumentException](Cleaning.booleanFromString(df, "prawdą", Seq("flag")))
    assert(e.getMessage.contains("booleanFromString needs an ASCII trueString"), e.getMessage)
  }

  test("booleanFromInt casts 0/1 to boolean") {
    val df = Seq(Some(1), Some(0), None).toDF("b")
    val out = Cleaning.booleanFromInt(df, Seq("b"))
    assert(out.as[Option[Boolean]].collect().toSeq ==
      Seq(Some(true), Some(false), None))
  }

  test("castToDate parses ISO dates") {
    val df = Seq("2024-01-31", "bogus").toDF("d")
    val out = Cleaning.castToDate(df, Seq("d"))
    assert(out.schema("d").dataType == DateType)
    val got = out.as[Option[java.sql.Date]].collect()
    assert(got(0).contains(java.sql.Date.valueOf("2024-01-31")))
    assert(got(1).isEmpty)
  }

  test("renameByMap and renameByIndex rename in one projection") {
    val df = Seq((1, 2, 3)).toDF("x", "y", "z")
    assert(Cleaning.renameByMap(df, Map("y" -> "why")).columns.toSeq ==
      Seq("x", "why", "z"))
    assert(Cleaning.renameByIndex(df, Map(0 -> "first", 2 -> "third")).columns.toSeq ==
      Seq("first", "y", "third"))
  }

  test("selectRenamed projects with aliases") {
    val df = Seq((1, "a")).toDF("n", "s")
    val out = Cleaning.selectRenamed(df, Seq("s" -> "label", "n" -> "num"))
    assert(out.columns.toSeq == Seq("label", "num"))
  }
}
