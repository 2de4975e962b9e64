package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.medical.MedicalPipeline
import graft.pipeline.Runner
import graft.sources.{Catalog, Sources}

/** The paper's stage DAG through `Runner.run`: raw TSV → clean ×3 →
  * quality ×3 → 18 summary tables → statistics (999 permutations) →
  * association rules → ML. Cleaned cohorts, summaries and results persist
  * as Parquet, the quality reports as catalog tables with their metadata
  * rows; the next stage reads them back. */
final class MedicalDag(spark: SparkSession, tracer: Tracer, raw: Path, out: Path, seed: Long) {
  private val cat = new Catalog(spark, "perfbenchMeta")
  private def lake(name: String) = out.resolve(name).toString

  private def readTsv(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    tracer.span("sources.read")(Sources.readTsv(spark, raw.resolve(s"$name.tsv").toString, Some(schema)))
  private def readParquet(name: String): DataFrame =
    tracer.span("sources.read")(spark.read.parquet(lake(name)))
  private def writeParquet(df: DataFrame, name: String): Unit =
    tracer.span("sources.write")(df.write.mode("overwrite").parquet(lake(name)))
  private def writeTable(df: DataFrame, name: String): Unit =
    tracer.span("sources.write")(cat.createTableWithMeta(name, s"perfbench $name", df))

  @volatile var stats: Option[MedicalPipeline.StatsResults] = None
  @volatile var ml: Option[graft.ml.CohortClassifier.Result] = None

  private def stage(name: String, deps: String*)(body: => Unit) =
    Runner.Stage(name, deps)(_ => tracer.span(s"stage:$name")(body))

  val stages: Seq[Runner.Stage] = Seq(
    stage("cleanStudy")(writeParquet(
      MedicalPipeline.cleanStudy(readTsv("study", Cohort.studySchema)), "study")),
    stage("cleanControl")(writeParquet(
      MedicalPipeline.cleanControl(readTsv("control", Cohort.controlSchema)), "control")),
    stage("cleanTwoPoint")(writeParquet(
      MedicalPipeline.cleanTwoPoint(readTsv("twopoint", Cohort.twoPointSchema)), "twopoint")),
    stage("qualityStudy", "cleanStudy")(
      writeTable(MedicalPipeline.qualityStudy(readParquet("study")), "qualityStudy")),
    stage("qualityControl", "cleanControl")(
      writeTable(MedicalPipeline.qualityControl(readParquet("control")), "qualityControl")),
    stage("qualityTwoPoint", "cleanTwoPoint")(
      writeTable(MedicalPipeline.qualityTwoPoint(readParquet("twopoint")), "qualityTwoPoint")),
    stage("summaries", "qualityStudy", "qualityControl", "qualityTwoPoint")(
      MedicalPipeline.summaries(readParquet("study"), readParquet("control"),
        readParquet("twopoint")).toSeq.sortBy(_._1).foreach { case (n, df) =>
          writeParquet(df, s"summaries/$n") }),
    stage("stats", "summaries") {
      val study = readParquet("study")
      val res = MedicalPipeline.statsStage(MedicalPipeline.imagingFrame(study),
        MedicalPipeline.cohortNumbsFrame(study, readParquet("control")), nPerm = 999, seed = seed)
      import spark.implicits._
      writeParquet(res.imagingPValues.toDF("characteristic", "pSuv", "pTbr"), "imagingPValues")
      stats = Some(res)
    },
    stage("rules", "stats")(writeParquet(
      MedicalPipeline.imagingAssociationRules(MedicalPipeline.imagingFrame(readParquet("study"))),
      "rules")),
    stage("ml", "rules") {
      val res = MedicalPipeline.mlStage(
        MedicalPipeline.cohortNumbsFrame(readParquet("study"), readParquet("control")))
      import spark.implicits._
      writeParquet(res.featureImportances.toDF("feature", "importance"), "featureImportances")
      ml = Some(res)
    })

  /** One pass of the DAG. The catalog's metadata table is dropped first so
    * every pass does the same work. */
  def runOnce(): Seq[Runner.StageResult] = {
    spark.sql("DROP TABLE IF EXISTS perfbenchMeta")
    stats = None; ml = None
    Runner.run(spark, stages)
  }

  private def expect(ok: => Boolean, what: String): Option[String] =
    if (try ok catch { case _: Throwable => false }) None else Some(what)

  /** Quality-report cells that differ from the planted counts. */
  def qualityCheck(e: Cohort.Expected): Seq[String] =
    Seq("study" -> "qualityStudy", "control" -> "qualityControl",
      "twopoint" -> "qualityTwoPoint").flatMap { case (cohort, table) =>
      expect(e.quality(cohort) == cat.table(table).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap, s"$table counts")
    }

  /** Check the pass's outputs against what the generator planted; returns
    * the failed checks' descriptions. */
  def check(e: Cohort.Expected): Seq[String] = {
    val bad = Seq.newBuilder[String] ++= qualityCheck(e)
    def expect(ok: => Boolean, what: String): Unit = bad ++= this.expect(ok, what)
    for (cohort <- Seq("study", "control", "twopoint"))
      expect(spark.read.parquet(lake(cohort)).count() == e.rows(cohort), s"$cohort row count")
    val names = spark.table("perfbenchMeta").select("tableName").collect().map(_.getString(0)).toSet
    expect(names == Set("qualityStudy", "qualityControl", "qualityTwoPoint"),
      "quality reports registered in the catalog")
    def summary(n: String) = spark.read.parquet(lake(s"summaries/$n"))
    val shaped = MedicalDag.summaryNames.filterNot(MedicalDag.crossCohort)
    expect(shaped.forall { n =>
      val t = summary(n)
      t.columns.take(3).toSeq == Seq("Division", "DivisionCategory", "aggregation") &&
        t.where(col("Division") === "All").count() > 0
    }, "summary tables shaped with All rows")
    expect(MedicalDag.crossCohort.forall(n => summary(n).count() == 1), "cross-cohort tables are 1 row")
    expect(summary("MicrobiologicDataStudyGroup")
      .where(col("Division") === "All" && col("aggregation") === "sum")
      .select(col("`krew +`")).collect().map(_.getDouble(0)).toSeq == Seq(e.krewPlus.toDouble),
      "krew + total")
    expect(stats.exists { s =>
      def p(x: Double) = (x >= 0 && x <= 1) || x == graft.stats.PermutationTest.DegenerateSentinel
      s.imagingPValues.size == 7 && s.imagingPValues.forall(v => p(v._2) && p(v._3)) &&
        Seq(s.ageTestP, s.prosthesisTypeP, s.locationP).forall(x => x >= 0 && x <= 1) &&
        !s.thresholdSuv.isNaN && !s.thresholdTbr.isNaN
    }, "stats p-value ranges and thresholds")
    expect(spark.read.parquet(lake("rules")).collect().exists(r =>
      r.getString(0) == "FocalAccumulation,IrregularBorders" && r.getString(1) == "GasBubbles"),
      "planted association rule")
    expect(ml.exists(m => m.featureImportances.map(_._1).toSet == MedicalDag.features &&
      m.accuracy > 0 && m.accuracy <= 1 && m.auc >= 0), "ml feature set and scores")
    bad.result()
  }
}

object MedicalDag {
  val crossCohort = Set("SuvStudyVsCrontrol", "TechnicalDataInStudyAndControlGroup")
  val summaryNames: Seq[String] = Seq("DatesSummary", "surgeryCouses", "OtherRiskFactors",
    "LabolatoryInflammation", "MicrobiologicDataStudyGroup", "StudyGroupLoc", "StudyGroupSuv",
    "StudyGroupImageCharacteristic", "SuvVsVisualScales", "CtDoneBefore",
    "BasicDataTwoPointStudy", "BasicInControlGroup", "ControlGroupDates", "SuvTwoPointStudy",
    "SuvVsVisualScalesControlGroup", "MaterialEtcPerGender") ++ crossCohort.toSeq.sorted
  val features = Set("SuvInFocus", "TBR", "ageInYearsWhenSurgery", "isStentgraft", "isY", "isMale")
}
