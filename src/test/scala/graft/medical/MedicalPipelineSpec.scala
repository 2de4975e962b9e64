package graft.medical

import graft.SparkSpec
import graft.pipeline.Runner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden end-to-end: the full reference pipeline over the fixture cohorts
  * (SURVEY §5 "golden end-to-end" + §7.2 minimum slice). */
class MedicalPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val study = MedicalPipeline.cleanStudy(MedicalFixtures.studyRaw(spark))
  private lazy val control = MedicalPipeline.cleanControl(MedicalFixtures.controlRaw(spark))
  private lazy val twoPoint = MedicalPipeline.cleanTwoPoint(MedicalFixtures.twoPointRaw(spark))
  /** The cleaned cohorts read back from Parquet, as the DAG's later stages
    * read them (a plan over local rows can run without any job). */
  private lazy val (studyLake, controlLake, twoPointLake) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-med-lake").toString
    def lake(df: DataFrame, name: String) = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    (lake(study, "study"), lake(control, "control"), lake(twoPoint, "twoPoint"))
  }

  test("cleaning: types repaired, not-null filters applied") {
    assert(study.count() == 29) // one null-Płeć row dropped
    assert(study.schema("SUV (max) w miejscu zapalenia").dataType == DoubleType)
    assert(study.schema("Data badania").dataType == DateType)
    assert(study.schema("cukrzyca").dataType == BooleanType)
    assert(study.schema("Gorączka").dataType == BooleanType)
    assert(control.count() == 24)
    assert(control.schema("cukrzyca").dataType == BooleanType)
    assert(twoPoint.count() == 11)
    assert(twoPoint.schema("SUV (max) w miejscu zapalenia44").dataType == DoubleType)
  }

  test("quality reports catch the planted violations") {
    val rep = MedicalPipeline.qualityStudy(study)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rep(("outside range", "SUV (max) w miejscu zapalenia")) >= 1) // the 85.0
    assert(rep(("outside range", "tumor to background ratio")) >= 1)     // the 1.4
    assert(rep(("null values", "Płeć")) == 0) // filtered at clean
    val crep = MedicalPipeline.qualityControl(control)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(crep(("z-score outliers", "SUV protezy")) >= 1) // the 40.0
    assert(MedicalPipeline.qualityTwoPoint(twoPoint).count() > 0)
  }

  test("all 18 summary tables build with the Division/Category/agg shape") {
    val sums = MedicalPipeline.summaries(study, control, twoPoint)
    assert(sums.size == 18)
    val shaped = sums.filterNot(s =>
      Set("SuvStudyVsCrontrol", "TechnicalDataInStudyAndControlGroup")(s._1))
    shaped.foreach { case (name, df) =>
      assert(df.columns.take(3).toSeq ==
        Seq("Division", "DivisionCategory", "aggregation"), s"shape of $name")
      assert(df.where($"Division" === "All").count() > 0, s"All row in $name")
      assert(df.count() > 0, name)
    }
    // cross-cohort tables are 1-row wide frames
    assert(sums("SuvStudyVsCrontrol").count() == 1)
    assert(sums("TechnicalDataInStudyAndControlGroup").count() == 1)
    // spot-check a value: global sum of 'krew +' equals direct aggregation
    val micro = sums("MicrobiologicDataStudyGroup")
      .where($"Division" === "All" && $"aggregation" === "sum")
      .select($"`krew +`").as[Double].head()
    val direct = study.agg(sum($"`krew +`")).as[Long].head().toDouble
    assert(micro == direct)
  }

  test("cohort prep: imagingFrame and numbsFrame schemas match the reference") {
    val imaging = MedicalPipeline.imagingFrame(study)
    assert(imaging.columns.toSeq == Seq("IrregularBorders", "FocalAccumulation",
      "GasBubbles", "Thrombus", "Fluid", "FluidFatAttenuation",
      "InflammatoryMass", "puruletFistula", "activeLymphNodes",
      "pseudoAneurysm", "SuvInFocus", "TBR"))
    val numbs = MedicalPipeline.cohortNumbsFrame(study, control)
    assert(numbs.columns.toSet == Set("SuvInFocus", "TBR",
      "simplifiedClassification", "prosthesisType", "ageInYearsWhenSurgery",
      "gender", "isStudy", "isMale"))
    assert(numbs.where($"isStudy" === 1).count() == 29)
    assert(numbs.where($"isStudy" === 0).count() == 24)
    // study classification normalized to Y/B
    assert(numbs.select("simplifiedClassification").distinct()
      .as[String].collect().toSet.subsetOf(Set("Y", "B")))
  }

  test("stats stage: p-values in range, thresholds finite, SABHA selective") {
    val imaging = MedicalPipeline.imagingFrame(study)
    val numbs = MedicalPipeline.cohortNumbsFrame(study, control)
    val res = MedicalPipeline.statsStage(imaging, numbs, nPerm = 199, seed = 7)
    assert(res.imagingPValues.nonEmpty)
    res.imagingPValues.foreach { case (_, pSuv, pTbr) =>
      assert((pSuv >= 0 && pSuv <= 1) || pSuv == 2.0)
      assert((pTbr >= 0 && pTbr <= 1) || pTbr == 2.0)
    }
    assert(res.ageTestP >= 0 && res.ageTestP <= 1)
    assert(res.prosthesisTypeP > 0 && res.prosthesisTypeP <= 1)
    assert(res.locationP > 0 && res.locationP <= 1)
    assert(!res.thresholdSuv.isNaN && !res.thresholdTbr.isNaN)
  }

  test("stats stage over two collects equals the per-column protocol bit for bit") {
    import graft.stats.{FDR, Fisher, PermutationTest, Roc}
    val imaging = MedicalPipeline.imagingFrame(studyLake)
    val numbs = MedicalPipeline.cohortNumbsFrame(studyLake, controlLake)
    val (nPerm, seed) = (199, 7L)
    val (jobs, got) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      MedicalPipeline.statsStage(imaging, numbs, nPerm, seed))
    assert(jobs == 2, s"$jobs jobs") // one collect per input

    // the per-column protocol: one collect per test and per ROC vector
    val boolCols = imaging.columns.filterNot(Set("SuvInFocus", "TBR", "Fluid",
      "IrregularBorders", "FocalAccumulation")).toSeq
    val pvals = boolCols.map(c => (c,
      PermutationTest.onColumns(imaging, c, "SuvInFocus", nPerm, seed),
      PermutationTest.onColumns(imaging, c, "TBR", nPerm, seed)))
    val ageP = PermutationTest.onColumns(numbs, "isStudy", "ageInYearsWhenSurgery", nPerm, seed)
    val prosthesisP = Fisher.test(numbs.select(($"prosthesisType" === "stentgraft").as("x"),
      $"isStudy".cast("boolean").as("y")), "x", "y")._5
    val locP = Fisher.test(numbs.where($"simplifiedClassification".isin("Y", "B"))
      .select(($"simplifiedClassification" === "Y").as("x"),
        $"isStudy".cast("boolean").as("y")), "x", "y")._5
    def vec(c: String, study: Int) = numbs.where($"isStudy" === study && col(c).isNotNull)
      .select(col(c).cast("double")).as[Double].collect()
    val want = MedicalPipeline.StatsResults(pvals,
      FDR.sabhaSelect((pvals.map(_._2) ++ pvals.map(_._3)).toArray,
        (boolCols ++ boolCols).toArray).distinct,
      ageP, prosthesisP, locP,
      FDR.sabhaSelect(Array(ageP, prosthesisP, locP),
        Array("ageTest", "prosthesisTypeTest", "locTest")),
      Roc.thres2Equal(vec("SuvInFocus", 1), vec("SuvInFocus", 0), 0.01),
      Roc.thres2Equal(vec("TBR", 1), vec("TBR", 0), 0.01))
    // Double.toString round-trips, so equal strings are equal bits
    assert(got.toString == want.toString, s"\n got:  $got\n want: $want")
  }

  test("summaries: one aggregation job per cohort, then local one-partition tables") {
    val (jobs, sums) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      MedicalPipeline.summaries(studyLake, controlLake, twoPointLake))
    // three aggregations, each run as its exchange's map-stage job (adaptive
    // execution materializes a shuffle as a job of its own) and its collect
    assert(jobs == 3 * 2, s"$jobs jobs")
    sums.foreach { case (name, df) => assert(df.rdd.getNumPartitions == 1, name) }
  }

  test("association rules: FP-Growth's rules to the bit, from one aggregation") {
    import graft.stats.AssociationRules
    // the imaging frame with NULL cells in two mined columns, read back from
    // Parquet so that every job it costs is counted
    val dir = java.nio.file.Files.createTempDirectory("graft-med-rules").toString + "/imaging"
    val img = MedicalPipeline.imagingFrame(studyLake)
    img.select(img.columns.toSeq.map {
      case c @ "GasBubbles" => when($"TBR" > 0.6, lit(null)).otherwise(col(c)).as(c)
      case c @ "Thrombus" => when($"SuvInFocus" < 4, lit(null)).otherwise(col(c)).as(c)
      case c => col(c)
    }: _*).write.parquet(dir)
    val imaging = spark.read.parquet(dir)
    assert(imaging.where($"GasBubbles".isNull || $"Thrombus".isNull).count() > 0)
    val boolCols = imaging.columns.filterNot(Set("SuvInFocus", "TBR", "Fluid")).toSeq
    def rows(df: DataFrame) = df.collect().toSeq

    val (jobs, got) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      rows(MedicalPipeline.imagingAssociationRules(imaging)))
    // the basket aggregation (its exchange's map stage and its collect),
    // then the one-partition rule frame
    assert(jobs <= 3, s"$jobs jobs")
    assert(got == rows(AssociationRules.mine(imaging, boolCols)))
    // the reference's thresholds leave few or no rules on 29 rows: the same
    // equality at looser ones, where there are rules to compare
    val loose = AssociationRules.mineBoolean(imaging, boolCols,
      minSupport = 0.1, minConfidence = 0.5, minLen = 2, minLift = 1.0)
    val looseFp = AssociationRules.mine(imaging, boolCols,
      minSupport = 0.1, minConfidence = 0.5, minLen = 2, minLift = 1.0)
    assert(rows(loose).nonEmpty)
    assert(rows(loose) == rows(looseFp)) // Row equality compares doubles exactly
  }

  test("ml stage trains and reports importances for the 6 features") {
    val numbs = MedicalPipeline.cohortNumbsFrame(study, control)
    val res = MedicalPipeline.mlStage(numbs)
    assert(res.featureImportances.map(_._1).toSet == Set("SuvInFocus", "TBR",
      "ageInYearsWhenSurgery", "isStentgraft", "isY", "isMale"))
    assert(res.accuracy > 0 && res.auc >= 0)
  }

  test("full DAG through Runner with catalog persistence between stages") {
    import graft.sources.Catalog
    val wh = java.nio.file.Files.createTempDirectory("graft-med").toString
    val cat = new Catalog(spark, "medMeta")
    var summaryCount = 0L
    val results = Runner.run(spark, Seq(
      Runner.Stage("cleanStudy")(s =>
        MedicalPipeline.cleanStudy(MedicalFixtures.studyRaw(s))
          .write.mode("overwrite").parquet(s"$wh/study")),
      Runner.Stage("cleanControl")(s =>
        MedicalPipeline.cleanControl(MedicalFixtures.controlRaw(s))
          .write.mode("overwrite").parquet(s"$wh/control")),
      Runner.Stage("qualityStudy", dependsOn = Seq("cleanStudy"))(s =>
        MedicalPipeline.qualityStudy(s.read.parquet(s"$wh/study"))
          .write.mode("overwrite").parquet(s"$wh/qualityStudy")),
      Runner.Stage("summaries", dependsOn = Seq("cleanStudy", "cleanControl"))(s => {
        val sums = MedicalPipeline.summaries(
          s.read.parquet(s"$wh/study"), s.read.parquet(s"$wh/control"),
          MedicalPipeline.cleanTwoPoint(MedicalFixtures.twoPointRaw(s)))
        cat.createTableWithMeta("SuvVsVisualScales",
          "sum+median of SUVs by visual scales", sums("SuvVsVisualScales"))
        summaryCount = sums("SuvVsVisualScales").count()
      })))
    assert(results.forall(_.ok), results.filterNot(_.ok).map(_.error).mkString)
    assert(summaryCount > 0)
    assert(cat.table("SuvVsVisualScales").count() == summaryCount)
    assert(cat.metadata.where($"tableName" === "SuvVsVisualScales").count() == 1)
  }

  test("division tables round-trip through the catalog and drive projections") {
    val divisions = MedicalPipeline.studyDivisions(spark)
    assert(divisions.columns.toSeq == Seq("divisionName", "listOfColumnNames"))
    val labs = MedicalPipeline.frameForDivision(study, divisions, "labInflammation")
    assert(labs.columns.toSeq == Seq("CRP(6 mcy)", "WBC(6 mcy)"))
    intercept[NoSuchElementException] {
      MedicalPipeline.columnsOfDivision(divisions, "missing")
    }
  }

  test("runner isolates failures: dependents skip, independents continue") {
    val results = Runner.run(spark, Seq(
      Runner.Stage("boom")(_ => throw new RuntimeException("x")),
      Runner.Stage("child", dependsOn = Seq("boom"))(_ => ()),
      Runner.Stage("independent")(_ => ())))
    assert(!results.find(_.name == "boom").get.ok)
    assert(!results.find(_.name == "child").get.ok)
    assert(results.find(_.name == "independent").get.ok)
  }
}
