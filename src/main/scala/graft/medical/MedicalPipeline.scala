package graft.medical

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.ops.{AggSpec, Cleaning, Cohort, Quality, Summarize}
import graft.stats.{AssociationRules, FDR, Fisher, PermutationTest, Roc}

/** The reference's full medical analytics pipeline re-expressed with the
  * engine's operators: clean ×3 → quality ×3 → categorized summaries →
  * cohort prep → hypothesis testing → ML (stage DAG per
  * `pipeline/mainPipeline.json:4-258`).
  *
  * Column names (Polish diacritics, spaces, parens) are the reference's
  * post-clean names (`data clean/studyGrScalaA.scala:23-46` etc.) —
  * exercising exact-name quoting is part of parity (SURVEY §1.3).
  *
  * The two driver-bound stages do one pass per input: [[summaries]] is
  * three concurrent aggregation collects (one per cohort) plus local
  * tables built on the driver, and
  * [[statsStage]] is two collects plus driver-side tests.
  */
object MedicalPipeline {

  // ------------------------------------------------------------ cleaning

  /** Study-group cleaning (`data clean/studyGrScalaA.scala`): not-null key
    * filter (:11), comma-decimal doubles (:71-73), dates (:80-81),
    * "prawda"-booleans (:92-97), "tak"-booleans (:105-108). */
  def cleanStudy(raw: DataFrame): DataFrame = {
    val doubles = Seq("SUV (max) w miejscu zapalenia", "SUV (max) tła",
      "tumor to background ratio", "CRP(6 mcy)", "WBC(6 mcy)",
      "Podana Aktywnosc", "Glikemia")
    val dates = Seq("Rok urodzenia", "Data badania", "Data operacji")
    val prawdaBools = Seq("cukrzyca", "zgon", "Ogniskowe gromadzenie znacznika",
      "Nieregularne zarysy", "PecherzykiGazu", "przetokaPachwinowa",
      "Obszar plynowy w okolicy", "Naciek zapalny w okolicy",
      "Skrzeplina w okolicy miejsca podejrzanego o zapalenie",
      "wysiekZatarcieTluszczu", "przetoka ropna", "activeLymphNodes",
      "tetniakRzekomyObraz")
    val takBools = Seq("Gorączka", "tętniak", "Otyłość")
    val present = raw.columns.toSet
    val step1 = raw.where(col("Płeć").isNotNull)
    val step2 = Cleaning.commaDecimalToDouble(step1, doubles.filter(present))
    val step3 = Cleaning.castToDate(step2, dates.filter(present))
    val step4 = Cleaning.booleanFromString(step3, "prawda", prawdaBools.filter(present))
    Cleaning.booleanFromString(step4, "tak", takBools.filter(present))
  }

  /** Control-group cleaning (`data clean/contrGrScalaA.scala`): not-null
    * exam-date filter (:17), dates (:33-34), 0/1 booleans (:38-41). */
  def cleanControl(raw: DataFrame): DataFrame = {
    val dates = Seq("data badania 1", "data wszczepienia stentgraftu",
      "ostatnia wizyta pacjenta bez stwierdzonego zakażenia protezy")
    val bools = Seq("proteza udowo - podkolanowa", "przetoka pachwinowa",
      "cukrzyca", "zarejestrowany zgon", "reoperacje")
    val doubles = Seq("SUV protezy", "tło", "aktywnosc w dniu podania [MBq]",
      "glukoza w dniu podania [mg/dl]")
    val present = raw.columns.toSet
    val step1 = raw.where(col("data badania 1").isNotNull)
    val step2 = Cleaning.commaDecimalToDouble(step1, doubles.filter(present))
    val step3 = Cleaning.castToDate(step2, dates.filter(present))
    Cleaning.booleanFromInt(step3, bools.filter(present))
  }

  /** Two-point-study cleaning (`data clean/twoPointsStudyScalaA.scala`):
    * not-null filter (:13), comma-decimal doubles (:29-31), dates (:34-36),
    * "prawda" booleans (:40-42), 0/1 locations (:45-47). */
  def cleanTwoPoint(raw: DataFrame): DataFrame = {
    val doubles = Seq("SUV (max) w miejscu zapalenia44", "SUV (max) tła45",
      "SUV (max) w miejscu zapalenia71", "SUV (max) tła72",
      "Podana aktywność badanie wcześniejsze")
    val dates = Seq("Data badania wcześniejsze", "Data badania późniejsze",
      "Data operacji")
    val prawdaBools = Seq("Nieregularne zarysy48", "PecherzykiGazu49")
    val locBools = Seq("lokalizacja ogniska podwyższonego gromadzenia33")
    val present = raw.columns.toSet
    val step1 = raw.where(col("Data badania wcześniejsze").isNotNull)
    val step2 = Cleaning.commaDecimalToDouble(step1, doubles.filter(present))
    val step3 = Cleaning.castToDate(step2, dates.filter(present))
    val step4 = Cleaning.booleanFromString(step3, "prawda", prawdaBools.filter(present))
    Cleaning.booleanFromInt(step4, locBools.filter(present))
  }

  // ----------------------------------------------------------- divisions

  /** Column-division metadata tables (`studyGrScalaA.scala:178-184`,
    * `contrGrScalaA.scala:75-81`, `twoPointsStudyScalaA.scala:102-108`):
    * divisionName → member column names, persisted and read back to drive
    * later stages. Schema `divisionName: String, listOfColumnNames:
    * Array[String]`. */
  def studyDivisions(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    graft.sources.Sources.fromRows(spark, Seq(
      Seq("imagingSigns", Seq("Ogniskowe gromadzenie znacznika",
        "Nieregularne zarysy", "PecherzykiGazu",
        "Obszar plynowy w okolicy", "Naciek zapalny w okolicy")),
      Seq("labInflammation", Seq("CRP(6 mcy)", "WBC(6 mcy)")),
      Seq("suvMeasurements", Seq("SUV (max) w miejscu zapalenia",
        "SUV (max) tła", "tumor to background ratio")),
      Seq("riskFactors", Seq("cukrzyca", "Gorączka", "tętniak", "Otyłość"))),
      StructType(Seq(StructField("divisionName", StringType),
        StructField("listOfColumnNames", ArrayType(StringType)))))
  }

  /** Read-back protocol (`utils.scala:75-79`, `stydyGrB.scala:15,31-33`):
    * unpack a division's column list and project the frame to it. */
  def columnsOfDivision(divisions: DataFrame, name: String): Seq[String] =
    divisions.where(col("divisionName") === name)
      .select(col("listOfColumnNames"))
      .collect().headOption
      .map(_.getSeq[String](0))
      .getOrElse(throw new NoSuchElementException(s"no division '$name'"))

  def frameForDivision(df: DataFrame, divisions: DataFrame, name: String): DataFrame =
    Cleaning.selectColumns(df, columnsOfDivision(divisions, name))

  // ------------------------------------------------------------- quality

  /** Study-group quality report (`test data quality and ouliers/
    * stydyGrB.scala:26-65`): SUV ∈ [0,70], TBR ∈ [0,1]*, technical values,
    * derived month-intervals ∈ [0,2000], must-have nulls, |z|>3 outliers.
    * (*the reference checks TBR range [0,1] even though real TBRs exceed 1 —
    * behavior preserved, it's a violation *count*, not a filter.) */
  def qualityStudy(clean: DataFrame): DataFrame = {
    val withIntervals = clean
      .withColumn("monthsFromSurgeryToExam",
        months_between(col("Data badania"), col("Data operacji")))
      .withColumn("ageInMonthsWhenSurgery",
        months_between(col("Data operacji"), col("Rok urodzenia")))
    Quality.report(withIntervals, Seq(
      Quality.RangeCheck(Seq("SUV (max) w miejscu zapalenia", "SUV (max) tła"), 0, 70),
      Quality.RangeCheck(Seq("tumor to background ratio"), 0, 1),
      Quality.RangeCheck(Seq("Podana Aktywnosc", "Glikemia"), 0, 500),
      Quality.RangeCheck(Seq("monthsFromSurgeryToExam", "ageInMonthsWhenSurgery"), 0, 2000),
      Quality.NotNullCheck(Seq("Płeć", "Data badania", "SUV (max) w miejscu zapalenia")),
      Quality.ZScoreCheck(Seq("SUV (max) w miejscu zapalenia",
        "tumor to background ratio"), 3.0)))
  }

  /** Control-group quality (`contrGrB.scala:26-42`). */
  def qualityControl(clean: DataFrame): DataFrame = {
    val withAge = clean.withColumn("ageAtImplant",
      year(col("data wszczepienia stentgraftu")) - col("Rok z peselu"))
    Quality.report(withAge, Seq(
      Quality.RangeCheck(Seq("SUV protezy", "tło"), 0, 70),
      Quality.RangeCheck(Seq("ageAtImplant"), 0, 120),
      Quality.NotNullCheck(Seq("data badania 1", "SUV protezy")),
      Quality.ZScoreCheck(Seq("SUV protezy"), 3.0)))
  }

  /** Two-point quality (`twoPointGrB.scala:22-34`). */
  def qualityTwoPoint(clean: DataFrame): DataFrame = {
    val withInterval = clean.withColumn("monthsBetweenExams",
      months_between(col("Data badania późniejsze"), col("Data badania wcześniejsze")))
    Quality.report(withInterval, Seq(
      Quality.RangeCheck(Seq("SUV (max) w miejscu zapalenia44",
        "SUV (max) w miejscu zapalenia71"), 0, 70),
      Quality.RangeCheck(Seq("monthsBetweenExams"), 0, 2000),
      Quality.NotNullCheck(Seq("Data badania wcześniejsze")),
      Quality.ZScoreCheck(Seq("SUV (max) w miejscu zapalenia44"), 3.0)))
  }

  // ----------------------------------------------------------- summaries

  /** The summary-table corpus (SURVEY §2.5 table): every
    * `createTableCategorized` instantiation from `dataSummaries1.scala`,
    * keyed by the reference's table name. Each cohort's tables come from
    * ONE grouping-sets pass collected once (`Summarize.summarizeAll`), the
    * three cohorts' passes running concurrently: three collects in all,
    * and 18 local relations of one partition each, unpivoted on the
    * driver, instead of the reference's per-category window+distinct. */
  def summaries(study: DataFrame, control: DataFrame, twoPoint: DataFrame): Map[String, DataFrame] = {
    val s = study
      .withColumn("ageInYearsWhenSurgery",
        months_between(col("Data operacji"), col("Rok urodzenia")) / 12)
      .withColumn("monthsFromSurgeryToExam",
        months_between(col("Data badania"), col("Data operacji")))
      .withColumn("Evrybody", lit(1.0))
      // dataSummaries1.scala:511-519 (chained-when any-finding col)
      .withColumn("anyCtFinding",
        when(col("Obszar plynowy w okolicy") === true, 1)
          .when(col("Naciek zapalny w okolicy") === true, 1)
          .when(col("PecherzykiGazu") === true, 1)
          .otherwise(0))
      // dataSummaries1.scala:145-152 (when/otherwise indicators)
      .withColumn("isMale", when(col("Płeć") === "Mężczyzna", 1).otherwise(0))
      .withColumn("isFemale", when(col("Płeć") === "Kobieta", 1).otherwise(0))
    val c = control
      .withColumn("TBR", col("SUV protezy") / col("tło"))
      .withColumn("yearsFromImplantToExam",
        datediff(col("data badania 1"), col("data wszczepienia stentgraftu")) / 365.25)

    val studyCats3 = Seq(
      "uproszczona klasyfikacja" -> "simplifiedClassification",
      "Rodzaj protezy" -> "prosthesisType",
      "imageTypeOurClassification" -> "imageTypeOurClassification")
    val scaleCats = Seq("skala5Stopnie" -> "skala5Stopnie",
      "skala3Stopnie" -> "skala3Stopnie")
    def same(names: String*) = names.map(n => col(n) -> n)
    def spec(aggs: AggSpec*)(metrics: (Column, String)*)(cats: Seq[(String, String)]) =
      Summarize.Spec(aggs, metrics, cats)
    val (median, min, max, sum) = (AggSpec.median, AggSpec.min, AggSpec.max, AggSpec.sum)

    val studyTables = Seq(
      // dataSummaries1.scala:96-107
      "DatesSummary" -> spec(median, min, max)(
        same("ageInYearsWhenSurgery", "monthsFromSurgeryToExam"): _*)(Seq.empty),
      // dataSummaries1.scala:118-128
      "surgeryCouses" -> spec(sum)(same("przyczyna - tętniak", "przyczyna - niedrożność",
        "przyczyna - uraz", "przyczyna - inne"): _*)(studyCats3),
      // dataSummaries1.scala:188-196
      "OtherRiskFactors" -> spec(AggSpec.countTrues)(
        same("cukrzyca", "Gorączka", "tętniak", "Otyłość", "zgon"): _*)(studyCats3),
      // dataSummaries1.scala:207-214
      "LabolatoryInflammation" -> spec(median, min, max)(
        col("CRP(6 mcy)") -> "CRP", col("WBC(6 mcy)") -> "WBC")(studyCats3),
      // dataSummaries1.scala:224-236
      "MicrobiologicDataStudyGroup" -> spec(sum)(same("proteza dodatni", "krew +"): _*)(Seq.empty),
      // dataSummaries1.scala:329-342
      "StudyGroupLoc" -> spec(sum)(same("lok - aorta brzuszna", "okolica rozwidlenia",
        "lewe ramie", "prawe ramie"): _*)(studyCats3),
      // dataSummaries1.scala:360-369
      "StudyGroupSuv" -> spec(sum, median, min, max)(
        col("SUV (max) w miejscu zapalenia") -> "SuvInFocus",
        col("SUV (max) tła") -> "SuvBackground",
        col("tumor to background ratio") -> "TBR",
        col("Evrybody") -> "AllPatients")(scaleCats),
      // dataSummaries1.scala:380-400 (bool→int advancedCasting :382-383)
      "StudyGroupImageCharacteristic" -> spec(sum)(
        col("Ogniskowe gromadzenie znacznika").cast("int") -> "FocalAccumulation",
        col("Nieregularne zarysy").cast("int") -> "IrregularBorders",
        col("PecherzykiGazu").cast("int") -> "GasBubbles")(studyCats3),
      // dataSummaries1.scala:411-420
      "SuvVsVisualScales" -> spec(sum, median)(
        col("SUV (max) w miejscu zapalenia") -> "SuvInFocus",
        col("SUV (max) tła") -> "SuvBackground",
        col("tumor to background ratio") -> "TBR",
        col("Evrybody") -> "Evrybody")(scaleCats),
      // dataSummaries1.scala:507-537
      "CtDoneBefore" -> spec(sum)(same("anyCtFinding"): _*)(Seq.empty),
      // dataSummaries1.scala:144-171
      "MaterialEtcPerGender" -> spec(AggSpec.count)(same("isMale", "isFemale"): _*)(
        Seq("Material" -> "Material") ++ studyCats3))
    val controlTables = Seq(
      // dataSummaries1.scala:270-284
      "BasicInControlGroup" -> spec(sum)(
        col("cukrzyca").cast("int") -> "cukrzyca",
        col("zarejestrowany zgon").cast("int") -> "zgon",
        col("reoperacje").cast("int") -> "reoperacje")(
        Seq("stentgraft czy proteza" -> "prosthesisType", "typ" -> "typ")),
      // dataSummaries1.scala:289-303 (datediff-derived interval :295)
      "ControlGroupDates" -> spec(median, min, max)(same("yearsFromImplantToExam"): _*)(
        Seq("stentgraft czy proteza" -> "prosthesisType", "typ" -> "typ")),
      // dataSummaries1.scala:458-469 (derived TBR :461)
      "SuvVsVisualScalesControlGroup" -> spec(sum, median)(
        col("SUV protezy") -> "SuvInFocus", col("TBR") -> "TBR")(scaleCats))
    val twoPointTables = Seq(
      // dataSummaries1.scala:246-260
      "BasicDataTwoPointStudy" -> spec(AggSpec.count)(
        when(col("SUV (max) w miejscu zapalenia44") > 4, 1).otherwise(0) ->
          "isEarlierExamHighSuv")(Seq.empty),
      // dataSummaries1.scala:434-445
      "SuvTwoPointStudy" -> spec(median, min, max)(
        col("SUV (max) w miejscu zapalenia44") -> "SuvFocusEarlier",
        col("SUV (max) tła45") -> "SuvBackgroundEarlier",
        col("SUV (max) w miejscu zapalenia71") -> "SuvFocusLater",
        col("SUV (max) tła72") -> "SuvBackgroundLater")(Seq.empty))

    // dataSummaries1.scala:478-491 and :547-558 cross-join the two cohorts
    // to aggregate columns of both; every aggregate there is a median, min
    // or max (duplication-invariant), so each side's All-row total is the
    // cross join's value (Cohort.crossCohortAgg's rewrite, §4)
    val crossCohort = Seq(
      "SuvStudyVsCrontrol" -> (
        Seq((median, "SUV (max) w miejscu zapalenia", "studySuvMedian"),
          (min, "SUV (max) w miejscu zapalenia", "studySuvMin"),
          (max, "SUV (max) w miejscu zapalenia", "studySuvMax")),
        Seq((median, "SUV protezy", "controlSuvMedian"),
          (min, "SUV protezy", "controlSuvMin"),
          (max, "SUV protezy", "controlSuvMax"))),
      "TechnicalDataInStudyAndControlGroup" -> (
        Seq((median, "Podana Aktywnosc", "studyActivityMedian"),
          (median, "Glikemia", "studyGlucoseMedian")),
        Seq((median, "aktywnosc w dniu podania [MBq]", "controlActivityMedian"),
          (median, "glukoza w dniu podania [mg/dl]", "controlGlucoseMedian"))))
    val studyTotals = crossCohort.flatMap(_._2._1).map { case (a, in, out) => (a, col(in), out) }
    val controlTotals = crossCohort.flatMap(_._2._2).map { case (a, in, out) => (a, col(in), out) }

    // the three cohorts' aggregations are independent jobs: run them together
    val Seq(studyAll, controlAll, twoPointAll) = graft.Tables.concurrently(Seq(
      () => Summarize.summarizeAll(s, studyTables.map(_._2), studyTotals),
      () => Summarize.summarizeAll(c, controlTables.map(_._2), controlTotals),
      () => Summarize.summarizeAll(twoPoint, twoPointTables.map(_._2))))
    val cross = crossCohort.map { case (name, (left, right)) =>
      val names = (left ++ right).map(_._3)
      val values = left.map(t => studyAll.all.getAs[Any](t._3)) ++
        right.map(t => controlAll.all.getAs[Any](t._3))
      name -> study.sparkSession.createDataFrame(
        java.util.List.of(Row.fromSeq(values)),
        StructType(names.map(StructField(_, DoubleType))))
    }
    (studyTables.map(_._1).zip(studyAll.tables) ++
      controlTables.map(_._1).zip(controlAll.tables) ++
      twoPointTables.map(_._1).zip(twoPointAll.tables) ++ cross).toMap
  }

  // --------------------------------------------------------- cohort prep

  /** `imagingFrame` (`HypothesisTestingPrediction.scala:50-63`). */
  def imagingFrame(study: DataFrame): DataFrame =
    Cleaning.selectRenamed(study, Seq(
      "Nieregularne zarysy" -> "IrregularBorders",
      "Ogniskowe gromadzenie znacznika" -> "FocalAccumulation",
      "PecherzykiGazu" -> "GasBubbles",
      "Skrzeplina w okolicy miejsca podejrzanego o zapalenie" -> "Thrombus",
      "Obszar plynowy w okolicy" -> "Fluid",
      "wysiekZatarcieTluszczu" -> "FluidFatAttenuation",
      "Naciek zapalny w okolicy" -> "InflammatoryMass",
      "przetoka ropna" -> "puruletFistula",
      "activeLymphNodes" -> "activeLymphNodes",
      "tetniakRzekomyObraz" -> "pseudoAneurysm",
      "SUV (max) w miejscu zapalenia" -> "SuvInFocus",
      "tumor to background ratio" -> "TBR"))

  /** `numbsFrame` / `mainMlDataSet` (`HypothesisTestingPrediction.scala:
    * 78-122`): standardize both cohorts, tag `isStudy`, union, derive
    * `isMale`. */
  def cohortNumbsFrame(study: DataFrame, control: DataFrame): DataFrame = {
    val s = study
      .withColumn("ageInYearsWhenSurgery",
        months_between(col("Data operacji"), col("Rok urodzenia")) / 12)
      .withColumn("prosthesisType",
        regexp_replace(regexp_replace(col("Rodzaj protezy"),
          "StentGraft", "stentgraft"), "Proteza", "proteza"))
      .withColumn("simplifiedClassification",
        regexp_replace(regexp_replace(col("uproszczona klasyfikacja"),
          "ob. nacz. biodrowe", "Y"), "aorty piersiowej", "B"))
    val c = control
      .withColumn("TBR", col("SUV protezy") / col("tło"))
      .withColumn("ageInYearsWhenSurgery",
        (year(col("data wszczepienia stentgraftu")) - col("Rok z peselu")).cast("double"))
    Cohort.taggedUnion(
      s, Seq(
        col("SUV (max) w miejscu zapalenia") -> "SuvInFocus",
        col("tumor to background ratio") -> "TBR",
        col("simplifiedClassification") -> "simplifiedClassification",
        col("prosthesisType") -> "prosthesisType",
        col("ageInYearsWhenSurgery") -> "ageInYearsWhenSurgery",
        col("Płeć") -> "gender"),
      c, Seq(
        col("SUV protezy") -> "SuvInFocus",
        col("TBR") -> "TBR",
        col("typ") -> "simplifiedClassification",
        col("stentgraft czy proteza") -> "prosthesisType",
        col("ageInYearsWhenSurgery") -> "ageInYearsWhenSurgery",
        col("Płeć") -> "gender"))
      .withColumn("isMale", when(col("gender") === "Mężczyzna", 1).otherwise(0))
  }

  // --------------------------------------------------------------- stats

  /** The hypothesis-testing stage (`Hypothesis testing R.r:439-478,543-574`):
    * permutation tests of every imaging bool vs SuvInFocus and TBR, SABHA
    * selection over the pooled p-values, Fisher tests on cohort contrasts,
    * ROC thresholds for SUV/TBR. Two collects in all — `imaging`'s tested
    * columns and `numbs`' — then driver-side math over those rows, equal to
    * the per-column protocol (`PermutationTest.onColumns`, `Fisher.test`,
    * one collect per ROC vector) bit for bit. */
  final case class StatsResults(
      imagingPValues: Seq[(String, Double, Double)], // (characteristic, pSuv, pTbr)
      sabhaSignificant: Seq[String],
      ageTestP: Double,
      prosthesisTypeP: Double,
      locationP: Double,
      studyVsControlSignificant: Seq[String],
      thresholdSuv: Double,
      thresholdTbr: Double)

  def statsStage(imaging: DataFrame, numbs: DataFrame,
      nPerm: Int = 999, seed: Long = 42L): StatsResults = {
    // R :438-445: all bool cols except the excluded set
    val excluded = Set("SuvInFocus", "TBR", "Fluid", "IrregularBorders",
      "FocalAccumulation")
    val boolCols = imaging.columns.filterNot(excluded).toSeq
    // one collect per input; every test below reads the collected rows in
    // their collect order, the order each per-column collect would give
    val img = imaging.select(boolCols.map(col(_).cast("boolean")) ++
      Seq(col("SuvInFocus").cast("double"), col("TBR").cast("double")): _*).collect()
    val (suv, tbr) = (boolCols.size, boolCols.size + 1)
    val pvals = boolCols.zipWithIndex.map { case (c, i) =>
      (c,
        PermutationTest.onRows(img, i, suv, nPerm, seed),
        PermutationTest.onRows(img, i, tbr, nPerm, seed))
    }
    // R :472-478: labels duplicated (cols for Suv, cols for TBR), pooled ps
    val labels = (pvals.map(_._1) ++ pvals.map(_._1)).toArray
    val pooled = (pvals.map(_._2) ++ pvals.map(_._3)).toArray
    val sabhaSig = FDR.sabhaSelect(pooled, labels).distinct

    val (isStudy, age, stent, cls, suvN, tbrN) = (0, 1, 2, 3, 4, 5)
    val nb = numbs.select(col("isStudy").cast("boolean"),
      col("ageInYearsWhenSurgery").cast("double"),
      col("prosthesisType") === "stentgraft", col("simplifiedClassification"),
      col("SuvInFocus").cast("double"), col("TBR").cast("double")).collect()
    def known(r: Row, i: Int*) = i.forall(!r.isNullAt(_))
    // R :543-556
    val ageP = PermutationTest.onRows(nb, isStudy, age, nPerm, seed)
    val prosthesisP = Fisher.testPairs(nb.collect {
      case r if known(r, stent, isStudy) => (r.getBoolean(stent), r.getBoolean(isStudy))
    })._5
    val locP = Fisher.testPairs(nb.collect {
      case r if known(r, cls, isStudy) && Set("Y", "B")(r.getString(cls)) =>
        (r.getString(cls) == "Y", r.getBoolean(isStudy))
    })._5
    val svc = FDR.sabhaSelect(Array(ageP, prosthesisP, locP),
      Array("ageTest", "prosthesisTypeTest", "locTest"))

    // R :566-574 (reference passes (study, control) positionally)
    def vec(i: Int, study: Boolean): Array[Double] = nb.collect {
      case r if known(r, isStudy, i) && r.getBoolean(isStudy) == study => r.getDouble(i)
    }
    val thresholdSuv = Roc.thres2Equal(vec(suvN, true), vec(suvN, false), 0.01)
    val thresholdTbr = Roc.thres2Equal(vec(tbrN, true), vec(tbrN, false), 0.01)

    StatsResults(pvals, sabhaSig, ageP, prosthesisP, locP, svc,
      thresholdSuv, thresholdTbr)
  }

  /** Association rules over imaging booleans (R :496-534: drop SuvInFocus,
    * TBR, Fluid; supp=.3, conf=.8, minlen=3, maxlen=7, lift>1.2). The 9
    * columns fit `mineBoolean`'s one aggregation; `MedicalPipelineSpec`
    * pins it to FP-Growth's rules. */
  def imagingAssociationRules(imaging: DataFrame): DataFrame = {
    val boolCols = imaging.columns.filterNot(Set("SuvInFocus", "TBR", "Fluid")).toSeq
    AssociationRules.mineBoolean(imaging, boolCols)
  }

  // ----------------------------------------------------------------- ml

  /** The AzureML decision-tree stage (SURVEY §2.9) over `mainMlDataSet`. */
  def mlStage(numbs: DataFrame, tuneBudget: Int = 0): graft.ml.CohortClassifier.Result = {
    val prepared = numbs
      .withColumn("isStentgraft", (col("prosthesisType") === "stentgraft").cast("int"))
      .withColumn("isY", (col("simplifiedClassification") === "Y").cast("int"))
    val cfg = graft.ml.CohortClassifier.Config(
      labelCol = "isStudy",
      numericCols = Seq("SuvInFocus", "TBR", "ageInYearsWhenSurgery"),
      binaryCols = Seq("isStentgraft", "isY", "isMale"),
      maxDepth = 5, minInstancesPerNode = 7, minInfoGain = 5e-5)
    if (tuneBudget > 0) graft.ml.CohortClassifier.tune(prepared, cfg, tuneBudget)
    else graft.ml.CohortClassifier.trainEvaluate(prepared, cfg)
  }
}
