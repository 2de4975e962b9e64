package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CohortClassifierSpec extends SparkSpec {
  import spark.implicits._

  // separable synthetic cohort: label follows x > 0 with noise dims
  private lazy val data = {
    val rng = new scala.util.Random(11)
    (1 to 300).map { i =>
      val x = rng.nextGaussian() + (if (i % 2 == 0) 2.5 else -2.5)
      val noise = rng.nextGaussian()
      val flag = if (rng.nextBoolean()) 1 else 0
      (if (i % 2 == 0) 1 else 0, x, noise, flag)
    }.toDF("label", "x", "noise", "flag")
  }

  test("trainEvaluate learns a separable signal with high AUC") {
    val res = CohortClassifier.trainEvaluate(data, CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag")))
    assert(res.auc > 0.9, s"auc=${res.auc}")
    assert(res.accuracy > 0.85, s"acc=${res.accuracy}")
    // the informative feature dominates importances (reference publishes the
    // analogous TBR-dominant result, README.md:785-792)
    val imp = res.featureImportances.toMap
    assert(imp("x") > imp("noise"))
    assert(imp("x") > imp.getOrElse("flag", 0.0))
  }

  test("null labels dropped, numeric nulls imputed") {
    val withNulls = data.withColumn("x",
      when(rand(1) < 0.1, lit(null)).otherwise($"x"))
    val res = CohortClassifier.trainEvaluate(withNulls, CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag")))
    assert(res.auc > 0.8)
  }

  test("fused single-pass metrics equal the stock evaluators") {
    // train once, score once, then compare the engine's fused AUC/accuracy
    // against BinaryClassificationEvaluator / MulticlassClassificationEvaluator
    // on the identical predictions
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val prepared = data.select($"label".cast("double").as("label"),
      $"x".cast("double").as("x"), $"noise".cast("double").as("noise"),
      $"flag".cast("double").as("flag"))
    val Array(train, test) = prepared.coalesce(8).cache().randomSplit(Array(0.7, 0.3), 0L)
    val model = CohortClassifier.pipeline(cfg).fit(train)
    val res = CohortClassifier.trainEvaluate(data, cfg) // same seed/split internally
    val pred = model.transform(test)
    val stockAuc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("label").setMetricName("areaUnderROC").evaluate(pred)
    val stockAcc = new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
      .setLabelCol("label").setMetricName("accuracy").evaluate(pred)
    assert(math.abs(res.auc - stockAuc) < 1e-9, s"${res.auc} vs $stockAuc")
    assert(math.abs(res.accuracy - stockAcc) < 1e-9, s"${res.accuracy} vs $stockAcc")
  }

  test("direct fit path (assemble-once) reproduces the pipeline fit exactly") {
    // null-free cohort: mean imputation is a no-op and min-max scaling is
    // monotone, so the tree structure, importances, and metrics must match
    // the full pipeline fit bit-for-bit
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val full = CohortClassifier.trainEvaluate(data, cfg)
    val fast = CohortClassifier.trainEvaluateDirect(data, cfg)
    assert(math.abs(full.auc - fast.auc) < 1e-12, s"${full.auc} vs ${fast.auc}")
    assert(math.abs(full.accuracy - fast.accuracy) < 1e-12,
      s"${full.accuracy} vs ${fast.accuracy}")
    assert(full.featureImportances.map(_._1) == fast.featureImportances.map(_._1))
    full.featureImportances.zip(fast.featureImportances).foreach {
      case ((n, a), (_, b)) => assert(math.abs(a - b) < 1e-12, s"$n: $a vs $b")
    }
  }

  test("explicit-split direct fit + raw-count export replay the pipeline exactly (m1 contract)") {
    // the m1 earned-oracle chain: content-hash-style caller split, tree fit,
    // export via fromModel (class predictions) and fromModelRawCount
    // (rawPrediction(1) scores). The compiled specs must reproduce the
    // PIPELINE transform's prediction and raw score per row bit-for-bit —
    // that equality is what makes the DuckDB replay of accuracy/AUC an
    // oracle of metricsOf's own values.
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val split = data.withColumn("__h",
      substring(md5(concat_ws(",", col("x"), col("noise"), col("flag"))), 1, 1))
    val train = split.where(col("__h") >= "5").drop("__h")
    val test0 = split.where(col("__h") < "5").drop("__h")
    val res = CohortClassifier.trainEvaluateDirectSplit(train, test0, cfg)
    val tree = res.model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel]
    val features = Seq("x", "noise", "flag")
    val specCls = TreeScorer.fromModel(tree.rootNode, features)
    val specRaw = TreeScorer.fromModelRawCount(tree, features)
    assert(TreeScorer.splitFeatures(specCls).contains("x"))
    import org.apache.spark.ml.functions.vector_to_array
    val casted = test0.select(col("label").cast("double").as("label"),
      col("x").cast("double").as("x"), col("noise").cast("double").as("noise"),
      col("flag").cast("double").as("flag"))
    val both = res.model.transform(casted)
      .withColumn("spec_cls", TreeScorer.compile(specCls))
      .withColumn("spec_raw", TreeScorer.compile(specRaw))
      .select(col("prediction"), col("spec_cls"),
        vector_to_array(col("rawPrediction")).getItem(1).as("raw1"), col("spec_raw"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"prediction mismatch: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"raw score mismatch: $r")
    }
  }

  test("tuneBayesianSplit artifacts replay the scaled pipeline exactly (m2 contract)") {
    // the m2 earned-oracle chain: caller content-hash splits, TPE tune,
    // winning tree + fitted scaler exported. Re-scaling the raw columns
    // with the exported (min, range) and compiling the specs must
    // reproduce the full pipeline transform's prediction and raw score
    // per row bit-for-bit — the equality the DuckDB replay stands on.
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"),
      binaryCols = Seq("flag"), fitPartitions = 4)
    val split = data.withColumn("__h",
      substring(md5(concat_ws(",", col("x"), col("noise"), col("flag"))), 1, 1))
    val test0 = split.where(col("__h") < "4").drop("__h")
    val rest = split.where(col("__h") >= "4")
    val valid = rest.where(col("__h") < "8").drop("__h")
    val trainFit = rest.where(col("__h") >= "8").drop("__h")
    val (res, featModel, bestTree, _) = CohortClassifier.tuneBayesianSplit(
      trainFit, valid, test0, cfg, budget = 4, parallelism = 2, nWarmup = 2)
    val scaler = featModel.stages.last
      .asInstanceOf[org.apache.spark.ml.feature.MinMaxScalerModel]
    val mins = scaler.originalMin.toArray; val maxs = scaler.originalMax.toArray
    val names = Seq("sx0", "sx1", "sx2")
    val specCls = TreeScorer.fromModel(bestTree.rootNode, names)
    val specRaw = TreeScorer.fromModelRawCount(bestTree, names)
    def sx(j: Int, c: org.apache.spark.sql.Column) = {
      val r = maxs(j) - mins(j)
      if (r == 0.0) lit(0.5) else (c - lit(mins(j))) / lit(r)
    }
    import org.apache.spark.ml.functions.vector_to_array
    val casted = test0.select(col("label").cast("double").as("label"),
      col("x").cast("double").as("x"), col("noise").cast("double").as("noise"),
      col("flag").cast("double").as("flag"))
    val both = res.model.transform(casted)
      .withColumn("sx0", sx(0, col("x")))
      .withColumn("sx1", sx(1, col("noise")))
      .withColumn("sx2", sx(2, col("flag")))
      .withColumn("spec_cls", TreeScorer.compile(specCls))
      .withColumn("spec_raw", TreeScorer.compile(specRaw))
      .select(col("prediction"), col("spec_cls"),
        vector_to_array(col("rawPrediction")).getItem(1).as("raw1"), col("spec_raw"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"prediction mismatch: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"raw score mismatch: $r")
    }
    assert(res.bestParams.contains("maxDepth") && res.auc > 0.5)
  }

  test("tune searches the reference grid within budget and beats a stump") {
    val res = CohortClassifier.tune(data, CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag")),
      budget = 6)
    assert(res.auc > 0.85)
    assert(CohortClassifier.MaxDepthChoices.contains(
      res.bestParams("maxDepth").asInstanceOf[Int]))
  }

  test("tpeRank concentrates candidates on the high-scoring region") {
    // synthetic objective peaked at maxDepth=5, minInstances=8: observations
    // scored by closeness to the peak; TPE must rank unseen candidates near
    // the peak above those far from it
    val rng = new scala.util.Random(3)
    val observed = (1 to 40).map { _ =>
      val p = (CohortClassifier.MaxDepthChoices(rng.nextInt(9)),
        CohortClassifier.MinInstancesChoices(rng.nextInt(14)),
        CohortClassifier.MinInfoGainChoices(rng.nextInt(9)))
      (p, 1.0 - 0.1 * math.abs(p._1 - 5) - 0.05 * math.abs(p._2 - 8))
    }
    val candidates = for {
      d <- CohortClassifier.MaxDepthChoices.toSeq
      m <- CohortClassifier.MinInstancesChoices
    } yield (d, m.toInt, 0.001)
    val ranked = CohortClassifier.tpeRank(observed, candidates)
    val top = ranked.take(10)
    val bottom = ranked.takeRight(10)
    def dist(p: (Int, Int, Double)) = math.abs(p._1 - 5) + 0.5 * math.abs(p._2 - 8)
    assert(top.map(dist).sum < bottom.map(dist).sum,
      s"top=$top bottom=$bottom")
  }

  test("tuneTreeSpec deterministically exports a winning raw-feature tree") {
    val prepared = data.select($"label".cast("double").as("label"),
      $"x", $"noise", $"flag".cast("double").as("flag"))
    val Array(tr, va) = prepared.randomSplit(Array(0.75, 0.25), 7L)
    def run() = CohortClassifier.tuneTreeSpec(tr, va,
      Seq("x", "noise", "flag"), "label", budget = 6, parallelism = 2, nWarmup = 3)
    val (s1, p1, a1) = run()
    val (s2, p2, a2) = run()
    assert(s1 == s2, s"$s1 vs $s2") // TreeSpec is a case-class tree: structural equality
    assert(p1 == p2 && math.abs(a1 - a2) < 1e-15)
    assert(a1 > 0.85, s"validation auc=$a1")
    assert(p1("trials") == 6)
    // the exported tree splits on source columns (replayable as SQL CASE)
    val sql = TreeScorer.toSql(s1)
    assert(sql.contains("x") && sql.contains("CASE"), sql)
  }

  test("tuneBayesian is deterministic, respects budget, finds the signal") {
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val r1 = CohortClassifier.tuneBayesian(data, cfg, budget = 8,
      parallelism = 2, nWarmup = 4)
    val r2 = CohortClassifier.tuneBayesian(data, cfg, budget = 8,
      parallelism = 2, nWarmup = 4)
    assert(r1.bestParams == r2.bestParams, s"${r1.bestParams} vs ${r2.bestParams}")
    assert(math.abs(r1.auc - r2.auc) < 1e-12)
    assert(r1.bestParams("trials") == 8)
    assert(CohortClassifier.MaxDepthChoices.contains(
      r1.bestParams("maxDepth").asInstanceOf[Int]))
    assert(CohortClassifier.MinInstancesChoices.contains(
      r1.bestParams("minInstancesPerNode").asInstanceOf[Int]))
    assert(r1.auc > 0.85, s"auc=${r1.auc}")
  }
  test("trainEvaluate without the scaler equals the scaled pipeline bit for bit, numeric NULLs included") {
    // the reference: the old trainEvaluate, Imputer → assemble → MinMaxScaler
    // → tree over the same prepared, coalesced, cached 70/30 split
    val withNulls = data
      .withColumn("x", when(rand(5) < 0.15, lit(null)).otherwise($"x"))
      .withColumn("noise", when(rand(6) < 0.15, lit(null)).otherwise($"noise"))
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val prepared = withNulls.select($"label".cast("double").as("label"),
      $"x".cast("double").as("x"), $"noise".cast("double").as("noise"),
      $"flag".cast("double").as("flag")).where($"label".isNotNull)
    val Array(train, test) = prepared.coalesce(8).cache().randomSplit(Array(0.7, 0.3), 0L)
    assert(train.where($"x".isNull || $"noise".isNull).count() > 0)
    val ref = CohortClassifier.pipeline(cfg).fit(train)
    val (refAuc, refAcc) = CohortClassifier.metricsOf(ref, test, "label")
    val refTree = ref.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel]

    val res = CohortClassifier.trainEvaluate(withNulls, cfg)
    assert(res.model.stages.map(_.getClass.getSimpleName).toSeq ==
      Seq("ImputerModel", "VectorAssembler", "DecisionTreeClassificationModel"))
    assert(res.auc == refAuc && res.accuracy == refAcc, s"${(res.auc, res.accuracy)} vs ${(refAuc, refAcc)}")
    assert(res.featureImportances.map(_._2) == refTree.featureImportances.toArray.toSeq)
    def scored(m: org.apache.spark.ml.PipelineModel) = m.transform(test)
      .select($"prediction", $"rawPrediction", $"probability").collect().toSeq
    val rows = scored(res.model)
    assert(rows.size == test.count() && rows.map(_.getDouble(0)).distinct.size == 2)
    assert(rows == scored(ref)) // Row equality compares doubles and vectors exactly
  }

  test("trainEvaluate runs a bounded number of jobs") {
    // read back from Parquet, so that every job the fit costs is counted
    val dir = java.nio.file.Files.createTempDirectory("graft-cohort-jobs").toString + "/cohort"
    data.write.parquet(dir)
    val cfg = CohortClassifier.Config(
      labelCol = "label", numericCols = Seq("x", "noise"), binaryCols = Seq("flag"))
    val (jobs, res) = org.apache.spark.graftbridge.Listeners.jobs(spark)(
      CohortClassifier.trainEvaluate(spark.read.parquet(dir), cfg))
    // the imputer's means, the tree's per-depth statistics and the fused
    // metrics: 10 jobs. The scaled pipeline, with its scaler fit and its
    // max(label) scan, ran 14 on this input
    assert(jobs <= 10, s"$jobs jobs")
    assert(res.auc > 0.9)
  }

  test("a one-class training set still fits a two-class tree: class 1 gets posterior 0") {
    val zeros = data.withColumn("label", lit(0.0))
    val spec = CohortClassifier.fitTreeProbSpec(zeros, Seq("x", "noise", "flag"), "label")
    val posteriors = zeros.select(TreeScorer.compile(spec)).as[Double].collect().distinct.toSeq
    assert(posteriors == Seq(0.0))
  }
}
