package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, DecisionTreeClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{Imputer, MinMaxScaler, VectorAssembler}
import org.apache.spark.ml.tuning.TrainValidationSplit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ML stage (SURVEY §2.9 M1-M8) as a `spark.ml` pipeline:
  * mean imputation → assemble → min-max scale → decision tree, with the
  * hyperparameter search over the reference's discrete choice sets
  * (`AzureMl/mlB (1) (2).ipynb` cells 6-10; grid at `README.md:690-693`),
  * AUC/accuracy evaluators, and `featureImportances` as the explanation
  * (`README.md:785-792`). Bayesian *ordering* of the sweep is an Azure
  * HyperDrive service feature, not a semantic one — the search space and
  * objective (maximize AUC) are what parity requires.
  *
  * The single fit the medical DAG runs ([[trainEvaluate]]) leaves the
  * min-max scaler out: a per-feature monotone map moves no tree split, so
  * the scaler's fit job buys nothing there. The tune paths keep it, because
  * m2/m24 export the fitted scaler with the winning tree. Every tree fit
  * reads its two classes from the label's metadata ([[binaryLabel]]), so
  * none runs a `max(label)` job.
  */
object CohortClassifier {

  /** Reference search space (`README.md:690-693`). The full grid is 9×14×9;
    * the reference's budget was 50 sampled runs — `gridSubsetForBudget`
    * mirrors that budget with a deterministic stride. */
  val MaxDepthChoices: Array[Int] = (1 to 9).toArray
  val MinInstancesChoices: Array[Int] = (2 to 15).toArray
  val MinInfoGainChoices: Array[Double] =
    Array(0.00005, 0.0001, 0.0002, 0.0005, 0.001, 0.0015, 0.002, 0.005, 0.01)

  final case class Config(
      labelCol: String,
      numericCols: Seq[String],
      binaryCols: Seq[String],
      maxDepth: Int = 5,
      minInstancesPerNode: Int = 7,
      minInfoGain: Double = 5e-5,
      seed: Long = 0L,
      /** Partitions for the iterative fit; the default suits small-cohort
        * medical data (the reference's regime). Set 0 to keep the input
        * partitioning for genuinely large training sets. */
      fitPartitions: Int = 8)

  final case class Result(
      model: PipelineModel,
      accuracy: Double,
      auc: Double,
      featureImportances: Seq[(String, Double)],
      bestParams: Map[String, Any])

  /** The hyperparameter-independent feature stages: Imputer(mean) over
    * numerics → assemble (numerics + 0/1 binaries) → MinMaxScaler. Split out
    * so a tuning loop can fit them ONCE and refit only the tree per trial. */
  def featureStages(cfg: Config): Array[PipelineStage] = {
    val scaler = new MinMaxScaler().setInputCol("features_raw").setOutputCol("features")
    Array(imputer(cfg), assembler(imputed(cfg) ++ cfg.binaryCols, "features_raw"), scaler)
  }

  private def imputed(cfg: Config): Seq[String] = cfg.numericCols.map(_ + "__imp")

  private def imputer(cfg: Config): Imputer = new Imputer().setStrategy("mean")
    .setInputCols(cfg.numericCols.toArray).setOutputCols(imputed(cfg).toArray)

  private def assembler(inputs: Seq[String], out: String): VectorAssembler =
    new VectorAssembler().setInputCols(inputs.toArray).setOutputCol(out)
      .setHandleInvalid("keep")

  /** The tunable stage. */
  def treeEstimator(cfg: Config): DecisionTreeClassifier =
    new DecisionTreeClassifier()
      .setLabelCol(cfg.labelCol).setFeaturesCol("features")
      .setMaxDepth(cfg.maxDepth)
      .setMinInstancesPerNode(cfg.minInstancesPerNode)
      .setMinInfoGain(cfg.minInfoGain)
      .setSeed(cfg.seed)

  /** M1-M5: feature stages → DecisionTreeClassifier. The reference's full
    * pipeline, min-max scaler included; the spec holds [[trainEvaluate]] to
    * it bit for bit. */
  def pipeline(cfg: Config): Pipeline =
    new Pipeline().setStages(featureStages(cfg) :+ treeEstimator(cfg))

  /** M4+M6: 70/30 split (reference: `train_test_split(test_size=0.30)`),
    * fit Imputer(mean) → assemble → tree, report accuracy + areaUnderROC +
    * per-feature importances. `Result.model` is that
    * `PipelineModel(imputer, assembler, tree)`.
    *
    * This is [[pipeline]] without its MinMaxScaler, and gives the same
    * `Result` to the bit: scaling is a per-feature monotone map, so
    * spark.ml's split candidates (midpoints between sorted distinct values,
    * chosen by count), the row partitions they induce, the gain-based
    * importances, every prediction, accuracy and AUC are unchanged by it.
    * Dropping it saves the scaler's fit job and a vector transform per
    * pass. The imputer stays: it changes a cohort whose numerics are null. */
  def trainEvaluate(df: DataFrame, cfg: Config): Result =
    splitFitEvaluate(df, cfg,
      Array(imputer(cfg), assembler(imputed(cfg) ++ cfg.binaryCols, "features"), treeEstimator(cfg)))

  /** [[trainEvaluate]] without the imputer, the m4 fit path: the same
    * `Result` on null-free cohorts, where mean imputation is a no-op, for
    * one job fewer. Cohorts whose numerics may be null should keep
    * [[trainEvaluate]]. */
  def trainEvaluateDirect(df: DataFrame, cfg: Config): Result =
    splitFitEvaluate(df, cfg,
      Array(assembler(cfg.numericCols ++ cfg.binaryCols, "features"), treeEstimator(cfg)))

  /** 70/30 `randomSplit` of the prepared cohort, fit `stages` on the 70,
    * evaluate on the 30. The tree fit makes several passes over the
    * training data (tree stats collect per partition per depth): cache it,
    * and coalesce so per-pass task-scheduling overhead doesn't dominate
    * when the cohort is small relative to the session's parallelism. */
  private def splitFitEvaluate(df: DataFrame, cfg: Config, stages: Array[PipelineStage]): Result = {
    val prepared = prepare(df, cfg)
    val data =
      (if (cfg.fitPartitions > 0) prepared.coalesce(cfg.fitPartitions) else prepared).cache()
    try {
      val Array(train, test) = data.randomSplit(Array(0.7, 0.3), cfg.seed)
      evaluate(new Pipeline().setStages(stages).fit(train), test, cfg, Map(
        "maxDepth" -> cfg.maxDepth,
        "minInstancesPerNode" -> cfg.minInstancesPerNode,
        "minInfoGain" -> cfg.minInfoGain))
    } finally data.unpersist(blocking = false)
  }

  /** [[trainEvaluateDirect]] with a CALLER-OWNED train/test split instead
    * of `randomSplit`: the m1 query passes md5 content-hash splits (the m4
    * pattern) so the evaluated test set is engine-reproducible and the
    * pipeline's reported accuracy/AUC can be recomputed by an independent
    * engine from the exported tree — the earned-oracle contract. Content-
    * hash splits are also the 100 TB-correct shape: layout-independent,
    * no sampling job, stable under repartitioning. */
  def trainEvaluateDirectSplit(trainDf: DataFrame, testDf: DataFrame,
      cfg: Config): Result = {
    val prepared = prepare(trainDf, cfg)
    val train =
      (if (cfg.fitPartitions > 0) prepared.coalesce(cfg.fitPartitions) else prepared).cache()
    try {
      val model = new Pipeline().setStages(Array(
        assembler(cfg.numericCols ++ cfg.binaryCols, "features"), treeEstimator(cfg))).fit(train)
      evaluate(model, prepare(testDf, cfg), cfg, Map(
        "maxDepth" -> cfg.maxDepth,
        "minInstancesPerNode" -> cfg.minInstancesPerNode,
        "minInfoGain" -> cfg.minInfoGain))
    } finally train.unpersist(blocking = false)
  }

  /** M7: search the reference's space, maximizing AUC on a validation split.
    * `budget` caps the number of grid points (HyperDrive ran 50). */
  def tune(df: DataFrame, cfg: Config, budget: Int = 50): Result = {
    val prepared = prepare(df, cfg)
    val data =
      (if (cfg.fitPartitions > 0) prepared.coalesce(cfg.fitPartitions) else prepared).cache()
    val Array(train, test) = data.randomSplit(Array(0.7, 0.3), cfg.seed)
    val pipe = pipeline(cfg)
    val tree = pipe.getStages.last.asInstanceOf[DecisionTreeClassifier]
    val full = for {
      d <- MaxDepthChoices; m <- MinInstancesChoices; g <- MinInfoGainChoices
    } yield (d, m, g)
    // deterministic stride-subsample of the full grid down to `budget`
    // points, as explicit ParamMaps — ParamGridBuilder would rebuild the
    // cartesian product of the points' distinct values, evaluating a biased
    // corner of the space instead of the strided points themselves
    val stride = math.max(1, full.length / budget)
    val points = full.indices.by(stride).take(budget).map(full)
    val grid = points.map { case (d, m, g) =>
      new org.apache.spark.ml.param.ParamMap()
        .put(tree.maxDepth, d)
        .put(tree.minInstancesPerNode, m)
        .put(tree.minInfoGain, g)
    }.toArray
    val evaluator = new BinaryClassificationEvaluator()
      .setLabelCol(cfg.labelCol).setMetricName("areaUnderROC")
    val tvs = new TrainValidationSplit()
      .setEstimator(pipe).setEvaluator(evaluator)
      .setEstimatorParamMaps(grid)
      .setTrainRatio(0.75).setSeed(cfg.seed).setParallelism(4)
    try {
      val tvsModel = tvs.fit(train)
      val best = tvsModel.bestModel.asInstanceOf[PipelineModel]
      val bestTree = best.stages.last.asInstanceOf[DecisionTreeClassificationModel]
      evaluate(best, test, cfg, Map(
        "maxDepth" -> bestTree.getMaxDepth,
        "minInstancesPerNode" -> bestTree.getMinInstancesPerNode,
        "minInfoGain" -> bestTree.getMinInfoGain))
    } finally data.unpersist(blocking = false)
  }

  /** M7 with the reference's *Bayesian* sampling semantics
    * (`BayesianParameterSampling`, 50 runs — `AzureMl/mlB (1) (2).ipynb`
    * cell 10): an adaptive search that spends its budget preferentially in
    * the region of the space that has produced high validation AUC, instead
    * of a fixed grid. Implemented as a Tree-structured Parzen Estimator
    * (Bergstra et al. 2011, NeurIPS — public) over the discrete choice sets:
    * observed trials split into top-γ "good" and rest "bad"; each candidate
    * is ranked by Σ_dim log(l(x)/g(x)) of Laplace-smoothed categorical
    * densities; the top candidates of each round are evaluated in parallel,
    * with one seeded-random explore point per round to avoid mode collapse.
    * Fully deterministic for a fixed seed (batch results join a set, so
    * thread completion order cannot change the trajectory).
    *
    * Scale note: each trial is a full distributed pipeline fit; `parallelism`
    * trials run as concurrent Spark jobs sharing the cached train/validation
    * splits — the same job-level parallelism `TrainValidationSplit` uses. */
  def tuneBayesian(df: DataFrame, cfg: Config, budget: Int = 50,
      parallelism: Int = 4, nWarmup: Int = 12, gamma: Double = 0.25): Result = {
    val prepared = prepare(df, cfg)
    val data =
      (if (cfg.fitPartitions > 0) prepared.coalesce(cfg.fitPartitions) else prepared).cache()
    try {
      val Array(train, test) = data.randomSplit(Array(0.7, 0.3), cfg.seed)
      val Array(trainFit, valid) = train.randomSplit(Array(0.75, 0.25), cfg.seed)
      tuneCore(trainFit, valid, test, cfg, budget, parallelism, nWarmup,
        gamma)._1
    } finally data.unpersist(blocking = false)
  }

  /** [[tuneBayesian]] with CALLER-OWNED trainFit/valid/test splits (the m2
    * earned-oracle contract, mirroring [[trainEvaluateDirectSplit]]) —
    * content-hash splits make the evaluated test set engine-reproducible.
    * Returns the Result plus the fitted artifacts an independent engine
    * needs to REPLAY the reported metrics: the feature pipeline (for the
    * scaler's min/range) and the winning tree, and the full per-trial
    * (params, validation-AUC) TRACE in schedule order — the m24 query
    * exports it as literals and replays the argmax + the TPE density
    * concentration relationally. */
  def tuneBayesianSplit(trainFit: DataFrame, valid: DataFrame, test: DataFrame,
      cfg: Config, budget: Int = 50, parallelism: Int = 4, nWarmup: Int = 12,
      gamma: Double = 0.25): (Result, PipelineModel,
        DecisionTreeClassificationModel, Seq[((Int, Int, Double), Double)]) = {
    def prep(d: DataFrame) = {
      val p = prepare(d, cfg)
      if (cfg.fitPartitions > 0) p.coalesce(cfg.fitPartitions) else p
    }
    tuneCore(prep(trainFit), prep(valid), prep(test), cfg,
      budget, parallelism, nWarmup, gamma)
  }

  private def tuneCore(trainFit: DataFrame, valid: DataFrame, test: DataFrame,
      cfg: Config, budget: Int, parallelism: Int, nWarmup: Int, gamma: Double)
      : (Result, PipelineModel, DecisionTreeClassificationModel,
         Seq[((Int, Int, Double), Double)]) = {
    trainFit.cache(); valid.cache()
    // the feature stages don't depend on the tree hyperparameters: fit
    // them ONCE and materialize the assembled features, so each trial is
    // one tree fit over cached vectors instead of a full pipeline refit
    // (imputer + scaler aggregation jobs and feature re-transforms, ~3×
    // the per-trial job count, with identical results)
    val featModel = new Pipeline().setStages(featureStages(cfg)).fit(trainFit)
    val trainFeat = featModel.transform(trainFit)
      .select(col("features"), col(cfg.labelCol)).cache()
    val validFeat = featModel.transform(valid)
      .select(col("features"), col(cfg.labelCol)).cache()
    val tree = treeEstimator(cfg)
    def fitScore(p: (Int, Int, Double)):
        ((Int, Int, Double), DecisionTreeClassificationModel, Double) = {
      val pm = new org.apache.spark.ml.param.ParamMap()
        .put(tree.maxDepth, p._1)
        .put(tree.minInstancesPerNode, p._2)
        .put(tree.minInfoGain, p._3)
      val model = tree.fit(trainFeat, pm)
      (p, model, metricsOf(model, validFeat, cfg.labelCol)._1)
    }
    val observed = tpeSearch(fitScore, budget, parallelism, nWarmup, gamma, cfg.seed)
    // max validation AUC; ties break to the lexicographically smallest
    // point so the result is independent of evaluation order
    val (bestP, bestTree, _) = observed.minBy(t => (-t._3, t._1))
    // recompose the fitted feature stages + winning tree into the full
    // PipelineModel (all stages are transformers, so this fit runs no jobs)
    val bestModel = new Pipeline()
      .setStages(Array[PipelineStage](featModel, bestTree))
      .fit(trainFit)
    try (evaluate(bestModel, test, cfg, Map(
      "maxDepth" -> bestP._1,
      "minInstancesPerNode" -> bestP._2,
      "minInfoGain" -> bestP._3,
      "trials" -> observed.size)), featModel, bestTree,
      observed.map(t => (t._1, t._3)))
    finally {
      trainFit.unpersist(blocking = false); valid.unpersist(blocking = false)
      trainFeat.unpersist(blocking = false); validFeat.unpersist(blocking = false)
    }
  }

  /** The TPE search loop shared by [[tuneBayesian]] and [[tuneTreeSpec]]:
    * seeded warmup batch, then exploit-batches ranked by [[tpeRank]] with
    * one seeded explore point per round; `parallelism` concurrent trials
    * (batch results join as a set, so thread completion order cannot change
    * the trajectory — deterministic for a fixed seed). */
  private def tpeSearch[M](fitScore: ((Int, Int, Double)) => ((Int, Int, Double), M, Double),
      budget: Int, parallelism: Int, nWarmup: Int, gamma: Double, seed: Long)
      : Seq[((Int, Int, Double), M, Double)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(budget > 0 && nWarmup > 0, "budget and nWarmup must be positive")
    val space = (for {
      d <- MaxDepthChoices; m <- MinInstancesChoices; g <- MinInfoGainChoices
    } yield (d, m, g)).toIndexedSeq
    val rng = new scala.util.Random(seed)
    val warm = rng.shuffle(space).take(math.min(nWarmup, budget))
    // own pool, not Tables.concurrently: width is `parallelism`, so the
    // warmup batch never fans out wider than the caller asked for
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def evalBatch(ps: Seq[(Int, Int, Double)]) =
      Await.result(Future.sequence(ps.toList.map(p => Future(fitScore(p)))), Duration.Inf)
    try {
      var acc = evalBatch(warm)
      var remaining = space.filterNot(warm.toSet)
      while (acc.size < budget && remaining.nonEmpty) {
        val want = math.min(math.max(1, parallelism), budget - acc.size)
        val ranked = tpeRank(acc.map(t => (t._1, t._3)), remaining, gamma)
        val exploit = ranked.take(math.max(1, want - 1))
        val explorePool = remaining.filterNot(exploit.toSet)
        val explore = if (want > exploit.size && explorePool.nonEmpty)
          Seq(explorePool(rng.nextInt(explorePool.size))) else Nil
        val batch = exploit ++ explore
        acc = acc ++ evalBatch(batch)
        remaining = remaining.filterNot(batch.toSet)
      }
      acc
    } finally pool.shutdown()
  }

  /** [[tuneBayesian]] on the export path: the SAME TPE search, but each
    * trial fits on RAW assembled features (no imputer/scaler — the
    * [[fitTreeSpec]] regime), so the winning trial's tree exports as a
    * [[TreeScorer.TreeSpec]] whose thresholds are source-column values,
    * replayable as SQL CASE on any engine. Returns (winning spec, winning
    * params incl. trial count, validation AUC of the winner). The tune
    * TRAJECTORY stays engine-specific (validation AUC of intermediate
    * trees); the *outcome* — the exported tree's held-out inference — is
    * what the m5 query oracles, exactly like m4 does for a single fit. */
  def tuneTreeSpec(train: DataFrame, valid: DataFrame, features: Seq[String],
      labelCol: String, budget: Int = 10, parallelism: Int = 4,
      nWarmup: Int = 5, seed: Long = 0L, gamma: Double = 0.25)
      : (TreeScorer.TreeSpec, Map[String, Any], Double) = {
    val assemble = assembler(features, "features")
    def feat(df: DataFrame) = binaryLabel(assemble.transform(
        df.withColumn(labelCol, col(labelCol).cast("double")))
      .select(col("features"), col(labelCol)), labelCol)
    val trainFeat = feat(train).cache()
    val validFeat = feat(valid).cache()
    try {
      val tree = new DecisionTreeClassifier().setLabelCol(labelCol)
        .setFeaturesCol("features").setSeed(seed)
      def fitScore(p: (Int, Int, Double)):
          ((Int, Int, Double), DecisionTreeClassificationModel, Double) = {
        val pm = new org.apache.spark.ml.param.ParamMap()
          .put(tree.maxDepth, p._1)
          .put(tree.minInstancesPerNode, p._2)
          .put(tree.minInfoGain, p._3)
        val model = tree.fit(trainFeat, pm)
        (p, model, metricsOf(model, validFeat, labelCol)._1)
      }
      val observed = tpeSearch(fitScore, budget, parallelism, nWarmup, gamma, seed)
      val (bestP, bestModel, bestAuc) = observed.minBy(t => (-t._3, t._1))
      (TreeScorer.fromModel(bestModel.rootNode, features),
        Map("maxDepth" -> bestP._1, "minInstancesPerNode" -> bestP._2,
          "minInfoGain" -> bestP._3, "trials" -> observed.size), bestAuc)
    } finally {
      trainFeat.unpersist(blocking = false)
      validFeat.unpersist(blocking = false)
    }
  }

  /** TPE candidate ranking (descending promise). Package-private for the
    * numeric spec: given (point, score) observations, rank `candidates` by
    * Σ_dim log(l/g) where l/g are Laplace-smoothed categorical densities of
    * each dimension's value among the top-γ vs remaining observations. */
  private[ml] def tpeRank(observed: Seq[((Int, Int, Double), Double)],
      candidates: Seq[(Int, Int, Double)],
      gamma: Double = 0.25): Seq[(Int, Int, Double)] = {
    val sorted = observed.sortBy(t => (-t._2, t._1))
    val nGood = math.max(1, math.ceil(gamma * observed.size).toInt)
    val good = sorted.take(nGood).map(_._1)
    val bad = sorted.drop(nGood).map(_._1)
    def dens(vals: Seq[Any], v: Any, k: Int): Double =
      (vals.count(_ == v) + 1.0) / (vals.size + k)
    def promise(p: (Int, Int, Double)): Double =
      math.log(dens(good.map(_._1), p._1, MaxDepthChoices.length) /
        dens(bad.map(_._1), p._1, MaxDepthChoices.length)) +
      math.log(dens(good.map(_._2), p._2, MinInstancesChoices.length) /
        dens(bad.map(_._2), p._2, MinInstancesChoices.length)) +
      math.log(dens(good.map(_._3), p._3, MinInfoGainChoices.length) /
        dens(bad.map(_._3), p._3, MinInfoGainChoices.length))
    candidates.sortBy(p => (-promise(p), p))
  }

  /** Fit a decision tree on RAW assembled columns (no scaling — so the
    * exported [[TreeScorer.TreeSpec]] splits on source-column values and
    * replays as SQL CASE on any engine). The fit→export→score bridge the
    * m4 query uses to oracle the FITTED tree's inference, not a fixed one. */
  def fitTreeSpec(train: DataFrame, features: Seq[String], labelCol: String,
      maxDepth: Int = 4, seed: Long = 0L): TreeScorer.TreeSpec =
    TreeScorer.fromModel(fitRawTree(train, features, labelCol, maxDepth, seed).rootNode, features)

  /** [[fitTreeSpec]] with leaf values = the class-1 POSTERIOR
    * ([[TreeScorer.fromModelProb]]) — the predicted probability a
    * calibration table bins on. */
  def fitTreeProbSpec(train: DataFrame, features: Seq[String], labelCol: String,
      maxDepth: Int = 4, seed: Long = 0L): TreeScorer.TreeSpec =
    TreeScorer.fromModelProb(fitRawTree(train, features, labelCol, maxDepth, seed), features)

  private def fitRawTree(train: DataFrame, features: Seq[String], labelCol: String,
      maxDepth: Int, seed: Long): DecisionTreeClassificationModel =
    new DecisionTreeClassifier().setLabelCol(labelCol)
      .setFeaturesCol("features").setMaxDepth(maxDepth).setSeed(seed)
      .fit(binaryLabel(assembler(features, "features").transform(train), labelCol))

  /** The label tagged as a binary nominal attribute. A spark.ml classifier
    * reads its class count from this metadata instead of running a
    * `max(label)` job, and a training set holding one class still fits a
    * two-class tree (class 1 gets posterior 0). Every tree fit here takes
    * 0/1 labels; a label outside {0, 1} fails the fit. */
  private def binaryLabel(df: DataFrame, labelCol: String): DataFrame =
    df.withMetadata(labelCol,
      NominalAttribute.defaultAttr.withName(labelCol).withNumValues(2).toMetadata())

  /** M3-ish input hygiene: cast binaries to double 0/1, label to double
    * (carrying [[binaryLabel]]'s metadata). */
  private def prepare(df: DataFrame, cfg: Config): DataFrame = {
    val casts = df.columns.toSeq.map {
      case c if c == cfg.labelCol => col(c).cast("double").as(c)
      case c if cfg.binaryCols.contains(c) => col(c).cast("double").as(c)
      case c if cfg.numericCols.contains(c) => col(c).cast("double").as(c)
      case c => col(c)
    }
    binaryLabel(df.select(casts: _*).where(col(cfg.labelCol).isNotNull), cfg.labelCol)
  }

  /** M6: AUC + accuracy fused into a single scan of the scored test set.
    * One groupBy over distinct rawPrediction scores (≤ #tree-leaves rows)
    * carries the positive/negative counts for the ROC curve AND the
    * correct-prediction counts — the stock evaluators each re-ran the whole
    * pipeline transform over the test set. AUC is the same distinct-score
    * trapezoid `BinaryClassificationMetrics` computes (ranking by
    * rawPrediction(1), the evaluator's default), with the numerator in
    * exact LONG arithmetic so the result is order-independent. */
  private def evaluate(model: PipelineModel, test: DataFrame, cfg: Config,
      params: Map[String, Any]): Result = {
    val (auc, acc) = metricsOf(model, test, cfg.labelCol)
    val tree = model.stages.last.asInstanceOf[DecisionTreeClassificationModel]
    val names = cfg.numericCols ++ cfg.binaryCols
    val imp = tree.featureImportances.toArray.toSeq.zipAll(names.map(Some(_)), 0.0, None)
      .collect { case (v, Some(n)) => (n, v) }
    Result(model, acc, auc, imp, params)
  }

  /** (areaUnderROC, accuracy) of `model` on `test` in ONE scan (see above).
    * Accepts any transformer producing prediction/rawPrediction — a full
    * PipelineModel over raw columns, or a bare tree model over a
    * pre-assembled features frame (the tuning loop's fast path).
    *
    * The distributed part is exactly the one groupBy over distinct
    * rawPrediction scores; a TREE's distinct scores are its leaf posteriors,
    * ≤ 2^maxDepth rows, so the cumulative trapezoid over them is bounded
    * driver math (exact LONG numerator, deterministic desc-score order) —
    * no global window, no second pass over the cohort. */
  private[ml] def metricsOf(model: org.apache.spark.ml.Transformer, test: DataFrame,
      labelCol: String): (Double, Double) = {
    import org.apache.spark.ml.functions.vector_to_array
    val scored = model.transform(test).select(
      col(labelCol).cast("double").as("label"),
      col("prediction"),
      vector_to_array(col("rawPrediction")).getItem(1).as("score"))
    // Driver-size guard: the collect is bounded by DISTINCT scores, which
    // for tree models is ≤ 2^maxDepth leaf posteriors — but the signature
    // accepts any Transformer, and a continuous-score model (logistic
    // regression) would have ~|test| distinct scores and OOM the driver.
    // The limit+1 fetch caps what ever crosses; breaching it is a clear
    // error telling the caller to use a distributed evaluator instead.
    val maxDistinctScores = 65536
    val rows = scored.groupBy(col("score")).agg(
        count(when(col("label") === 1.0, 1)).as("np"),
        count(when(col("label") =!= 1.0, 1)).as("nn"),
        count(when(col("prediction") === col("label"), 1)).as("nc"),
        count(lit(1)).as("nt"))
      .limit(maxDistinctScores + 1)
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(-_._1)
    require(rows.length <= maxDistinctScores,
      s"metricsOf: > $maxDistinctScores distinct rawPrediction scores — this " +
        "driver-side trapezoid is for tree-like models with bounded score " +
        "cardinality; use a distributed evaluator for continuous-score models")
    var tp = 0L; var fp = 0L; var num = 0L; var nc = 0L; var nt = 0L
    rows.foreach { case (_, np, nn, c, t) =>
      val tpPrev = tp; val fpPrev = fp
      tp += np; fp += nn
      num += (fp - fpPrev) * (tp + tpPrev)
      nc += c; nt += t
    }
    (num.toDouble / (2.0 * tp * fp), nc.toDouble / nt)
  }
}
