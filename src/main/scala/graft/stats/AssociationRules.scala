package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.fpm.FPGrowth

/** Association-rule mining (SURVEY §2.8 R5): the reference converts a
  * boolean frame to transactions and runs R's `apriori` with supp=0.3,
  * conf=0.8, minlen=3, maxlen=7, then keeps rules with lift>1.2 sorted by
  * confidence (`Hypothesis testing R.r:496-534`).
  *
  * [[mineBoolean]] is the rules path: one aggregation over basket bitmasks
  * and driver-side subset enumeration, for up to 16 boolean columns.
  * [[mine]] runs FP-Growth (`org.apache.spark.ml.fpm.FPGrowth`) over
  * transactions; apriori's minlen/maxlen have no FP-Growth equivalent, so
  * rule length (|antecedent| + |consequent|) is filtered post-hoc.
  */
object AssociationRules {

  /** Boolean columns → transactions: item = column name where value is true. */
  def transactions(df: DataFrame, boolCols: Seq[String]): DataFrame =
    df.select(filter(
      array(boolCols.map(c => when(col(c) === true, lit(c))): _*),
      x => x.isNotNull).as("items"))

  /** Mine rules with the reference's post-filters. Output:
    * (antecedent, consequent, support, confidence, lift) sorted by
    * confidence desc. Kept as the FP-Growth path for more than 16 columns
    * and as the oracle that [[mineBoolean]]'s equivalence specs pin. */
  def mine(df: DataFrame, boolCols: Seq[String],
      minSupport: Double = 0.3, minConfidence: Double = 0.8,
      minLen: Int = 3, maxLen: Int = 7, minLift: Double = 1.2): DataFrame = {
    val model = new FPGrowth()
      .setItemsCol("items")
      .setMinSupport(minSupport)
      .setMinConfidence(minConfidence)
      .fit(transactions(df, boolCols))
    // associationRules: antecedent, consequent, confidence, lift, support
    model.associationRules
      .withColumn("rule_len", size(col("antecedent")) + size(col("consequent")))
      .where(col("rule_len").between(minLen, maxLen) && col("lift") > minLift)
      .select(
        concat_ws(",", array_sort(col("antecedent"))).as("antecedent"),
        concat_ws(",", array_sort(col("consequent"))).as("consequent"),
        col("support"), col("confidence"), col("lift"))
      .orderBy(col("confidence").desc, col("antecedent"), col("consequent"))
  }

  /** Boolean-column fast path: with p ≤ 16 item columns there are only 2^p
    * distinct baskets, so ONE codegen'd contingency aggregation (group by
    * basket bitmask) + driver-side subset enumeration reproduces FP-Growth's
    * rule set exactly (single-item consequents, same support/confidence/lift
    * arithmetic from the same integer counts). At 100 TB this is strictly
    * more scalable than FP-Growth over row-level transactions: the shuffle
    * carries ≤2^p rows instead of the frequent-pattern tree structures.
    * Verified ≡ [[mine]] by StatsSpec and MedicalPipelineSpec. */
  def mineBoolean(df: DataFrame, boolCols: Seq[String],
      minSupport: Double = 0.3, minConfidence: Double = 0.8,
      minLen: Int = 3, maxLen: Int = 7, minLift: Double = 1.2): DataFrame = {
    require(boolCols.nonEmpty && boolCols.size <= 16,
      s"mineBoolean needs 1..16 boolean columns, got ${boolCols.size}")
    val p = boolCols.size
    val spark = df.sparkSession
    import spark.implicits._
    val maskCol = boolCols.zipWithIndex.map { case (c, i) =>
      when(col(c) === true, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val baskets = df.groupBy(maskCol.as("mask")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val n = baskets.map(_._2).sum
    val nMasks = 1 << p
    // freq(itemset s) = Σ counts of baskets m ⊇ s — superset-sum DP in
    // O(p·2^p) (the naive per-subset scan is O(4^p): hours at p = 16)
    val freq = new Array[Long](nMasks)
    baskets.foreach { case (m, c) => freq(m) += c }
    for (bit <- 0 until p; s <- 0 until nMasks if (s & (1 << bit)) == 0)
      freq(s) += freq(s | (1 << bit))
    val items = boolCols.toArray
    def names(mask: Int): String =
      items.indices.filter(i => ((mask >> i) & 1) == 1).map(items).sorted.mkString(",")
    val rules = for {
      z <- (1 until nMasks).toSeq
      len = Integer.bitCount(z)
      if len >= minLen && len <= maxLen && freq(z).toDouble / n >= minSupport
      c <- 0 until p
      if ((z >> c) & 1) == 1
      a = z & ~(1 << c)
      if a != 0
      conf = freq(z).toDouble / freq(a)
      if conf >= minConfidence
      lift = conf / (freq(1 << c).toDouble / n)
      if lift > minLift
    } yield (names(a), items(c), freq(z).toDouble / n, conf, lift)
    // a local frame: sorted in one partition, so writing it is one job
    // (a global sort would add a range-sampling job)
    rules.toDF("antecedent", "consequent", "support", "confidence", "lift")
      .coalesce(1)
      .sortWithinPartitions(col("confidence").desc, col("antecedent"), col("consequent"))
  }
}
