package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB path: bucketed co-located joins
  * (no shuffle at join time — the dominant cost for repeated fact⋈fact
  * joins) and salted joins for skewed keys (beyond what AQE skew-split
  * handles, e.g. one mega-key).
  */
object Partitioning {

  /** Persist bucketed + sorted by the join key: repeated joins/aggregations
    * on `key` against an equally-bucketed table plan as zero-Exchange
    * sort-merge joins. Bucket count is a layout contract — both sides must
    * match. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      sorted: Boolean = true): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Join-key skew report — the diagnostic that DECIDES between a plain
    * shuffle join, AQE skew-split, and [[saltedJoin]]: one row
    * `(n_rows, n_keys, max_count, p99_count, top10_count, top10_share,
    * gini)` over the key's frequency distribution, every number an EXACT
    * integer until the two final divisions.
    *
    * Plan: one map-side-combined groupBy(key) → per-key counts, a second
    * groupBy to the VALUE-LEVEL frame (distinct frequency, #keys at it —
    * bounded by distinct frequencies, never key count), then the sharded
    * exclusive prefix (no global sort, no global window). Gini folds per
    * CELL: keys at frequency v occupy ranks (cum, cum+k], so
    * `Σᵢ i·xᵢ = Σ_cells v·(k·cum + k(k+1)/2)` — exact longs; the p99
    * count is the m17 integer rank pick; the top-10 mass takes
    * `v·min(k, keys_remaining)` down the descending prefix. */
  def keySkewReportDF(df: DataFrame, key: String): DataFrame = {
    val counts = df.where(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val vc = counts.groupBy(col("cnt").as("v")).agg(count(lit(1)).as("k"))
    val pref = ShardLookup.exclusivePrefix(vc, Seq(col("v")), Seq("k" -> "cum"))
    val tw = pref.df
      // row total and max ride a 1-row cross join (value-frame-sized inputs)
      .crossJoin(broadcast(pref.df.agg(
        sum(col("v") * col("k")).as("n_rows"),
        max(col("v")).as("max_count"))))
      .withColumn("n_keys", lit(pref.totals("k")))
      .withColumn("k99", expr("((n_keys) * 99 + 99) DIV 100"))
      // keys ABOVE this cell in the descending order = n_keys − cum − k
      .withColumn("keys_above", col("n_keys") - col("cum") - col("k"))
      .withColumn("top_take",
        greatest(lit(0L), least(col("k"), lit(10L) - col("keys_above"))))
    tw.agg(
        first(col("n_rows")).as("n_rows"),
        first(col("n_keys")).as("n_keys"),
        first(col("max_count")).as("max_count"),
        min(when(col("cum") + col("k") >= col("k99"), col("v"))).as("p99_count"),
        sum(col("v") * col("top_take")).as("top10_count"),
        // Σ i·x_i via the per-cell closed form, exact longs
        sum(col("v") * (col("k") * col("cum") +
          expr("(k * (k + 1)) DIV 2"))).as("__s"))
      .select(col("n_rows"), col("n_keys"), col("max_count"), col("p99_count"),
        col("top10_count"),
        round(col("top10_count").cast("double") / col("n_rows").cast("double"), 6)
          .as("top10_share"),
        round(lit(2.0) * col("__s").cast("double") /
          (col("n_keys").cast("double") * col("n_rows").cast("double")) -
          (col("n_keys") + 1L).cast("double") / col("n_keys").cast("double"), 6)
          .as("gini"))
  }

  /** Salted equi-join for skewed keys: the skewed (large) side gets a
    * deterministic salt in [0, salts); the small side is replicated `salts`
    * times so every (key, salt) partition finds its match. Replication
    * multiplies the small side's shuffle volume by `salts` — use only when a
    * handful of keys dominate (or AQE's skew handling is unavailable, e.g.
    * under a non-AQE shuffle). Salt is derived from stable row content, not
    * rand(), so replays/retries stay deterministic. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salts: Int, saltSource: Column): DataFrame = {
    val saltedBig = skewed.withColumn("__salt", pmod(xxhash64(saltSource), lit(salts)))
    val replicated = other
      .withColumn("__salt", explode(sequence(lit(0L), lit(salts - 1L))))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Multi-key variant with no caller-chosen salt source: the salt derives
    * from the per-partition row index (`monotonically_increasing_id`), which
    * spreads a hot key uniformly EVEN when its rows are byte-identical (a
    * row-content hash would pile identical rows onto one salt) and touches
    * no data columns (works with map-typed columns `hash` rejects). Join
    * correctness is independent of the salt a row receives — every (key,
    * salt) finds its replicated right match — so layout changes never affect
    * the result, only the spread. Handles overlapping non-key column names;
    * output is left columns then right non-key columns, identical to the
    * plain inner join (spec'd). */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val leftSalted = skewed.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val rightSalted = other
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val rightRenamed = other.columns.filterNot(keys.contains).foldLeft(rightSalted) {
      (df, c) => df.withColumnRenamed(c, s"__r_$c")
    }
    leftSalted.join(rightRenamed, keys :+ "__salt")
      .drop("__salt")
      .select(skewed.columns.toSeq.map(col) ++
        other.columns.filterNot(keys.contains).map(c => col(s"__r_$c").as(c)): _*)
  }

  /** Top-N hot keys by frequency — the monitoring companion: feed its output
    * into a broadcast-isolate strategy (filter hot keys into a broadcast
    * join, sort-merge the long tail) when even salting is too blunt. */
  def hotKeys(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"))
      // secondary sort on the keys: ties at the topN boundary must resolve
      // deterministically — skewIsolatedJoin references this frame from
      // several join branches and they must agree on the hot set
      .orderBy(col("n_rows").desc +: keys.map(col(_).asc): _*)
      .limit(topN)

  /** Broadcast-isolate inner equi-join: the `hotKeyLimit` heaviest keys of
    * the big side join via BROADCAST of just their (tiny) right-side slice —
    * their rows never shuffle at all — while the long tail takes the normal
    * shuffled path. Strictly better than salting when a handful of keys
    * dominate: salting still moves the hot rows over the network, this
    * doesn't. Output equals the plain inner join (spec'd): left columns then
    * right non-key columns. */
  def skewIsolatedJoin(big: DataFrame, other: DataFrame, keys: Seq[String],
      hotKeyLimit: Int = 20): DataFrame = {
    val hot = broadcast(hotKeys(big, keys, hotKeyLimit).select(keys.map(col): _*))
    val rightRenamed = other.columns.filterNot(keys.contains).foldLeft(other) {
      (df, c) => df.withColumnRenamed(c, s"__r_$c")
    }
    val out = (df: DataFrame) => df.select(big.columns.toSeq.map(col) ++
      other.columns.filterNot(keys.contains).map(c => col(s"__r_$c").as(c)): _*)
    val hotJoin = big.join(hot, keys, "left_semi")
      .join(broadcast(rightRenamed.join(hot, keys, "left_semi")), keys)
    val coldJoin = big.join(hot, keys, "left_anti").join(rightRenamed, keys)
    out(hotJoin).unionByName(out(coldJoin))
  }
}
