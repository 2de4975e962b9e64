package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (NOT-IN-REFERENCE
  * extension). `df.sample()` draws per-partition from a seeded RNG — the
  * selected rows CHANGE whenever partitioning changes, which breaks
  * reproducibility across cluster sizes and engine versions. Content-hash
  * sampling decides per ROW from a stable key, so the same rows are chosen
  * on any layout, any engine (md5 is md5 everywhere), and re-runs are
  * incremental-friendly: adding new rows never flips old decisions. */
object Sampling {

  /** Hex-prefix threshold for `rate` over the first 4 md5 nibbles. Clamped
    * to "ffff": a 5-char "10000" would compare lexicographically SMALLER
    * than most 4-char hex prefixes and invert the filter, so rates within
    * 1/131072 of 1.0 keep 65535/65536 of rows (documented granularity). */
  private[ops] def hexThreshold(rate: Double): String = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    // a positive rate below half the 1/65536 granularity rounds to "0000"
    // and silently keeps ZERO rows — fail fast instead of sampling nothing.
    // Rates in [1/131072, 1/65536) round UP to one granule and stay legal.
    require(rate == 0 || math.round(rate * 65536) > 0,
      f"rate $rate%g rounds to 0 at the 1/65536 sampling granularity (would keep 0 rows); " +
        "use rate = 0 for none or widen the key-hash prefix")
    f"${math.min(65535L, math.round(rate * 65536)).toInt}%04x"
  }

  /** Keep rows whose md5(key) falls below the rate threshold —
    * a deterministic ~`rate` sample, stable under repartitioning.
    * Granularity is 1/65536; exact fraction depends on hash uniformity. */
  def hashSample(df: DataFrame, key: Column, rate: Double): DataFrame =
    if (rate >= 1.0) df
    else df.where(substring(md5(key.cast("string")), 1, 4) < lit(hexThreshold(rate)))

  /** Mixture sampling for training-data mixing: down-sample each stratum
    * (source/domain/language) to ≈ its TOKEN budget. The per-stratum keep
    * rate is min(1, target/actual) computed from one aggregation pass; the
    * per-row decision is the same content-hash rule as [[hashSample]]
    * (layout-independent, re-run-stable, engine-reproducible). Strata with
    * no budget are dropped (explicit mixture contract); rate ≥ 1 keeps the
    * whole stratum (no up-sampling — repeat epochs upstream for that). A
    * POSITIVE budget below the hash granularity keeps one granule
    * (1/65536) rather than silently zeroing the stratum.
    *
    * Scale: one groupBy(stratum) aggregate (map-side combined) over the
    * token column, broadcast of the stratum-count-sized rate table back
    * onto the scan — the corpus itself never shuffles. */
  def mixtureSample(df: DataFrame, stratum: Column, key: Column,
      tokens: Column, targets: Map[String, Long]): DataFrame = {
    require(targets.nonEmpty, "need at least one stratum target")
    require(targets.values.forall(_ > 0), "budgets must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toSeq.toDF("__s", "__target")
    val totals = df.groupBy(stratum.as("__s")).agg(sum(tokens).as("__actual"))
    val rates = totals.join(tgt, "__s")
      // a stratum whose token sum is 0 has nothing to down-sample: rate 1.0
      // keeps it whole (Spark's x/0 yields null, which greatest(1,null)=1
      // would silently keep at ~1/65536; SQL engines with x/0=+inf keep all
      // — pin the agreed semantics explicitly)
      .select(col("__s"),
        when(col("__actual") > 0,
          least(lit(1.0), col("__target").cast("double") / col("__actual")))
          .otherwise(lit(1.0)).as("__rate"))
    // same threshold arithmetic as hexThreshold, as a Column (round half-up
    // on positive doubles agrees across engines); lower-case hex to match md5
    val thr = lower(lpad(hex(greatest(lit(1L), least(lit(65535L),
      round(col("__rate") * 65536).cast("long")))), 4, "0"))
    df.join(broadcast(rates), stratum === col("__s"))
      .where(col("__rate") >= 1.0 ||
        substring(md5(key.cast("string")), 1, 4) < thr)
      .drop("__s", "__rate")
  }

  /** Per-stratum rates: rows in strata not listed are dropped (the
    * `sampleBy` contract), but decisions stay content-hash-deterministic.
    * A rate ≥ 1.0 keeps the WHOLE stratum (no hash filter). */
  def stratifiedHashSample(df: DataFrame, stratum: Column, key: Column,
      rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty, "need at least one stratum rate")
    val hex = substring(md5(key.cast("string")), 1, 4)
    val cond = rates.map { case (s, r) =>
      if (r >= 1.0) stratum === s
      else stratum === s && hex < lit(hexThreshold(r))
    }.reduce(_ || _)
    df.where(cond)
  }

  /** Weighted SYSTEMATIC sampling without replacement — probability-
    * proportional-to-size with a deterministic grid instead of an RNG
    * (the classic PPS-systematic design, the reproducible cousin of
    * Efraimidis–Spirakis reservoir keys): lay the rows end-to-end on the
    * exact cumulative-weight line in `idCol` order, cut it into `k` equal
    * buckets, and keep each row that COMPLETES a bucket boundary. All
    * arithmetic is LONG (cum·k ≤ W·k), so the selection replays exactly
    * in any engine; the cumulative line is the [[ShardLookup.exclusivePrefix]]
    * sharded prefix sum — no global sort, no RNG, layout-independent.
    *
    * Output: `(idCol, w, cum, bucket, picks)` for selected rows only —
    * `cum` the EXCLUSIVE prefix weight, `bucket` the first bucket index
    * the row completes, `picks` how many boundaries it spans (a row
    * heavier than W/k absorbs several — selections number ≤ k, with
    * equality when no row outweighs a bucket). Zero/negative weights and
    * NULL ids drop (they have no extent on the line). */
  def systematicSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need a positive bucket count, got $k")
    val base = df.where(col(idCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol).as("v"), col(weightCol).cast("long").as("w"))
    val pref = ShardLookup.exclusivePrefix(base, Seq(col("v")), Seq("w" -> "cum"))
    val w0 = pref.totals("w")
    require(w0 >= k, s"total weight $w0 is below the bucket count $k")
    // integral DIV (not `/`, which widens to double and drifts past 2^53);
    // operands are non-negative so truncation ≡ floor in both engines
    pref.df
      .withColumn("bucket", expr(s"cum * ${k}L DIV ${w0}L"))
      .withColumn("picks",
        expr(s"(cum + w) * ${k}L DIV ${w0}L") - col("bucket"))
      .where(col("picks") > 0)
      .select(col("v").as(idCol), col("w"), col("cum"),
        col("bucket"), col("picks"))
  }

  /** Efraimidis–Spirakis weighted reservoir — top-k sampling WITHOUT
    * replacement with per-row inclusion proportional to weight, the
    * one-pass design streaming samplers use. The classic algorithm draws
    * `u ~ U(0,1)` per row and keeps the k largest `u^(1/w)`; here `u`
    * derives from the row's CONTENT HASH (first 52 md5 bits → uniform in
    * (0,1)), so the sample is layout-independent, re-run-stable, and
    * engine-reproducible — same doctrine as [[hashSample]]. Ranking uses
    * the monotone-equivalent key `ln(u)/w` (ln u < 0: heavier rows pull
    * the key toward 0) — no pow, one ln, one division.
    *
    * Scale: the sort-limit compiles to TakeOrdered (per-partition top-k +
    * driver merge of k·P candidates) — no global sort, no RNG state.
    * Rows with NULL id or non-positive weight drop.
    *
    * Returns the k selected rows `(idCol, w, u, es_key)` ordered by key
    * descending (selection order), id tiebreak. */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need a positive sample size, got $k")
    val base = df.where(col(idCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol).as("id"), col(weightCol).cast("double").as("w"))
    val hexv = conv(substring(md5(col("id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (hexv.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    base.withColumn("u", u)
      .withColumn("es_key", log(col("u")) / col("w"))
      .orderBy(col("es_key").desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), col("w"),
        round(col("u"), 6).as("u"),
        // + 0.0 normalizes IEEE −0.0 (a near-zero key rounds to it) so
        // both engines render plain 0.0
        (round(col("es_key"), 9) + lit(0.0)).as("es_key"))
  }

  /** Deterministic k-fold assignment for cross-validation — the
    * content-hash sibling of [[hashSample]]: `fold = hexIndex(md5(key)
    * [0]) mod k`, a pure row-local function of the key, so folds are
    * layout-independent, re-run-stable, and engine-reproducible (no RNG,
    * no shuffle — the fold column rides the scan).
    *
    * `k` must divide 16 so the single hex digit partitions uniformly
    * (2, 4, 8, 16); compose with [[Dedup.clusterAwareSplit]]'s
    * representative keying upstream when near-dup leakage across folds
    * matters. */
  def kfold(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2 && 16 % k == 0,
      s"k must be one of 2/4/8/16 (uniform hex-digit folds), got $k")
    df.withColumn("__h1", substring(md5(key.cast("string")), 1, 1))
      .withColumn("fold",
        pmod(expr("instr('0123456789abcdef', __h1) - 1"), lit(k)).cast("long"))
      .drop("__h1")
  }
}
