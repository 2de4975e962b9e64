package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators (NOT-IN-REFERENCE extension, same
  * family as the dedup/text ops): sequence packing and benchmark
  * decontamination — the two steps between "clean documents" and "training
  * batches" in an LLM data pipeline.
  */
object Corpus {

  /** Concat-then-chunk packing map: documents are laid out in `orderCol`
    * order as one continuous token stream and cut into fixed `budget`-token
    * training sequences (the standard pretraining packing). Returns the
    * provenance map — per document its token offset and the first/last
    * chunk ids it lands in — which is what attribution, dedup-audit, and
    * loss-masking downstream need.
    *
    * Scale: a DISTRIBUTED two-phase cumsum, never a single-partition sort:
    * the offset is the exclusive prefix sum of token counts in
    * (`orderCol`, `idCol`) order ([[graft.ops.ShardLookup.exclusivePrefix]]).
    * The `idCol` tie-break makes the order total, so each document is
    * counted once even when `orderCol` has ties.
    *
    * EAGER: runs Spark jobs at call time and pins the range-sharded
    * tokenized rows via localCheckpoint; the returned frame reads that
    * materialization. Not a pure plan builder. */
  def chunkMap(df: DataFrame, idCol: String, textCol: String,
      budget: Int, orderCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val base = df.select(col(idCol), col(orderCol.getOrElse(idCol)).as("__ord"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    graft.ops.ShardLookup.exclusivePrefix(base, Seq(col("__ord"), col(idCol)),
        Seq("n_tokens" -> "start_offset")).df
      .drop("__ord")
      .withColumn("start_chunk", (col("start_offset") / budget).cast("long"))
      .withColumn("end_chunk",
        (greatest(col("start_offset") + col("n_tokens") - 1, col("start_offset"))
          / budget).cast("long"))
  }

  /** Materialized sliding-window chunking — the RAG/context-window
    * counterpart of the [[chunkMap]] provenance map: each document explodes
    * into overlapping `size`-token windows starting every `stride` tokens.
    * The last window starts at the smallest stride multiple reaching the
    * tail, and every document emits at least one (possibly short) chunk,
    * so no token is dropped. Output: (id, chunk_id ordinal, chunk_text,
    * n_tokens).
    *
    * Scale: pure per-row explode + slice — NO shuffle anywhere; output
    * volume is input tokens × (size/stride) overlap factor, the knob the
    * caller owns. Chunk ids are per-document ordinals so downstream dedup /
    * packing keys on (id, chunk_id) without a global order. */
  def chunkExplode(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size and stride must be positive, got $size/$stride")
    val toks = TextOps.tokens(col(textCol))
    val lastStart = greatest(
      ceil((TextOps.tokenCount(col(textCol)) - lit(size)).cast("double") / stride)
        .cast("long") * stride, lit(0L))
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0L), lastStart, lit(stride.toLong)),
          s0 => array_join(slice(toks, s0.cast("int") + 1, lit(size)), " ")))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"),
        TextOps.tokenCount(col("chunk_text")).cast("long").as("n_tokens"))
  }

  /** Core of line/span-level exact dedup (C4-style): `units` is one row per
    * (doc, position, unit-text); any unit text occurring in at least
    * `minDocs` DISTINCT documents is boilerplate and removed from EVERY
    * document; survivors are reassembled in position order.
    *
    * Scale: the duplicated-unit set comes from ONE count shuffle keyed on
    * the unit text (map-side combined); removal is a left-anti hash join on
    * the same key; reassembly is one shuffle keyed on doc id. Three
    * key-partitioned shuffles total, none global. The duplicated-unit set is
    * corpus-boilerplate-sized (short-tail), so at scale Spark's AQE turns
    * the anti join into a broadcast; unit strings can be swapped for
    * `xxhash64(unit)` join keys when the lines are long (same plan shape).
    */
  private def dedupUnits(df: DataFrame, idCol: String, units: DataFrame,
      minDocs: Int, sep: String): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥2, got $minDocs")
    val dup = units.groupBy(col("unit"))
      .agg(countDistinct(col("__id")).as("nd"))
      .where(col("nd") >= minDocs).select(col("unit"))
    val kept = units.join(dup, Seq("unit"), "left_anti")
      .groupBy(col("__id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("unit")))),
          x => x.getField("unit")), sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = units.groupBy(col("__id")).agg(count(lit(1)).as("n_units"))
    totals.join(kept, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_units"),
        (col("n_units") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Line-level exact dedup: split each document on `sep` (a literal
    * regex-quoted separator, '\n' for the classic C4 recipe), drop every
    * line that appears in ≥ `minDocs` distinct documents, reassemble the
    * rest in order. Returns `(id, clean_text, n_units, n_removed)`. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 2): DataFrame = {
    val units = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "unit")))
    dedupUnits(df, idCol, units, minDocs, sep)
  }

  /** Span-level exact dedup — [[lineDedup]] for corpora without line
    * structure: the unit is a run of `span` consecutive whitespace tokens
    * (non-overlapping, aligned), the granularity most substring-dedup
    * pipelines use. A duplicated document contributes every span to the
    * boilerplate set, so exact-dup *content* is stripped from all copies
    * while unique prose survives. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      span: Int = 10, minDocs: Int = 2): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    val toks = TextOps.tokens(col(textCol))
    val nSpans = ceil(size(toks).cast("double") / span).cast("int")
    val units = df.select(col(idCol).as("__id"),
        posexplode(when(size(toks) === 0, array(lit(""))).otherwise(
          transform(sequence(lit(0), nSpans - 1),
            i => array_join(slice(toks, i * span + 1, lit(span)), " "))))
          .as(Seq("pos", "unit")))
    dedupUnits(df, idCol, units, minDocs, " ")
  }

  /** Corpus health report: the per-slice dashboard a training-data pipeline
    * watches — document counts, token volume, mean quality score, and exact
    * duplicate rate, for every CUBE cell of `dims` (each slice, each
    * marginal, and the grand total; `gid` = Spark `grouping_id`).
    *
    * Scale: ONE content-hash shuffle finds duplicate groups (the dup set is
    * duplicate-group-sized → AQE broadcasts the flag join back), quality and
    * token metrics are per-row codegen'd expressions, and the cube is a
    * single Expand + aggregate pass — 2^|dims| cells never rescan the
    * corpus. Counts and token sums are exact integers; only the two final
    * divisions (mean quality, dup rate) are floating point.
    */
  def healthReport(df: DataFrame, idCol: String, textCol: String,
      dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension column")
    val hashed = df.select(
        col(idCol) +: col(textCol).as("__text") +: dims.map(col): _*)
      .withColumn("__h", md5(col("__text")))
    val dupSets = hashed.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).select(col("__h"), lit(1L).as("__dup"))
    val flagged = hashed.join(dupSets, Seq("__h"), "left_outer")
    val scored = TextOps.withQualityScore(flagged, "__text", "__q")
      .withColumn("__ntok", TextOps.tokenCount(col("__text")).cast("long"))
    scored.cube(dims.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        round(avg(col("__q")), 6).as("avg_quality"),
        round(sum(coalesce(col("__dup"), lit(0L))).cast("double") /
          count(lit(1)), 6).as("dup_rate"),
        grouping_id().cast("long").as("gid"))
  }

  /** Benchmark decontamination: training docs sharing at least `minShared`
    * distinct word `n`-gram shingles with any eval doc. The join key is the
    * shingle STRING (exact, engine-neutral); the eval side of an n-gram
    * contamination check is benchmark-sized — broadcast it so the scan of
    * the training corpus never shuffles. Output: one row per contaminated
    * (train, eval) pair with the shared-shingle count. */
  def contamination(train: DataFrame, trainId: String,
      eval: DataFrame, evalId: String, textCol: String,
      n: Int = 8, minShared: Int = 1): DataFrame = {
    def sh(df: DataFrame, id: String, as: String) =
      df.select(col(id).as(as),
        explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("s"))
    sh(train, trainId, "train_id")
      .join(broadcast(sh(eval, evalId, "eval_id")), Seq("s"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
  }

  /** Dunning log-likelihood (G²) keyness census: which tokens are
    * over/under-represented in the TARGET slice of the corpus versus the
    * rest (Dunning 1993 — the standard corpus-linguistics keyword
    * statistic; the per-term sibling of [[healthReport]]'s corpus-level
    * counts).
    *
    * `G² = 2·(a·ln(a/e₁) + b·ln(b/e₂))` with `e₁ = A·(a+b)/(A+B)`,
    * `e₂ = B·(a+b)/(A+B)`; zero-count terms contribute 0 (the
    * `x·ln(x/e) → 0` limit). Exactness: token counts are one explode +
    * groupBy (the only corpus-sized work); A/B ride a 1-row broadcast;
    * G² is a PER-ROW fixed tree of `ln` over exact-integer doubles (no
    * accumulation at all), rounded to 4. `signed_g2` carries the
    * direction (positive = over-represented in the target). Output is
    * the census of tokens with `a + b ≥ minTotal`, ordered by TOKEN —
    * ranking by an integer-exact key, never by the double. */
  def keynessCensus(df: DataFrame, textCol: String, isTarget: Column,
      minTotal: Long): DataFrame = {
    val base = df.where(col(textCol).isNotNull && isTarget.isNotNull)
      .select(explode(split(col(textCol), " ")).as("token"),
        when(isTarget, 1L).otherwise(0L).as("g"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(sum(col("g")).as("a"), (count(lit(1)) - sum(col("g"))).as("b"))
    val totals = base.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    val ad = col("a").cast("double"); val bd = col("b").cast("double")
    val tad = col("ta").cast("double"); val tbd = col("tb").cast("double")
    val e1 = tad * ((ad + bd) / (tad + tbd))
    val e2 = tbd * ((ad + bd) / (tad + tbd))
    val term1 = when(col("a") > 0L, ad * log(ad / e1)).otherwise(lit(0.0))
    val term2 = when(col("b") > 0L, bd * log(bd / e2)).otherwise(lit(0.0))
    val g2 = lit(2.0) * (term1 + term2)
    base.where(col("a") + col("b") >= minTotal)
      .crossJoin(broadcast(totals))
      .select(col("token"), col("a"), col("b"),
        round(g2, 4).as("g2"),
        round(when(ad / (ad + bd) >= tad / (tad + tbd), g2).otherwise(-g2), 4)
          .as("signed_g2"))
      .orderBy(col("token"))
  }

  /** Per-document lexical-diversity census: token count, type count,
    * type-token ratio, and the Shannon entropy (nats) of the doc's own
    * token distribution — low entropy flags repetitive/boilerplate docs
    * the length-based filters miss (kinship: t6 measures REPEATED
    * n-grams; this measures distributional concentration).
    *
    * `H = ln n − (Σ m·ln m)/n` over the doc's per-token multiplicities m.
    * The `m·ln m` sum is an ORDERED chain per doc (window partitioned by
    * doc, ordered by token — row-group local, never a global sort), so
    * both engines add the same doubles in the same order (the t24
    * doctrine). Docs with zero tokens drop. */
  /** Zipf-law fit over the top-k vocabulary: OLS of ln(freq) on ln(rank)
    * — the corpus power-law audit (natural text slopes ≈ −1; a synthetic
    * or templated corpus shows up as a flat or kinked curve). One row
    * `(n_ranks, top_freq, slope, intercept, r2)`.
    *
    * Plan: one corpus-sized vocab groupBy, TakeOrdered(k) (never a full
    * sort), then every sum the closed form needs is an ORDERED chain over
    * the k-row rank frame (deliberate dimension-sized window, the w2
    * family) — both engines add the same doubles in the same order. */
  def zipfFitDF(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 3, s"need at least 3 ranks to fit, got $k")
    val vocab = df.where(col(textCol).isNotNull)
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val rankW = Window.orderBy(col("freq").desc, col("token").asc)
    val top = vocab.orderBy(col("freq").desc, col("token").asc).limit(k)
      .withColumn("rank", row_number().over(rankW).cast("long"))
    val runW = Window.orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = log(col("rank").cast("double"))
    val y = log(col("freq").cast("double"))
    val chained = top
      .withColumn("cn", count(lit(1)).over(runW).cast("double"))
      .withColumn("cx", sum(x).over(runW))
      .withColumn("cy", sum(y).over(runW))
      .withColumn("cxy", sum(x * y).over(runW))
      .withColumn("cxx", sum(x * x).over(runW))
      .withColumn("cyy", sum(y * y).over(runW))
      .withColumn("tf", max(when(col("rank") === 1L, col("freq"))).over(runW))
    val agg = chained.agg(
      max_by(struct(col("cn"), col("cx"), col("cy"), col("cxy"),
        col("cxx"), col("cyy"), col("tf")), col("rank")).as("s"))
      .select(col("s.cn").as("nd"), col("s.cx").as("sx"),
        col("s.cy").as("sy"), col("s.cxy").as("sxy"),
        col("s.cxx").as("sxx"), col("s.cyy").as("syy"),
        col("s.tf").as("top_freq"))
    val num = col("nd") * col("sxy") - col("sx") * col("sy")
    val den = col("nd") * col("sxx") - col("sx") * col("sx")
    val slope = num / den
    agg.select(col("nd").cast("long").as("n_ranks"), col("top_freq"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("nd"), 6).as("intercept"),
      round(num * num / (den *
        (col("nd") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  def tokenEntropyDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df.select(col(idCol).as("__id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("__id")).orderBy(col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("__mlm_run",
        sum(col("m").cast("double") * log(col("m").cast("double"))).over(w))
      .groupBy(col("__id"))
      .agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("n_types"),
        max_by(col("__mlm_run"), col("token")).as("__mlm"))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(log(col("n_tokens").cast("double")) -
          col("__mlm") / col("n_tokens").cast("double"), 6).as("entropy"))
  }
}
