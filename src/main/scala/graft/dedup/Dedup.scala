package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.text.TextOps

/** Deduplication operators for large-scale training-data pipelines
  * (NOT-IN-REFERENCE extension): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-bounded by a *bucketing* key
  * (content hash, LSH band bucket, SimHash chunk) so candidate generation is
  * a hash-partitioned `groupBy`/equi-join, never an O(n²) cross join. The
  * only quadratic work is within-bucket pair expansion, which LSH band
  * parameters keep small by construction.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by content hash: (hash, keep_id = min id, n). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the lowest-id row per distinct content. One shuffle on
    * the content hash; no window needed (min-struct beats row_number: partial
    * aggregation map-side vs full sort per partition). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rest = df.columns.filter(_ != idCol).map(c => col("__keep." + c).as(c))
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min_by(struct(df.columns.toSeq.map(col): _*), col(idCol)).as("__keep"))
      .select(col("__keep." + idCol).as(idCol) +: rest.toSeq: _*)
      .drop("__h")
  }

  /** Cross-corpus incremental dedup — the continuous-ingestion primitive:
    * rows of `delta` whose content does NOT already exist in `base`,
    * deduplicated within the delta itself (lowest id wins, the
    * [[exactDedup]] contract). EXACT result (anti-join on the md5 content
    * hash), bloom-ACCELERATED: a sketch of the base's xxhash64 content
    * keys (distributed treeAggregate; only the sketch reaches the driver)
    * splits the delta row-locally into definitely-new rows — which skip
    * the anti-join's shuffle entirely (no false negatives possible) — and
    * might-match rows, of which only ~fpp of the truly-new ones pay the
    * exchange. At 100 TB the base is the corpus and the delta is a day's
    * ingest: the base-side distinct + sketch is the once-per-ingest cost,
    * and the delta-side shuffle is sized by matches, not by the delta. */
  def incrementalDedup(delta: DataFrame, base: DataFrame, textCol: String,
      idCol: String, fpp: Double = 0.03,
      maxSketchBytes: Long = 64L << 20): DataFrame = {
    val baseKeys = base.select(md5(col(textCol)).as("__h"),
        xxhash64(col(textCol)).as("__k"))
      .groupBy(col("__h")).agg(first(col("__k")).as("__k"))
    val expected = baseKeys.count().max(1L)
    val bloom = baseKeys.stat.bloomFilter("__k", expected, fpp)
    require(bloom.bitSize() / 8 <= maxSketchBytes,
      s"bloom sketch is ${bloom.bitSize() / 8} bytes (> $maxSketchBytes): " +
        "raise fpp or maxSketchBytes")
    val tagged = delta
      .withColumn("__h", md5(col(textCol)))
      .withColumn("__maybe", graft.expressions.BloomMightContainExpr
        .mightContain(xxhash64(col(textCol)), bloom))
    val definiteNew = tagged.where(!col("__maybe"))
    val maybeDup = tagged.where(col("__maybe"))
      .join(baseKeys.select(col("__h")), Seq("__h"), "left_anti")
    val rest = delta.columns.filter(_ != idCol).map(c => col("__keep." + c).as(c))
    definiteNew.unionByName(maybeDup)
      .groupBy(col("__h"))
      .agg(min_by(struct(delta.columns.toSeq.map(col): _*), col(idCol)).as("__keep"))
      .select(col("__keep." + idCol).as(idCol) +: rest.toSeq: _*)
  }

  /** Leakage-free train/eval split: assign every row a split side by
    * content hash — but near-duplicate CLUSTERS (the connected components
    * of `pairs`) land entirely on ONE side, keyed by the cluster
    * representative. A plain row-hash split leaks eval content into
    * training through near-duplicates (the benchmark-contamination
    * failure `Corpus.contamination` measures after the fact); this is the
    * preventive form. Singleton rows key by their own id — identical to
    * [[graft.ops.Sampling.hashSample]]'s md5 rule, so the whole
    * assignment is layout-independent and engine-reproducible.
    *
    * Plan: components over the (bounded) near-dup pair stream, a
    * row-level left join of the component map (near-dup clusters are a
    * small fraction of the corpus), one md5 per row — the corpus never
    * shuffles beyond the component join. */
  def clusterAwareSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, evalRate: Double = 0.2): DataFrame = {
    require(evalRate > 0.0 && evalRate < 1.0, s"evalRate must be in (0,1): $evalRate")
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val threshold = f"${(evalRate * 65536).round.min(65535L)}%04x"
    df.join(comps, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("split",
        when(substring(md5(col("split_key").cast("string")), 1, 4) <
          lit(threshold), "eval").otherwise("train"))
  }

  /** Best-of-cluster survivorship — the policy layer over near-dup
    * clustering: instead of `dedupByPairs`' min-id rule, each cluster
    * keeps its HIGHEST-QUALITY member (score desc, id asc tie-break —
    * round the score BEFORE calling so the ordering is engine-
    * reproducible). Singletons outside the pair graph are their own
    * cluster. One left join to the component labels plus one PARTITIONED
    * window; returns `df`'s columns + `(cluster, keep)`. */
  def bestOfCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val withCluster = df.join(comps, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol)))
      .drop("comp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    withCluster.withColumn("keep", row_number().over(w) === 1)
  }

  // -------------------------------------------------------------- minhash

  /** Distinct word n-gram shingles of a text column. */
  def shingles(c: Column, n: Int = 3): Column =
    graft.expressions.ShingleStringsExpr.shingleStrings(c, n)

  /** The pure-`functions` HOF formulation of [[shingles]] — kept as the
    * equivalence reference for the native expression (spec'd identical):
    * the interpreted lambda chain re-evaluates the token split per branch
    * and was the shared cost floor under every shingle-consuming corpus
    * pass. */
  private[graft] def shinglesHof(c: Column, n: Int = 3): Column = {
    val toks = TextOps.tokens(c)
    when(size(toks) < n, array_distinct(array(concat_ws(" ", toks))))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Deterministic (a, b) permutation constants for k MinHash functions. */
  private[graft] def perms(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(k)((rng.nextLong() | 1L, rng.nextLong()))
  }

  /** Native codegen'd signature over pre-hashed shingles — one O(n·k)
    * primitive-long pass ([[graft.expressions.MinHashSigExpr]]); identical
    * values to [[minHashSignatureFromHashes]] on non-empty inputs. */
  def minHashSignatureNative(hashesCol: Column, k: Int = 64, seed: Long = 42L): Column = {
    val ab = perms(k, seed)
    graft.expressions.MinHashSigExpr.minhashSig(
      hashesCol, ab.map(_._1).toArray, ab.map(_._2).toArray)
  }

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** MinHash signature (array<long>, length k) over an array of *hashed*
    * shingles. h_j(s) = ((a_j * h + b_j) wrapping) mod p — long wrap is
    * deterministic, which is all a hash family needs. Takes pre-hashed
    * shingles so the base xxhash64 pass runs ONCE, not once per permutation
    * (the hashes column must be a materialized attribute — see
    * [[minHashCandidates]]'s staged projections). */
  def minHashSignatureFromHashes(hashesCol: Column, k: Int = 64, seed: Long = 42L): Column = {
    val sig = perms(k, seed).map { case (a, b) =>
      array_min(transform(hashesCol, h => pmod(h * lit(a) + lit(b), lit(MersennePrime))))
    }
    array(sig: _*)
  }

  /** Convenience single-expression form (recomputes the base hash per
    * permutation — fine for ad-hoc use, avoid in corpus passes). */
  def minHashSignature(shinglesCol: Column, k: Int = 64, seed: Long = 42L): Column =
    minHashSignatureFromHashes(transform(shinglesCol, s => xxhash64(s)), k, seed)

  /** Hash each of `bands` signature slices to a bucket id. Docs sharing ANY
    * band bucket become candidate pairs (standard banding: P[candidate] =
    * 1-(1-j^r)^b for true Jaccard j, r = k/bands). Purely numeric:
    * xxhash64 over the band index + the slice's longs via element_at —
    * the earlier stringify-and-concat formulation walked an interpreted
    * lambda and built two strings per band per row, and was ~4 s of the
    * sf0.1 d2 pass on its own (equal slices hash equal either way; only
    * the bucket ids change, which nothing persists). */
  def bandHashes(sigCol: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    array((0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until r).map(j =>
        element_at(sigCol, b * r + j + 1))): _*)
    }: _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs with signature-estimated
    * Jaccard. Output: (id_a, id_b, est_jaccard), id_a < id_b.
    *
    * Plan shape: one projection computes signatures (no shuffle), one
    * explode×groupBy-style equi-join on (band, bucket) generates candidates
    * (shuffle on bucket — bounded by band collisions, never all-pairs), one
    * aggregate dedups pairs found in multiple bands.
    */
  def minHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 500,
      recoverCapped: Boolean = true): DataFrame = {
    // staged projections: the native shingle-hash expression tokenizes and
    // hashes each row's n-grams in one byte pass (no string shingle arrays),
    // then the native signature expression folds all k permutations in one
    // primitive pass (the HOF forms walked interpreted lambdas per shingle
    // per permutation and dominated the whole corpus pass)
    // MATERIALIZE the signature table before fanning out: the banding
    // projection references `sig` 64× (16 bands × 4 element_at) and the
    // self-join consumes the frame twice more — Catalyst's projection
    // collapse happily inlines the signature expression into every
    // reference, recomputing the full shingle+minhash pass per element_at
    // (measured: the sig expression appeared 134× in the d2 plan). One
    // eager localCheckpoint = one signature pass, every consumer reads the
    // materialized (id, sig) rows — at scale this is the standard
    // compute-once-join-twice signature table. Storage: the checkpointed
    // blocks live until the frame is unreachable and the context cleaner
    // runs; long-lived sessions that invoke this repeatedly should call
    // [[releaseCheckpoints]] on the consumed result to free them eagerly.
    val sigs = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleHashExpr.shingleHashes(col(textCol), shingleN).as("__hs"))
      .select(col("id"),
        minHashSignatureNative(col("__hs"), k, seed).as("sig"))
      .localCheckpoint()
    val bandedAll = sigs
      .select(col("id"), bandHashes(col("sig"), k, bands).as("bh"))
      .select(col("id"), col("bh"),
        posexplode(col("bh")).as(Seq("band", "bucket")))
      // mega-bucket guard: a band bucket holding B docs expands to B²/2
      // candidate pairs; buckets past the cap are low-signal hash pileups
      // (near-identical band over a huge cluster) and are dropped, the
      // standard LSH scale practice
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bucket"))))
      // materialize after the bucket-count window (the d3 rationale): the
      // frame feeds the capped collect + both self-join sides, and the
      // preserved (band, bucket) hashpartitioning is the self-join key
      .localCheckpoint()
    val banded = bandedAll.where(col("__bn") <= maxBucketSize).drop("__bn")
    // CAP RECOVERY: the owning-band rule below would drop a pair whose
    // first agreeing band was capped even when a LATER uncapped band still
    // holds both rows. The capped (band, bucket) set is pathological-
    // pileup-sized (telemetry scale, see minHashBucketReport), so it
    // collects to a bounded driver set and rides the owning filter as a
    // literal exclusion — the pair then emits from its first SURVIVING
    // agreeing band. Degrades to the strict rule (with a loud stderr note)
    // if the set ever exceeds the bound, instead of failing a 100 TB job.
    val cappedPerBand: Option[Seq[Seq[Long]]] =
      if (!recoverCapped) None
      else {
        val bound = 65536
        val rows = bandedAll.where(col("__bn") > maxBucketSize)
          .select(col("band"), col("bucket")).distinct()
          .limit(bound + 1).collect()
        if (rows.length > bound) {
          System.err.println(s"minHashCandidates: > $bound capped buckets — " +
            "recovery disabled, capped-owning pairs forfeit (raise the cap " +
            "or re-shingle; see minHashBucketReport)")
          None
        } else if (rows.isEmpty) Some(Nil) // common case: nothing capped
        else Some((0 until bands).map { bd =>
          rows.collect { case r if r.getInt(0) == bd => r.getLong(1) }.toSeq
        })
      }
    // candidate generation carries ids + the band-hash array; a pair
    // colliding in several bands is emitted exactly once, by its OWNING band
    // (the lowest index where the two band-hash arrays agree — the e7
    // contract, StreamingNearDup), band indices restricted to
    // SURVIVING buckets when the recovery set is available. The row-local
    // filter replaces a full candidate-pair distinct() shuffle.
    val a = banded.alias("a")
    val b = banded.alias("b")
    val owning: Column = cappedPerBand match {
      case Some(capped) if capped.nonEmpty =>
        // the skip-list rides as a BROADCAST of per-band sorted arrays and
        // each probe is a codegen binary search — O(log n) per row and a
        // handle-sized task binary, vs the literal-array array_contains
        // form whose per-row linear scan and ~0.5 MB plan literal grew
        // with the capped set (round-9 advisory)
        val bc = df.sparkSession.sparkContext.broadcast(
          capped.map(_.toArray.sorted).toArray)
        col("a.band") === element_at(
          filter(sequence(lit(0), lit(bands - 1)), i =>
            element_at(col("a.bh"), i + 1) === element_at(col("b.bh"), i + 1) &&
              !graft.expressions.CappedBucketContains.contains(bc, i,
                element_at(col("a.bh"), i + 1))), 1)
      case _ =>
        col("a.band") + 1 === array_position(
          zip_with(col("a.bh"), col("b.bh"), (x, y) => x === y), lit(true))
    }
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .where(owning)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.expressions.SigAgreement.sigAgreement(col("sig_a"), col("sig_b"))
          / lit(k.toDouble)).as("est_jaccard"))
  }

  /** Eagerly free the block-manager storage behind every `localCheckpoint`
    * in `df`'s plan (the signature tables of [[minHashCandidates]] /
    * [[simHashNearDups]], the labels of [[connectedComponents]]). Without
    * this, blocks linger until the JVM garbage-collects the frame and the
    * context cleaner notices — fine for short jobs, accumulation in a
    * long-lived session. Call ONLY after the result has been fully
    * materialized: local checkpoints have no lineage, so a released frame
    * cannot be recomputed and must not be executed again. */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Near-duplicate pairs above an estimated-Jaccard threshold. */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L): DataFrame =
    minHashCandidates(df, idCol, textCol, shingleN, k, bands, seed)
      .where(col("est_jaccard") >= threshold)

  /** Bucket-cap telemetry for [[minHashCandidates]]: ONE cheap aggregate
    * (signature pass + a (band, bucket) count — no join) reporting what the
    * mega-bucket cap discards at these parameters, so a production run can
    * SEE the recall trade instead of inferring it:
    *   buckets_total / buckets_capped, rows_in_capped_buckets,
    *   pairs_at_risk = Σ B·(B−1)/2 over capped buckets (an UPPER bound on
    *   forfeited candidate pairs — a pair in a capped bucket still emits if
    *   its owning band survives elsewhere), max_bucket_size.
    * Run it alongside (not inside) the candidate query; at scale it costs
    * one map-side-combined count shuffle over band keys. */
  def minHashBucketReport(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 500): DataFrame = {
    val buckets = df.select(
        graft.expressions.ShingleHashExpr.shingleHashes(col(textCol), shingleN).as("__hs"))
      .select(minHashSignatureNative(col("__hs"), k, seed).as("sig"))
      .select(posexplode(bandHashes(col("sig"), k, bands)).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("b"))
    capReport(buckets, maxBucketSize)
  }

  /** [[minHashBucketReport]] for the SimHash 16-bit-chunk buckets of
    * [[simHashNearDups]] — same columns, same cost shape. */
  def simHashBucketReport(df: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = 500): DataFrame = {
    val buckets = df.select(
        graft.expressions.SimHash64Expr.simhash64(col(textCol)).as("sig"))
      .select(posexplode(array(
        (0 until 4).map(i => expr(s"shiftright(sig, ${i * 16}) & 65535")): _*))
        .as(Seq("chunk", "chunk_val")))
      .groupBy(col("chunk"), col("chunk_val")).agg(count(lit(1)).as("b"))
    capReport(buckets, maxBucketSize)
  }

  private def capReport(buckets: DataFrame, cap: Int): DataFrame =
    buckets.agg(
      count(lit(1)).as("buckets_total"),
      sum(when(col("b") > cap, 1L).otherwise(0L)).as("buckets_capped"),
      sum(when(col("b") > cap, col("b")).otherwise(0L)).as("rows_in_capped_buckets"),
      // B·(B−1) is even, so the /2 is exact; cast back from the non-ANSI
      // double division to keep the counter integral
      sum(when(col("b") > cap, (col("b") * (col("b") - 1) / 2).cast("long"))
        .otherwise(0L)).as("pairs_at_risk"),
      max(col("b")).as("max_bucket_size"))

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 votes from each
    * token's xxhash64, sign → bit. Near-dups have small Hamming distance.
    * Pure SQL higher-order functions (column-typed shift amounts need the
    * SQL `shiftright`, which accepts expressions for both args). */
  def simHash64(textColName: String): Column = {
    // hash each token exactly ONCE, then fold ±1 votes over the 64 bit
    // positions with a single aggregate — O(tokens + 64·tokens) long ops,
    // no per-bit re-tokenization (the naive per-bit formulation re-ran the
    // regex split 64× per row and dominated the whole corpus pass)
    val hashes = s"transform(filter(split(trim(`$textColName`), '\\\\s+'), x -> x != ''), t -> xxhash64(t))"
    val votes =
      s"""aggregate($hashes,
            transform(sequence(0, 63), b -> 0L),
            (acc, h) -> zip_with(acc,
                          transform(sequence(0, 63), b ->
                            CASE WHEN (shiftright(h, CAST(b AS INT)) & 1) = 1 THEN 1L ELSE -1L END),
                          (a, d) -> a + d))"""
    val fold =
      s"""aggregate(zip_with($votes, transform(sequence(0, 63), b -> shiftleft(1L, CAST(b AS INT))),
                             (v, p) -> CASE WHEN v > 0 THEN p ELSE 0L END),
                    0L, (acc, x) -> acc + x)"""
    expr(fold)
  }

  /** SimHash near-duplicate candidates: docs sharing at least one of four
    * 16-bit chunks (pigeonhole: any pair within Hamming distance 3 shares a
    * chunk — larger `maxHamming` trades recall for the same candidate cost),
    * verified by exact Hamming distance ≤ `maxHamming`. Signatures come from
    * the native codegen'd [[graft.expressions.SimHash64Expr]]; the HOF
    * [[simHash64]] stays as the pure-`functions` formulation. */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 500,
      recoverCapped: Boolean = true): DataFrame = {
    // same materialization rationale as minHashCandidates: the chunk
    // projection + self-join reference `sig` ~10×, and each inlined
    // reference re-runs the full text pass
    val sigs = df.select(col(idCol).as("id"),
      graft.expressions.SimHash64Expr.simhash64(col(textCol)).as("sig"))
      .localCheckpoint()
    // MATERIALIZE after the bucket-count window: the frame is consumed
    // three times (the capped-bucket collect below + both self-join
    // sides), and without this each consumer re-runs the (chunk,
    // chunk_val) count shuffle (the r10→r8 d3 sf1 drift was exactly one
    // extra such pass). Bonus: the checkpointed rows keep the window's
    // hashpartitioning, which IS the self-join key — both exchanges
    // under the join collapse.
    val chunksAll = sigs
      .select(col("id"), col("sig"), posexplode(array(
        (0 until 4).map(i => expr(s"shiftright(sig, ${i * 16}) & 65535")): _*))
        .as(Seq("chunk", "chunk_val")))
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col("chunk"), col("chunk_val"))))
      .localCheckpoint()
    val chunks = chunksAll.where(col("__bn") <= maxBucketSize).drop("__bn")
    // CAP RECOVERY (same contract as minHashCandidates): the owning-chunk
    // rule below would drop a pair whose first agreeing chunk fell to the
    // bucket cap even when a LATER uncapped chunk still holds both rows.
    // Capped (chunk, chunk_val) buckets are pathological-pileup-sized, so
    // they collect to a bounded driver set and the owning rule skips them —
    // the pair then emits from its first SURVIVING agreeing chunk. Degrades
    // to the strict rule (loudly) past the bound instead of failing the job.
    val cappedPerChunk: Option[IndexedSeq[Seq[Long]]] =
      if (!recoverCapped) None
      else {
        val bound = 65536
        val rows = chunksAll.where(col("__bn") > maxBucketSize)
          .select(col("chunk"), col("chunk_val")).distinct()
          .limit(bound + 1).collect()
        if (rows.length > bound) {
          System.err.println(s"simHashNearDups: > $bound capped buckets — " +
            "recovery disabled, capped-owning pairs forfeit (raise the cap; " +
            "see simHashBucketReport)")
          None
        } else if (rows.isEmpty) Some(IndexedSeq.empty) // common: nothing capped
        else Some((0 until 4).map { c =>
          rows.collect { case r if r.getInt(0) == c => r.getLong(1) }.toSeq
        })
      }
    // owning-chunk single emission (same contract as minHashCandidates'
    // owning band): the signature is ONE long, so it rides along and the
    // first-agreeing-chunk index is recomputed row-locally from the two
    // sigs — no candidate distinct() shuffle, no signature-fetch joins.
    // With a non-empty capped set, "agreeing" additionally requires the
    // shared chunk value to sit in a SURVIVING bucket (chunk count is a
    // static 4, so the skip-list rides as four literal arrays).
    val a = chunks.alias("a"); val b = chunks.alias("b")
    def chunkEq(i: Int): Column =
      expr(s"(shiftright(a.sig, ${i * 16}) & 65535) = (shiftright(b.sig, ${i * 16}) & 65535)")
    val owning: Column = cappedPerChunk match {
      case Some(capped) if capped.nonEmpty =>
        // broadcast + codegen binary search, same rationale as the
        // minHashCandidates skip-list (round-9 advisory: the literal-array
        // probe scanned O(|capped|) per row and bloated the task binary)
        val bc = df.sparkSession.sparkContext.broadcast(
          capped.map(_.toArray.sorted).toArray)
        val ok = array((0 until 4).map { i =>
          val surviving =
            if (capped(i).isEmpty) lit(true)
            else !graft.expressions.CappedBucketContains.contains(bc, lit(i),
              expr(s"shiftright(a.sig, ${i * 16}) & 65535"))
          chunkEq(i) && surviving
        }: _*)
        col("a.chunk") + 1 === array_position(ok, lit(true))
      case _ =>
        col("a.chunk") + 1 === array_position(
          array((0 until 4).map(chunkEq): _*), lit(true))
    }
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") && col("a.id") < col("b.id"))
      .where(owning)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard for a bounded candidate window (|id_b - id_a| ≤
    * `window`). The bounded band keeps the join linear; unbounded exact
    * Jaccard at scale should go through [[minHashCandidates]] first and
    * verify only candidates. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Long = 25): DataFrame = {
    // shingle arrays are distinct; pre-sorting them once per row lets each
    // candidate pair use the zero-allocation sorted-merge intersection count
    // (array_intersect + array_union built two hash sets per pair and
    // dominated the whole join)
    val sh = df.select(col(idCol).as("id"),
      sort_array(shingles(col(textCol), n)).as("sh"))
    // banded equi-join: a naive (b.id BETWEEN a.id+1 AND a.id+w) predicate
    // plans as a nested-loop over |A|×|B| pairs; hashing both sides into
    // w-sized id blocks (left side exploded into its two reachable blocks)
    // turns it into a shuffle-hash join testing only ~2w partners per row
    val a = sh.select(col("id"), col("sh"),
      explode(array((col("id") / window).cast("long"),
        (col("id") / window).cast("long") + 1)).as("block")).alias("a")
    val b = sh.withColumn("block", (col("id") / window).cast("long")).alias("b")
    val inter = graft.expressions.SortedIntersectCount
      .sortedIntersectCount(col("a.sh"), col("b.sh"))
    a.join(b, col("a.block") === col("b.block") &&
        col("b.id") > col("a.id") && col("b.id") <= col("a.id") + window)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (inter.cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) - inter)).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the quotation/subset detector
    * [[ngramJaccardPairs]]' symmetric score misses: a short document
    * pasted inside a long one has low Jaccard (the union is large) but
    * containment `inter / min(|A|,|B|)` ≈ 1. Same banded equi-join and
    * sorted-merge intersection; the score rounds to 6 BEFORE the
    * threshold so the emitted set replays bit-for-bit relationally. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Long = 25, minContain: Double = 0.8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      sort_array(shingles(col(textCol), n)).as("sh"))
    val a = sh.select(col("id"), col("sh"),
      explode(array((col("id") / window).cast("long"),
        (col("id") / window).cast("long") + 1)).as("block")).alias("a")
    val b = sh.withColumn("block", (col("id") / window).cast("long")).alias("b")
    val inter = graft.expressions.SortedIntersectCount
      .sortedIntersectCount(col("a.sh"), col("b.sh"))
    a.join(b, col("a.block") === col("b.block") &&
        col("b.id") > col("a.id") && col("b.id") <= col("a.id") + window)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        inter.cast("long").as("inter"),
        size(col("a.sh")).cast("long").as("n_a"),
        size(col("b.sh")).cast("long").as("n_b"),
        round(inter.cast("double") /
          least(size(col("a.sh")), size(col("b.sh"))).cast("double"), 6)
          .as("containment"))
      .where(col("containment") >= minContain)
  }

  /** Sorted-neighborhood blocking — the classic entity-resolution
    * alternative to LSH ([[minHashNearDups]]): records sort by a
    * normalized key (here the lowercased whitespace-collapsed text
    * prefix), and only rank-adjacent records within `window` positions
    * become candidates. Catches prefix-sharing near-dups with ZERO
    * hashing and a tunable, tiny candidate budget (≤ window per record);
    * blind to near-dups whose edit is inside the key prefix — the
    * complementary failure mode to MinHash band misses, which is why ER
    * pipelines run both.
    *
    * Distributed honestly: ranks are per-BLOCK (`blockLen`-char key
    * prefix — a partitioned window, nothing global; the multi-pass
    * sorted-neighborhood literature blocks exactly this way), and the
    * rank-adjacency join uses the [[ngramJaccardPairs]] sub-banding trick
    * (left side exploded into its two reachable rank blocks → shuffle
    * hash join, ~2·window partners per row, never |block|²). Candidates
    * verify with the exact sorted-merge shingle Jaccard, rounded to 6
    * BEFORE the threshold (the d17 replay rule). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      keyLen: Int = 24, blockLen: Int = 2, window: Int = 3, n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    require(blockLen >= 1 && keyLen > blockLen, s"bad key/block: $keyLen/$blockLen")
    require(window >= 1, s"window must be >=1, got $window")
    import org.apache.spark.sql.expressions.Window
    // key normalization keeps printable ASCII only BEFORE lowercasing:
    // binary string order then agrees across engines/collations, and
    // lower() has no locale-dependent non-ASCII cases to disagree on
    val norm = regexp_replace(
      lower(trim(regexp_replace(col(textCol), "[^ -~]", ""))), "\\s+", " ")
    val keyed = df.select(col(idCol).as("id"),
        sort_array(shingles(col(textCol), n)).as("sh"),
        substring(norm, 1, keyLen).as("skey"))
      .withColumn("block", substring(col("skey"), 1, blockLen))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("skey").asc, col("id").asc)
    val ranked = keyed.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("id"), col("block"), col("rnk"), col("sh"))
    val a = ranked.select(col("id"), col("block"), col("rnk"), col("sh"),
      explode(array((col("rnk") / window).cast("long"),
        (col("rnk") / window).cast("long") + 1)).as("rblk")).alias("a")
    val b = ranked.withColumn("rblk", (col("rnk") / window).cast("long")).alias("b")
    val inter = graft.expressions.SortedIntersectCount
      .sortedIntersectCount(col("a.sh"), col("b.sh"))
    a.join(b, col("a.block") === col("b.block") &&
        col("a.rblk") === col("b.rblk") &&
        col("b.rnk") > col("a.rnk") && col("b.rnk") <= col("a.rnk") + window)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        (col("b.rnk") - col("a.rnk")).as("rank_dist"),
        round(inter.cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) - inter).cast("double"), 6)
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------- cross-engine md5 twins

  /** Cross-engine-verifiable twin of the MinHash near-dup family: ONE md5
    * digest per word `n`-gram shingle, sliced into `k` 4-hex-char (16-bit)
    * pieces; signature slot `j` is the minimum of slice `j` over the
    * document's shingles ("one permutation, k pieces" MinHashing — the
    * slices of a single strong digest act as k independent 16-bit hash
    * functions). md5 is md5 everywhere and hex strings compare byte-wise in
    * every engine, so — unlike the xxhash64 fast path ([[minHashNearDups]])
    * — the whole pipeline is replayable in ANSI SQL for oracle verification.
    *
    * Plan: explode shingles → ONE md5 per shingle → one hash-partitioned
    * groupBy(id) with k map-side-combining min aggregates (never k passes),
    * then the same banded block self-join as [[ngramJaccardPairs]] (linear
    * in corpus size, ~2·window partners per row). Output `agree` is the
    * INTEGER count of matching slots (agree/k estimates Jaccard) — integer
    * output hash-compares exactly across engines. */
  def minHashMd5Pairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, n: Int = 3, window: Long = 25, minAgree: Int = 4): DataFrame = {
    require(k >= 1 && k <= 8, s"k 4-hex slices must fit one md5 digest, got $k")
    val ex = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
      .select(col("id"), md5(col("s")).as("h"))
    val mins = (0 until k).map(j => min(col("h").substr(j * 4 + 1, 4)).as(s"m$j"))
    // both banded-join sides read the signature frame: pin it so the
    // shingle explode + per-shingle md5 (the corpus-sized work) runs once
    // per call, not once per side (guide §2.4). Doc-level, k short slices
    // per row — the storage class every d-family pin already uses.
    val sigs = ex.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .localCheckpoint()
    val a = sigs.select(col("*"),
      explode(array((col("id") / window).cast("long"),
        (col("id") / window).cast("long") + 1)).as("block")).alias("a")
    val b = sigs.withColumn("block", (col("id") / window).cast("long")).alias("b")
    val agree = (0 until k).map(j =>
      when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0)).reduce(_ + _)
    a.join(b, col("a.block") === col("b.block") &&
        col("b.id") > col("a.id") && col("b.id") <= col("a.id") + window)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), agree.as("agree"))
      .where(col("agree") >= minAgree)
  }

  /** Edit-distance VERIFICATION of LSH candidates — the two-stage shape a
    * near-dup pipeline actually ships: cheap signature blocking proposes,
    * a bounded exact distance disposes. Candidates come from
    * [[minHashMd5Pairs]] (so the whole chain replays relationally);
    * each candidate pair re-joins its texts and keeps only pairs with
    * `levenshtein ≤ maxDist`, emitting the exact distance.
    *
    * Scale shape: the expensive O(len²) distance runs ONLY on candidate
    * pairs (linear in corpus size by the banded-join bound, ~2·window
    * partners max per row), never all pairs; Spark's THRESHOLDED
    * `levenshtein(l, r, t)` caps the DP band at `2t+1` diagonals, so a
    * far-apart candidate costs O(t·len), not O(len²). The text re-joins
    * are id equi-joins driven by the (sparse) candidate side. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, n: Int = 3, window: Long = 25, minAgree: Int = 4,
      maxDist: Int = 64): DataFrame = {
    val cands = minHashMd5Pairs(df, idCol, textCol, k, n, window, minAgree)
    val txt = df.select(col(idCol).as("__tid"), col(textCol).as("__t"))
    cands
      .join(txt.select(col("__tid").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(txt.select(col("__tid").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("dist") >= 0)   // thresholded form returns -1 past maxDist
      .select(col("id_a"), col("id_b"), col("agree"), col("dist"))
  }

  /** Cross-engine-verifiable twin of [[simHash64]]: per-token 32-bit hash
    * from the first 8 hex chars of md5, each bit voting ±1, fingerprint bit
    * set where the vote sum is non-negative. Token multiplicity counts
    * (classic term-frequency SimHash weighting).
    *
    * Plan: two hash-partitioned aggregations over an exploded (id, bit)
    * frame — all built-ins, whole-stage codegen, no 64×tokens expression
    * tree. ~tokens×32 intermediate rows; at corpus scale the same shape
    * map-side combines on (id, bit) before shuffling. */
  def simHashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("id"),
        conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("h"))
    toks
      .select(col("id"), col("h"), explode(sequence(lit(0), lit(31))).as("bit"))
      .select(col("id"), col("bit"),
        when(expr("shiftright(h, bit) % 2") === 1, 1).otherwise(-1).as("v"))
      .groupBy(col("id"), col("bit")).agg(sum(col("v")).as("s"))
      .groupBy(col("id"))
      .agg(sum(when(col("s") >= 0, expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        .otherwise(0L)).as("simhash_md5"))
  }

  // --------------------------------------------- pair closure / survivors

  /** Connected components over a near-dup pair list. Returns (id, comp)
    * with comp = the component's minimum node id; only nodes appearing in
    * `edges` are returned (left-join and coalesce for singleton semantics).
    *
    * Adaptive execution: the pair list of a deduplication run is a sliver
    * of the corpus (bounded by the candidate generator's banding), so up to
    * `driverMaxEdges` edges (~a few hundred MB) the closure runs as a
    * driver-side union-find — O(E·α) and free of per-round scheduling cost.
    * Beyond that it runs the alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond", 2014),
    * which contracts the graph toward per-component min-rooted stars and
    * converges in O(log n) rounds even on high-diameter graphs (a path of
    * length d needs ~log d rounds, where label propagation needs d). Each
    * round is two grouped min-aggregations + two joins, all keyed on node
    * id. Hitting `maxIter` without the star fixpoint THROWS rather than
    * returning silently-wrong labels.
    *
    * The edge list materializes into cache ONCE up front — candidate
    * generators (LSH banding, MinHash) are expensive lineages that must not
    * re-derive per round or per union branch. The returned frame is
    * eagerly `localCheckpoint`ed on the distributed path, so no loop cache
    * leaks to the caller. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, driverMaxEdges: Long = 5000000L): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .cache()
    val edgeCount = e.count()
    try {
      if (edgeCount <= driverMaxEdges) ccUnionFind(e)
      else ccAlternating(e, maxIter)._1
    } finally e.unpersist(blocking = false)
  }

  /** Driver union-find path: exact same (id, comp=min id) contract. */
  private def ccUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val pairs = e.collect().map(r => (r.get(0), r.get(1)))
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[Comparable[Any]]) < 0
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot.get(r) match {
        case Some(m) => if (lt(n, m)) minOfRoot(r) = n
        case None => minOfRoot(r) = n
      }
    }
    val dt = e.schema.fields(0).dataType
    val rows = parent.keys.toSeq.map(n =>
      org.apache.spark.sql.Row(n, minOfRoot(find(n))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("comp", dt))))
  }

  /** Distributed large-star/small-star path (see [[connectedComponents]]).
    *
    * Invariants per Kiveris et al. 2014: large-star(u) links every
    * strictly-larger neighbor of u to min(Γ(u) ∪ u); small-star(u) links
    * every parent of u (all < u after large-star) and u itself to the
    * smallest parent. Both preserve connectivity; alternating them reaches
    * the unique fixpoint — one star per component, centered at its minimum
    * node — in O(log n) rounds. Fixpoint test: the (distinct, canonical
    * child>parent) edge set of a round equals the previous round's, checked
    * with one anti-join each way (both sets are cached and tiny by then).
    *
    * Returns (labels, rounds); labels is eagerly localCheckpoint-ed so all
    * loop caches are released before returning. */
  private[dedup] def ccAlternating(e: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // canonical directed edges child > parent (ids are any orderable type).
    // Each round's edge set is EAGERLY localCheckpoint-ed: a cache alone
    // keeps the full logical plan, which grows ~8× per round (sym/mins/
    // large/next each re-reference the previous round several times) and
    // OOMs plan stringification after ~10 rounds; checkpointing resets the
    // plan to a leaf. Superseded checkpoints are freed by the context
    // cleaner once unreferenced.
    var cur = e.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("c"), least(col("a"), col("b")).as("p"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .distinct().cache()
    var iter = 0
    var converged = cur.isEmpty // no edges → already a (trivial) star forest
    while (!converged && iter < maxIter) {
      iter += 1
      // large-star over the symmetric view: m(u) = min(Γ(u) ∪ u); emit
      // (v, m(u)) for neighbors v > u
      val sym = cur.select(col("c").as("u"), col("p").as("v"))
        .union(cur.select(col("p").as("u"), col("c").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("c"), col("m").as("p"))
        .where(col("c") =!= col("p")).distinct()
      // small-star over parent pointers: per child c, m = min parents;
      // re-link every other parent and c itself to m
      val pmin = large.groupBy(col("c")).agg(min(col("p")).as("m"))
      val relinked = large.join(pmin, Seq("c"))
        .where(col("p") =!= col("m"))
        .select(col("p").as("c"), col("m").as("p"))
      val next = pmin.select(col("c"), col("m").as("p"))
        .union(relinked).where(col("c") =!= col("p")).distinct()
        .localCheckpoint(true)
      // fixpoint: edge sets equal (both distinct & materialized → two
      // anti-joins over checkpointed leaves)
      converged =
        next.join(cur, Seq("c", "p"), "left_anti").isEmpty &&
        cur.join(next, Seq("c", "p"), "left_anti").isEmpty
      cur = next
    }
    if (!converged) {
      nodes.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connected components did not reach the star fixpoint in $maxIter rounds; " +
          "raise maxIter (rounds needed ≈ log2 of the largest component diameter)")
    }
    // star forest: every non-root has exactly one parent (its component
    // min); roots and isolated nodes label themselves
    val labels = nodes.join(cur.select(col("c").as("id"), col("p")), Seq("id"), "left")
      .select(col("id"), coalesce(col("p"), col("id")).as("comp"))
      .localCheckpoint(true)
    nodes.unpersist(blocking = false)
    (labels, iter)
  }

  /** Near-dup dedup closure: keep ONE representative (the minimum id) per
    * connected component of `pairs`, plus every row that pairs with nothing.
    * Composes with any pair generator here ([[minHashNearDups]],
    * [[simHashNearDups]], [[ngramJaccardPairs]]) or with
    * `Embeddings.lshNearDupPairs` for embedding-cosine near-dup dedup. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, idA, idB)
      .where(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
