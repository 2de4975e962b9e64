package graft
package queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Embeddings
import graft.text.TextOps

import Oracle.{Fitted, RowsOnly, Sql}
import Shared._

/** d-family: exact and near-duplicate detection, record linkage and
  * duplicate-graph statistics. */
object DedupQueries extends Family("d") {

  /** d20's EM-fitted FS parameters — the r37 exported-artifact oracle
    * contract: p/m/u interpolate as Double.toString literals, the replay
    * rebuilds the identical candidate chain, pattern frame, and literal
    * weight/posterior trees (no in-engine transcendentals). */
  @volatile private var d20FsFit: Option[graft.dedup.Linkage.FsFit] = None

  val queries: Seq[Query] = Seq(
    // ---- corpus: span-level exact dedup (C4 line-dedup for a corpus with
    // no line structure — duplicated 8-token spans stripped everywhere) ----
    Query("d10_span_dedup", (s, dir) => {
      graft.text.Corpus.spanDedup(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          span = 8, minDocs = 2)
        .orderBy(col("doc_id"))
    },
      // d10: span-level exact dedup — same aligned 8-token units, same
      // ≥2-distinct-docs boilerplate rule, survivors reassembled in order
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         u0 AS (SELECT doc_id, w,
                  unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS pos
                FROM toks),
         u AS (SELECT doc_id, pos,
                 array_to_string(list_slice(w, CAST(pos*8+1 AS INT),
                   CAST(pos*8+8 AS INT)), ' ') AS unit
               FROM u0),
         d AS (SELECT unit FROM u GROUP BY unit HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT u.* FROM u ANTI JOIN d USING (unit)),
         k AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
                t.n_units, t.n_units - coalesce(k.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN k USING (doc_id) ORDER BY doc_id""")),

    // ---- corpus: C4-style line-level exact dedup. The synthetic corpus has
    // no newlines, so each doc is wrapped in a shared export header + a
    // per-lang footer: the header dedups out of every doc, the footer out of
    // every same-lang doc, and the body survives unless the raw text itself
    // is an exact duplicate (the d1 dup pairs) ----------------------------
    Query("d11_line_dedup", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), concat_ws("\n",
          lit("generated corpus export v1"),
          col("text"),
          concat(lit("language: "), col("lang"))).as("text"))
      graft.text.Corpus.lineDedup(docs, "doc_id", "text", sep = "\n", minDocs = 2)
        .orderBy(col("doc_id"))
    },
      // d11: line-level exact dedup over the header/body/footer wrapping —
      // same ≥2-distinct-docs rule as d10, units are chr(10)-split lines
      Sql("""WITH aug AS (SELECT doc_id,
             'generated corpus export v1' || chr(10) || text || chr(10) ||
               'language: ' || lang AS text
           FROM documents),
         u0 AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug),
         u1 AS (SELECT doc_id, lines, unnest(range(0, len(lines))) AS pos FROM u0),
         u AS (SELECT doc_id, pos, lines[CAST(pos+1 AS INT)] AS unit FROM u1),
         d AS (SELECT unit FROM u GROUP BY unit HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT u.* FROM u ANTI JOIN d USING (unit)),
         k AS (SELECT doc_id, string_agg(unit, chr(10) ORDER BY pos) AS clean_text,
                 count(*) AS n_kept FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
                t.n_units, t.n_units - coalesce(k.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN k USING (doc_id) ORDER BY doc_id""")),

    // ---- dedup: exact hash-groupBy --------------------------------------
    Query("d1_dedup_exact", (s, dir) => {
      Dedup.exactDupGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("content_hash"))
    },
      Sql("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- dedup: MinHash + LSH banding (rows-only: engine-specific hash) -
    Query("d2_minhash_neardup", (s, dir) => {
      Dedup.minHashNearDups(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      RowsOnly),

    // ---- dedup: SimHash Hamming-distance (rows-only) --------------------
    Query("d3_simhash_neardup", (s, dir) => {
      Dedup.simHashNearDups(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
      RowsOnly),

    // ---- dedup: exact n-gram Jaccard on a bounded window ----------------
    Query("d4_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          n = 3, window = 25)
        .where(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      Sql("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 3 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
           FROM toks)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5
         ORDER BY id_a, id_b""")),

    // ---- dedup: asymmetric n-gram containment (d17) — the quotation /
    // subset detector Jaccard misses: inter / min(|A|,|B|), same banded
    // join, score rounds before the threshold. ---------------------------
    Query("d17_containment", (s, dir) => {
      Dedup.ngramContainmentPairs(Tables.spread(t(s, dir, "documents")),
          "doc_id", "text", n = 3, window = 25, minContain = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // d17: the d4 shingle frames, containment = inter / min(|A|,|B|),
      // rounded before the threshold on both sides
      Sql("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 3 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
           FROM toks),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
                  CAST(len(a.s) AS BIGINT) AS n_a,
                  CAST(len(b.s) AS BIGINT) AS n_b
           FROM sh a JOIN sh b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
         SELECT id_a, id_b, inter, n_a, n_b,
                round(CAST(inter AS DOUBLE)
                      / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment
         FROM p
         WHERE round(CAST(inter AS DOUBLE)
                     / CAST(least(n_a, n_b) AS DOUBLE), 6) >= 0.5
         ORDER BY id_a, id_b""")),

    // ---- dedup: best-of-cluster survivorship (d18) — each near-dup
    // cluster keeps its highest-QUALITY member (t2's score, rounded
    // before ranking), not the min id; singletons keep themselves. -------
    Query("d18_best_of_cluster", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val scored = TextOps.withQualityScore(docs, "text", "q")
        .withColumn("quality", round(col("q"), 6))
        .select(col("doc_id"), col("quality"))
      val pairs = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      Dedup.bestOfCluster(scored, "doc_id", pairs, "id_a", "id_b", "quality")
        .orderBy(col("doc_id"))
    },
      // d18: the d14 component CTEs + the t2 quality formula (rounded
      // before ranking) + the per-cluster argmax window
      Sql("""WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         qbase AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk,
             length(text) AS lc
           FROM documents),
         qparts AS (
           SELECT doc_id,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(tk, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(tk) END AS sr,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(tk) END AS mtl
           FROM qbase),
         q AS (SELECT doc_id,
                 round(least(ntok / 20.0, 1.0) * 0.4 +
                   greatest(1.0 - pr * 4, 0.0) * 0.3 +
                   least(sr * 5, 1.0) * 0.2 +
                   (CASE WHEN mtl >= 2 AND mtl <= 12
                         THEN 1.0 ELSE 0.5 END) * 0.1, 6) AS quality
               FROM qparts),
         cl AS (SELECT q.doc_id, q.quality,
                  coalesce(c.comp, q.doc_id) AS cluster
                FROM q LEFT JOIN comps c ON c.id = q.doc_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY cluster
                 ORDER BY quality DESC, doc_id) AS rn FROM cl)
         SELECT doc_id, quality, cluster, (rn = 1) AS keep
         FROM r ORDER BY doc_id""")),

    // ---- dedup: embedding-cosine near-dup CLOSURE — LSH pairs → connected
    // components → one component id per vector (planted dups as in n2; the
    // oracle brute-forces exact pairs and closes them with a recursive CTE) --
    Query("d7_embedding_dedup", (s, dir) => {
      // base feeds both union branches; allv feeds the LSH pipeline AND
      // the final left join — pin both so the scan+spread and the planted
      // transform run once each (guide §2.4)
      val base = Tables.spread(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint()
      val planted = base.select(
          (col("vec_id") + lit(1000000L)).as("pid"),
          transform(col("embedding"), (x, i) =>
            x + (((col("vec_id") * 31 + i.cast("long") * 7) % 17) - 8) / lit(800.0))
            .as("pemb"))
        .select(col("pid").as("vec_id"), col("pemb").as("embedding"))
      val allv = base.unionAll(planted).localCheckpoint()
      val pairs = Embeddings.lshNearDupPairs(allv, "vec_id", "embedding",
        minCosine = 0.9, nBits = 12, dim = 64, tables = 8)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      allv.select(col("vec_id"))
        .join(comps.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp_id"))
        .orderBy(col("vec_id"))
    },
      // d7: exact ground-truth pairs (same construction as n2), closed into
      // components with a recursive min-reachability CTE — each node's comp is
      // the min id it can reach, i.e. connected components by min label
      Sql("""WITH RECURSIVE base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         planted AS (
           SELECT vec_id + 1000000 AS pid,
                  list_transform(range(0, 64), i ->
                    emb[CAST(i + 1 AS INT)] + (((vec_id * 31 + i * 7) % 17) - 8) / 800.0) AS emb
           FROM base),
         allv AS (
           SELECT vec_id, emb FROM base
           UNION ALL SELECT pid AS vec_id, emb FROM planted),
         unit AS (
           SELECT vec_id,
                  list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS u
           FROM allv WHERE list_dot_product(emb, emb) > 0),
         sym AS (
           SELECT a.vec_id AS src, b.vec_id AS dst
           FROM unit a JOIN unit b ON b.vec_id != a.vec_id
           WHERE list_dot_product(a.u, b.u) >= 0.9),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         SELECT v.vec_id, coalesce(c.comp, v.vec_id) AS comp_id
         FROM allv v LEFT JOIN comps c ON c.id = v.vec_id
         ORDER BY vec_id""")),

    // ---- dedup: MinHash md5 twin — the cross-engine-verifiable variant of
    // d2 (one md5 per shingle sliced into 8 16-bit minima; integer slot
    // agreement), hash-matched against a full SQL replay -------------------
    Query("d8_minhash_md5", (s, dir) => {
      Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4)
        .orderBy(col("id_a"), col("id_b"))
    },
      // d8: full SQL replay of the md5-sliced MinHash pipeline — same word
      // 3-gram shingles, same one-digest-8-slices signature, same banded pair
      // window; integer slot-agreement compares exactly across engines
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id)
         SELECT * FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                  (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                  (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
           FROM sig a JOIN sig b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
         WHERE agree >= 4 ORDER BY id_a, id_b""")),

    // ---- dedup: Fellegi–Sunter probabilistic record linkage (d20) —
    // the PROBABILISTIC verify stage: the d8 md5-LSH candidate stream at
    // minAgree=1 (true near-dups + chance collisions = a real mixture),
    // five field comparators, ONE groupBy to the ≤2^5-row agreement-
    // pattern frame, EM driver-side on the bounded cells (r37 doctrine),
    // per-pattern weight/posterior as literal trees (no in-engine ln). --
    Query("d20_record_linkage", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val cand = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 1)
      val meta = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), substring(col("text"), 1, 16).as("pfx"))
      val pairs = cand
        .join(meta.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
          col("source").as("src_a"), col("n_chars").as("nc_a"),
          col("pfx").as("pfx_a")), "id_a")
        .join(meta.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
          col("source").as("src_b"), col("n_chars").as("nc_b"),
          col("pfx").as("pfx_b")), "id_b")
      val comparators = Seq(
        "g_sig" -> (col("agree") >= 4),
        "g_lang" -> (col("lang_a") === col("lang_b")),
        "g_src" -> (col("src_a") === col("src_b")),
        "g_len" -> (abs(col("nc_a") - col("nc_b")) * 10 <=
          greatest(col("nc_a"), col("nc_b"))),
        "g_pfx" -> (col("pfx_a") === col("pfx_b")))
      // the ≤2^5-row pattern frame feeds the EM collect AND the score
      // output — pin it so the minhash+meta-join pipeline runs once
      val pat = graft.dedup.Linkage.agreementPatternDF(pairs, comparators)
        .localCheckpoint()
      val fit = graft.dedup.Linkage.emFit(pat, comparators.map(_._1))
      d20FsFit = Some(fit)
      graft.dedup.Linkage.scoreDF(pat, comparators.map(_._1), fit)
    },
      Fitted(() => d20FsFit.map { fit =>
        val fields = Seq("g_sig", "g_lang", "g_src", "g_len", "g_pfx")
        val weight = fields.zipWithIndex.map { case (f, i) =>
          s"(CASE WHEN $f = 1 THEN ${math.log(fit.m(i) / fit.u(i))} " +
            s"ELSE ${math.log((1.0 - fit.m(i)) / (1.0 - fit.u(i)))} END)"
        }.mkString(" + ")
        val pm = fields.zipWithIndex.foldLeft(fit.p.toString) { case (acc, (f, i)) =>
          s"($acc * CASE WHEN $f = 1 THEN ${fit.m(i)} ELSE ${1.0 - fit.m(i)} END)"
        }
        val pu = fields.zipWithIndex.foldLeft((1.0 - fit.p).toString) { case (acc, (f, i)) =>
          s"($acc * CASE WHEN $f = 1 THEN ${fit.u(i)} ELSE ${1.0 - fit.u(i)} END)"
        }
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         cand AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 1),
         pr AS (SELECT c.agree,
                  da.lang AS lang_a, db.lang AS lang_b,
                  da.source AS src_a, db.source AS src_b,
                  da.n_chars AS nc_a, db.n_chars AS nc_b,
                  substr(da.text, 1, 16) AS pfx_a,
                  substr(db.text, 1, 16) AS pfx_b
                FROM cand c
                JOIN documents da ON c.id_a = da.doc_id
                JOIN documents db ON c.id_b = db.doc_id),
         g AS (SELECT
                 CAST(CASE WHEN agree >= 4 THEN 1 ELSE 0 END AS BIGINT) AS g_sig,
                 CAST(CASE WHEN lang_a = lang_b THEN 1 ELSE 0 END AS BIGINT) AS g_lang,
                 CAST(CASE WHEN src_a = src_b THEN 1 ELSE 0 END AS BIGINT) AS g_src,
                 CAST(CASE WHEN abs(nc_a - nc_b) * 10 <= greatest(nc_a, nc_b)
                      THEN 1 ELSE 0 END AS BIGINT) AS g_len,
                 CAST(CASE WHEN pfx_a = pfx_b THEN 1 ELSE 0 END AS BIGINT) AS g_pfx
               FROM pr),
         pat AS (SELECT g_sig, g_lang, g_src, g_len, g_pfx,
                   CAST(count(*) AS BIGINT) AS n
                 FROM g GROUP BY 1, 2, 3, 4, 5)
         SELECT g_sig, g_lang, g_src, g_len, g_pfx, n,
                round($weight, 6) AS weight,
                round($pm / ($pm + $pu), 6) AS posterior,
                CASE WHEN $pm / ($pm + $pu) >= 0.9 THEN 'match'
                     WHEN $pm / ($pm + $pu) >= 0.1 THEN 'possible'
                     ELSE 'non_match' END AS decision
         FROM pat ORDER BY g_sig, g_lang, g_src, g_len, g_pfx"""
      })),

    // ---- dedup: edit-distance VERIFICATION of the d8 LSH candidates —
    // the propose/dispose two-stage a near-dup pipeline actually ships.
    // Spark's thresholded levenshtein caps the DP band (O(t·len), not
    // O(len²)) and runs only on candidate pairs; the whole chain (md5
    // MinHash → banded join → bounded exact distance) replays in SQL. ----
    Query("d12_edit_verify", (s, dir) => {
      Dedup.editVerifiedPairs(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4, maxDist = 64)
        .orderBy(col("id_a"), col("id_b"))
    },
      // d12: the d8 candidate chain verbatim, then the exact edit-distance
      // verification stage — texts re-joined by id, levenshtein ≤ 64 kept
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4)
         SELECT p.id_a, p.id_b, p.agree,
                CAST(levenshtein(ta.text, tb.text) AS INT) AS dist
         FROM pairs p
           JOIN documents ta ON ta.doc_id = p.id_a
           JOIN documents tb ON tb.doc_id = p.id_b
         WHERE levenshtein(ta.text, tb.text) <= 64
         ORDER BY id_a, id_b""")),

    // ---- dedup: incremental cross-corpus dedup (d13) — a delta batch
    // deduped against the existing base corpus: bloom-prefiltered EXACT
    // anti-join on the content hash (definitely-new rows skip the shuffle
    // entirely), then first-id-wins within the delta. Cross-corpus and
    // within-delta duplicates are PLANTED from the corpus itself so the
    // whole chain replays relationally. -----------------------------------
    Query("d13_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = docs.where(col("doc_id") < 400)
      val fresh = docs.where(col("doc_id") >= 400)
      val crossCopies = base.where(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      val deltaCopies = fresh.where(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 20000L)
      val delta = fresh.unionByName(crossCopies).unionByName(deltaCopies)
      Dedup.incrementalDedup(delta, base, "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // d13: the same planted delta, md5 anti-join vs base, first-id-wins
      // within delta via QUALIFY (the bloom prefilter is exact-invisible)
      Sql("""WITH docs AS (
           SELECT doc_id, text, lang, source, n_chars FROM documents),
         base AS (SELECT * FROM docs WHERE doc_id < 400),
         fresh AS (SELECT * FROM docs WHERE doc_id >= 400),
         delta AS (
           SELECT * FROM fresh
           UNION ALL
           SELECT doc_id + 10000, text, lang, source, n_chars
           FROM base WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 20000, text, lang, source, n_chars
           FROM fresh WHERE doc_id % 17 = 0),
         nodup AS (
           SELECT d.* FROM delta d
           ANTI JOIN base b ON md5(d.text) = md5(b.text))
         SELECT doc_id, lang, source, n_chars FROM nodup
         QUALIFY row_number() OVER (PARTITION BY md5(text)
           ORDER BY doc_id) = 1
         ORDER BY doc_id""")),

    // ---- dedup: leakage-free train/eval split (d14) — near-dup clusters
    // (components of the d8 md5-MinHash pairs) land entirely on one side,
    // keyed by the cluster representative through the s3 md5 hash rule;
    // the preventive form of the t9 contamination check. ------------------
    Query("d14_leakage_split", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val pairs = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      Dedup.clusterAwareSplit(docs.select(col("doc_id"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b", evalRate = 0.2)
        .select(col("doc_id"), col("n_chars"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    },
      // d14: the d8 candidate chain, the d7 recursive-CTE components, and
      // the s3 md5-prefix split rule on the component representative
      Sql("""WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach(id, comp) AS (
           SELECT src, src FROM sym
           UNION
           SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, d.n_chars,
                coalesce(c.comp, d.doc_id) AS split_key,
                CASE WHEN substr(md5(CAST(coalesce(c.comp, d.doc_id)
                                          AS VARCHAR)), 1, 4) < '3333'
                     THEN 'eval' ELSE 'train' END AS split
         FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
         ORDER BY doc_id""")),

    // ---- dedup: near-dup graph structure census (d15) — per-node degree,
    // triangle count, clustering coefficient over the d8 pair graph:
    // clique-like clusters (high cc) are true dup groups, chain-shaped
    // bridges (low cc) are what connectedComponents would over-glue. -----
    Query("d15_graph_stats", (s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.triangleStats(pairs, "id_a", "id_b")
    },
      // d15: the d8 pair chain, then canonical a<b<c triangle listing,
      // corner explode, and the 2t/(d(d−1)) coefficient
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM sym GROUP BY a),
         tris AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         corner AS (
           SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
             SELECT x AS id FROM tris
             UNION ALL SELECT y FROM tris
             UNION ALL SELECT z FROM tris)
           GROUP BY id)
         SELECT d.id, d.degree, coalesce(c.triangles, 0) AS triangles,
                CASE WHEN d.degree >= 2
                     THEN round(2.0 * CAST(coalesce(c.triangles, 0) AS DOUBLE)
                                / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
                     ELSE 0.0 END AS clustering
         FROM deg d LEFT JOIN corner c ON c.id = d.id
         ORDER BY d.id""")),

    // ---- dedup: integer PageRank over the near-dup graph (d16) — hub
    // census / canonical-representative ranking; every step LONG floor
    // arithmetic so 3 power iterations replay bit-exactly as chained
    // CTEs. ---------------------------------------------------------------
    Query("d16_pagerank", (s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.pageRank(pairs, "id_a", "id_b", iters = 3)
    },
      // d16: the d15 md5-MinHash chain, then 3 integer power iterations as
      // chained CTEs — LONG floor arithmetic is order-independent, so the
      // replay is bit-exact
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         deg AS (SELECT src AS nid, CAST(count(*) AS BIGINT) AS deg
                 FROM sym GROUP BY src),
         sd AS (SELECT s.src, s.dst, d.deg FROM sym s
                JOIN deg d ON d.nid = s.src),
         r0 AS (SELECT nid AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         c1 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r0 ON r0.id = sd.src GROUP BY dst),
         r1 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c1),
         c2 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r1 ON r1.id = sd.src GROUP BY dst),
         r2 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c2),
         c3 AS (SELECT dst AS id, CAST(sum(r // deg) AS BIGINT) AS cs
                FROM sd JOIN r2 ON r2.id = sd.src GROUP BY dst),
         r3 AS (SELECT id, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r
                FROM c3)
         SELECT d.nid AS id, d.deg, r3.r AS rank_micro,
                CAST(r3.r AS DOUBLE) / 1000000.0 AS rank
         FROM deg d JOIN r3 ON r3.id = d.nid
         ORDER BY id""")),

    // ---- dedup: LSH threshold calibration sweep (d22) — candidate count
    // and edit-verified precision at every agreement cutoff (the tuning
    // table behind "why minAgree=4"): one candidate pass at minAgree=1,
    // one bounded verify, reverse cumulative chain over the ≤8-row agree
    // frame. ---------------------------------------------------------------
    Query("d22_lsh_threshold_sweep", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(t(s, dir, "documents"))
      val cand = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 1)
      val txt = docs.select(col("doc_id"), col("text"))
      val verified = cand
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
        .withColumn("ok", levenshtein(col("__ta"), col("__tb"), 64) >= 0)
      val runW = Window.partitionBy().orderBy(col("agree").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      verified.groupBy(col("agree"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("ok").cast("long")).as("n_true"))
        .withColumn("n_ge", sum(col("n_pairs")).over(runW))
        .withColumn("v_ge", sum(col("n_true")).over(runW))
        .select(col("agree").cast("long").as("agree"), col("n_pairs"),
          col("n_true"), col("n_ge"), col("v_ge"),
          round(col("v_ge").cast("double") / col("n_ge").cast("double"), 6)
            .as("precision_ge"))
        .orderBy(col("agree"))
    },
      // d22: the d12 chain at minAgree=1, grouped by agree, the reverse
      // cumulative chain and one division per cutoff
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         pairs AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 1),
         v AS (
           SELECT p.agree,
                  (levenshtein(ta.text, tb.text) <= 64) AS ok
           FROM pairs p
             JOIN documents ta ON ta.doc_id = p.id_a
             JOIN documents tb ON tb.doc_id = p.id_b),
         g AS (
           SELECT CAST(agree AS BIGINT) AS agree,
                  CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_true
           FROM v GROUP BY 1),
         c AS (
           SELECT agree, n_pairs, n_true,
                  CAST(sum(n_pairs) OVER w AS BIGINT) AS n_ge,
                  CAST(sum(n_true) OVER w AS BIGINT) AS v_ge
           FROM g
           WINDOW w AS (ORDER BY agree DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT agree, n_pairs, n_true, n_ge, v_ge,
                round(CAST(v_ge AS DOUBLE) / CAST(n_ge AS DOUBLE), 6)
                  AS precision_ge
         FROM c ORDER BY agree""")),

    // ---- dedup: normalization-robust near-dup (d23) — the d8 MinHash
    // chain over STOPWORD-STRIPPED text (token filter, both engines),
    // with a flag for whether raw-text dedup already caught the pair:
    // false rows are the recall the normalization buys. -------------------
    Query("d23_normalized_dedup", (s, dir) => {
      // docs feeds the normalized AND the raw minhash pipelines — pin so
      // the scan + spread shuffle of full text runs once (guide §2.4)
      val docs = Tables.spread(t(s, dir, "documents")).localCheckpoint()
      val norm = docs.select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          tk => !tk.isin("a", "the")), " ").as("text"))
      val pairsN = Dedup.minHashMd5Pairs(norm, "doc_id", "text",
        k = 8, n = 3, window = 25, minAgree = 4)
      val pairsR = Dedup.minHashMd5Pairs(docs, "doc_id", "text",
          k = 8, n = 3, window = 25, minAgree = 4)
        .select(col("id_a"), col("id_b"), lit(true).as("found_raw"))
      pairsN.join(pairsR, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("agree"),
          coalesce(col("found_raw"), lit(false)).as("found_raw"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // d23: the d8 chain twice — once over list_filter-stripped tokens,
      // once raw — left-joined on the pair key
      Sql("""WITH nd AS (
           SELECT doc_id,
                  array_to_string(list_filter(string_split(text, ' '),
                    tk -> tk NOT IN ('a', 'the')), ' ') AS text
           FROM documents),
         tn AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
         shn AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM tn),
         exn0 AS (SELECT doc_id, unnest(s) AS sg FROM shn),
         exn AS (SELECT doc_id, md5(sg) AS h FROM exn0),
         sgn AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM exn GROUP BY doc_id),
         pn AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sgn a JOIN sgn b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         tr AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         shr AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM tr),
         exr0 AS (SELECT doc_id, unnest(s) AS sg FROM shr),
         exr AS (SELECT doc_id, md5(sg) AS h FROM exr0),
         sgr AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM exr GROUP BY doc_id),
         pr AS (SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sgr a JOIN sgr b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4)
         SELECT pn.id_a, pn.id_b, pn.agree,
                (pr.id_a IS NOT NULL) AS found_raw
         FROM pn LEFT JOIN pr ON pr.id_a = pn.id_a AND pr.id_b = pn.id_b
         ORDER BY pn.id_a, pn.id_b""")),

    // ---- dedup: per-edge neighborhood Jaccard over the near-dup graph
    // (d21) — the bridge detector: Jaccard-0 edges chain unrelated
    // clusters, high-Jaccard edges sit inside true dup cliques. ----------
    Query("d21_node_jaccard", (s, dir) => {
      val pairs = Dedup.minHashMd5Pairs(Tables.spread(t(s, dir, "documents")),
        "doc_id", "text", k = 8, n = 3, window = 25, minAgree = 4)
      graft.ops.Graph.edgeJaccard(pairs, "id_a", "id_b")
    },
      // d21: the d15 chain through e, then wedge-join common neighbors and
      // the single Jaccard division per edge
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS s
                FROM toks),
         exs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         ex AS (SELECT doc_id, md5(sg) AS h FROM exs),
         sig AS (SELECT doc_id,
                   min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
                   min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
                   min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
                   min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
                 FROM ex GROUP BY doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                    (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                    (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree
             FROM sig a JOIN sig b
               ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
           WHERE agree >= 4),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM sym GROUP BY a),
         cmn AS (
           SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS common
           FROM e
           JOIN sym n1 ON n1.a = e.a
           JOIN sym n2 ON n2.a = e.b AND n2.b = n1.b
           GROUP BY e.a, e.b)
         SELECT e.a, e.b, da.degree AS deg_a, db.degree AS deg_b,
                coalesce(c.common, 0) AS common,
                CASE WHEN (da.degree - 1) + (db.degree - 1)
                            - coalesce(c.common, 0) > 0
                     THEN round(CAST(coalesce(c.common, 0) AS DOUBLE)
                                / CAST((da.degree - 1) + (db.degree - 1)
                                       - coalesce(c.common, 0) AS DOUBLE), 6)
                END AS jaccard
         FROM e
         JOIN deg da ON da.id = e.a
         JOIN deg db ON db.id = e.b
         LEFT JOIN cmn c ON c.a = e.a AND c.b = e.b
         ORDER BY e.a, e.b""")),

    // ---- dedup: SimHash md5 twin — cross-engine-verifiable variant of d3's
    // fingerprint (per-token md5 bits vote ±1), hash-matched ---------------
    Query("d9_simhash_md5", (s, dir) => {
      Dedup.simHashMd5(Tables.spread(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("id"))
    },
      // d9: full SQL replay of md5 SimHash — 32-bit per-token hash from the
      // first 8 md5 hex chars, bits vote ±1 with term multiplicity
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM toks),
         bits AS (SELECT doc_id, b.bit AS bit,
                    CASE WHEN (h >> b.bit) % 2 = 1 THEN 1 ELSE -1 END AS v
                  FROM h, (SELECT unnest(range(0, 32)) AS bit) b),
         s AS (SELECT doc_id, bit, sum(v) AS s FROM bits GROUP BY doc_id, bit)
         SELECT doc_id AS id,
                CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END)
                     AS BIGINT) AS simhash_md5
         FROM s GROUP BY doc_id ORDER BY id""")),

    // ---- §2.7 date functions --------------------------------------------
    Query("d5_datefuncs", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).as("days_since"))
        .orderBy(col("o_orderkey"))
    },
      Sql("""SELECT o_orderkey,
                year(o_orderdate) AS y, month(o_orderdate) AS m,
                day(o_orderdate) AS d,
                date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days_since
         FROM orders ORDER BY o_orderkey""")),

    // ---- dedup: corpus-level boilerplate n-gram detection ---------------
    // Two passes so 5-gram STRINGS never cross a shuffle (r2's single
    // groupBy(ngram) shuffled raw strings — 21.6 s, the most expensive
    // query): pass 1 counts docs per 8-byte shingle hash (native one-pass
    // ShingleHashExpr, no string materialization, map-side combine); pass 2
    // re-expands strings and broadcast-joins the tiny ≥3-doc survivor set —
    // a 5-token ngram re-hashed via the same expression yields its original
    // combined hash, so the join key is exact.
    Query("d6_boilerplate_ngrams", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val survivors = docs
        .select(explode(graft.expressions.ShingleHashExpr
          .shingleHashes(col("text"), 5)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 3)
      docs.select(explode(Dedup.shingles(col("text"), 5)).as("ngram"))
        .select(col("ngram"), element_at(graft.expressions.ShingleHashExpr
          .shingleHashes(col("ngram"), 5), 1).as("h"))
        .join(broadcast(survivors), "h")
        .select(col("ngram"), col("n_docs")).distinct()
        .orderBy(col("n_docs").desc, col("ngram"))
    },
      Sql("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tk) < 5 THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(generate_series(1, len(tk) - 4),
                              i -> array_to_string(tk[i:i+4], ' '))) END AS s
           FROM toks),
         ng AS (SELECT unnest(s) AS ngram FROM sh)
         SELECT ngram, count(*) AS n_docs FROM ng GROUP BY 1
         HAVING count(*) >= 3 ORDER BY n_docs DESC, ngram""")),

    // ---- dedup: sorted-neighborhood blocking (d19) — the hash-free ER
    // candidate generator: rank-adjacency within key-prefix blocks, the
    // d4 sub-banded join, exact shingle-Jaccard verify. ------------------
    Query("d19_sorted_neighborhood", (s, dir) => {
      Dedup.sortedNeighborhoodPairs(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text",
        keyLen = 24, blockLen = 2, window = 3, n = 3, minJaccard = 0.5)
    },
      // d19: identical ASCII-normalized key, per-block ranks, rank-adjacency
      // join, and the d4 shingle Jaccard (rounded before the threshold)
      Sql("""WITH keyed AS (
           SELECT doc_id AS id,
                  substr(regexp_replace(lower(trim(regexp_replace(text,
                    '[^ -~]', '', 'g'))), '\s+', ' ', 'g'), 1, 24) AS skey,
                  list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '') AS tk
           FROM documents),
         sh AS (SELECT id, skey, substr(skey, 1, 2) AS block,
                  CASE WHEN len(tk) < 3
                       THEN list_distinct([array_to_string(tk, ' ')])
                       ELSE list_distinct(list_transform(
                              generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))) END AS s
                FROM keyed),
         rk AS (SELECT id, block, s,
                  CAST(row_number() OVER (PARTITION BY block
                    ORDER BY skey, id) AS BIGINT) AS rnk
                FROM sh),
         cand AS (
           SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
                  b.rnk - a.rnk AS rank_dist,
                  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / CAST(len(a.s) + len(b.s)
                           - len(list_intersect(a.s, b.s)) AS DOUBLE), 6)
                    AS jaccard
           FROM rk a JOIN rk b ON a.block = b.block
             AND b.rnk > a.rnk AND b.rnk <= a.rnk + 3)
         SELECT id_a, id_b, rank_dist, jaccard
         FROM cand WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))
  )
}
