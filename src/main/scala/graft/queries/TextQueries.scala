package graft
package queries

import org.apache.spark.sql.functions._

import graft.text.TextOps

import Oracle.{Fitted, Sql}
import Shared._

/** t-family: text analysis, tokenization and corpus quality filters. */
object TextQueries extends Family("t") {

  /** The BPE merge rules t17 trained in this process — same runtime-oracle
    * contract as n3's in [[VectorQueries]]: the oracle replays the ENCODE stage
    * (seed → chained replace-all → token counts) against the exported
    * merges; merges are `[a-z]+` only, so inlining them into SQL string
    * literals needs no escaping. */
  @volatile private var t17TrainedMerges: Option[Seq[(String, String)]] = None

  val queries: Seq[Query] = Seq(
    // ---- text analysis: stopword-vote language ID -----------------------
    Query("t1_langid", (s, dir) => {
      TextOps.withLangId(Tables.spread(t(s, dir, "documents")), "text", "lang_pred")
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    },
      Sql("""WITH scored AS (
           SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
                  text FROM documents),
         s2 AS (
           SELECT text,
             len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','que','pour','dans','des'], t))) AS s_fr,
             len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','que','por','con','para'], t))) AS s_es
           FROM scored),
         lp AS (
           SELECT CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
                       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
                       ELSE 'unknown' END AS lang_pred
           FROM s2)
         SELECT lang_pred, count(*) AS n FROM lp GROUP BY 1 ORDER BY 1""")),

    // ---- text analysis: heuristic quality score -------------------------
    Query("t2_quality_score", (s, dir) => {
      TextOps.withQualityScore(Tables.spread(t(s, dir, "documents")), "text", "quality")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    },
      Sql("""WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base)
         SELECT doc_id,
           least(ntok / 20.0, 1.0) * 0.4 +
           greatest(1.0 - pr * 4, 0.0) * 0.3 +
           least(sr * 5, 1.0) * 0.2 +
           (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
         FROM parts ORDER BY doc_id""")),

    // ---- text analysis: Flesch reading-ease census (t19) — integer
    // regex-run counts (words / sentence runs / vowel-group syllables),
    // one fixed double tree per doc; row-local, nothing shuffles. --------
    Query("t19_readability", (s, dir) => {
      TextOps.withReadability(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"), col("flesch"))
        .orderBy(col("doc_id"))
    },
      // t19: t3's tokenization + regex run counts, the identical fixed tree
      Sql("""WITH c AS (
           SELECT doc_id,
                  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '')) AS BIGINT) AS words,
                  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
                  CAST(greatest(len(regexp_extract_all(lower(text),
                      '[aeiouy]+')),
                    len(list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x != ''))) AS BIGINT) AS syllables
           FROM documents)
         SELECT doc_id, words, sentences, syllables,
                CASE WHEN words > 0
                     THEN round(206.835
                       - 1.015 * (CAST(words AS DOUBLE)
                                  / CAST(sentences AS DOUBLE))
                       - 84.6 * (CAST(syllables AS DOUBLE)
                                 / CAST(words AS DOUBLE)), 3)
                END AS flesch
         FROM c ORDER BY doc_id""")),

    // ---- text analysis: token / char counting ---------------------------
    Query("t3_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))
    },
      Sql("""SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS n_tokens,
           length(text) AS len_chars
         FROM documents ORDER BY doc_id""")),

    // ---- text analysis: document fingerprint. The md5 twin carries the
    // DuckDB oracle (md5 is md5 everywhere); the xxhash64 fast path and
    // simhash are spec-tested (TextOpsSpec/ExpressionSpec) and exercised by
    // d3's bench query ----------------------------------------------------
    Query("t4_fingerprint", (s, dir) => {
      Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextOps.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    },
      // md5 hex digests and their lexicographic min are engine-independent;
      // shingle extraction is code-point based in both engines
      Sql("""SELECT doc_id,
                CASE WHEN length(text) < 16 THEN md5(text)
                     ELSE list_min(list_transform(
                            generate_series(1, length(text) - 15),
                            i -> md5(substring(text, i, 16)))) END AS fp_md5
         FROM documents ORDER BY doc_id""")),

    // ---- corpus: concat-then-chunk packing provenance map ----------------
    // ---- end-to-end extension pipeline capstone -------------------------
    // quality gate → exact dedup survivors → deterministic content-hash
    // sample → per-language corpus stats: each stage is an operator whose
    // oracle is already proven (t2 / d1 / s3 / t3), composed, and the WHOLE
    // chain hash-verifies as one SQL WITH-chain — the composability check
    // the per-operator queries can't give.
    Query("t14_pipeline_e2e", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val scored = graft.text.TextOps.withQualityScore(docs, "text", "quality")
        .where(col("quality") >= 0.5)
        .select(col("doc_id"), col("text"), col("lang"), col("quality"))
      val deduped = graft.dedup.Dedup.exactDedup(scored, "text", "doc_id")
      val sampled = graft.ops.Sampling.hashSample(deduped, col("doc_id"), rate = 0.5)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.text.TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          round(avg(col("quality")), 6).as("avg_quality"))
        .orderBy(col("lang"))
    },
      // the e2e chain reuses the PROVEN per-stage replays: t2's quality
      // formula, d1's min-id-per-md5 dedup, s3's 4-nibble hash threshold
      // (0.5 → '8000'), t3's tokenization; avg rounds at 6 like t11
      Sql("""WITH base AS (
           SELECT doc_id, text, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT doc_id, text, lang, toks,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base),
         q AS (
           SELECT doc_id, text, lang, toks,
             least(ntok / 20.0, 1.0) * 0.4 +
             greatest(1.0 - pr * 4, 0.0) * 0.3 +
             least(sr * 5, 1.0) * 0.2 +
             (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
           FROM parts),
         gated AS (SELECT * FROM q WHERE quality >= 0.5),
         deduped AS (
           SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text)
             ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
         sampled AS (
           SELECT * FROM deduped
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
         SELECT lang, count(*) AS n_docs,
                CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                round(avg(quality), 6) AS avg_quality
         FROM sampled GROUP BY 1 ORDER BY 1""")),

    // ---- tokenizer vocab + id encoding ----------------------------------
    // top-256 corpus vocabulary (freq desc, token asc ties), ids = ranks,
    // every token position encoded (OOV = -1). The vocab is bounded by
    // construction -> driver collect + literal-map lookup is the scale
    // design; the corpus explode never shuffles.
    Query("t13_vocab_encode", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val vocab = graft.text.Vocab.buildVocab(docs, "text", topN = 256)
      graft.text.Vocab.encodeTokens(docs, "doc_id", "text",
          vocab.map(v => (v._1, v._2)).toMap)
        .orderBy(col("doc_id"), col("pos"))
    },
      // vocab = top-256 by (count desc, token asc); both engines derive ids
      // as that rank - 1 and left-join positions (OOV coalesces to -1)
      Sql("""WITH toks AS (
           SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tk[u.i] AS tok
           FROM (SELECT doc_id,
                        list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
                 FROM documents),
                UNNEST(range(1, len(tk) + 1)) AS u(i)),
         vocab AS (
           SELECT tok, CAST(row_number() OVER (ORDER BY count(*) DESC, tok) - 1 AS BIGINT) AS tid
           FROM toks GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 256)
         SELECT t.doc_id, t.pos, CAST(coalesce(v.tid, -1) AS BIGINT) AS token_id
         FROM toks t LEFT JOIN vocab v USING (tok)
         ORDER BY doc_id, pos""")),

    // ---- BPE tokenizer training (canonical Sennrich merges) + corpus
    // encoding: ONE corpus-sized word-frequency job, driver merge loop on
    // the capped dict (bounded protocol), then k chained codegen replace
    // calls over DISTINCT words. The trained merges export as literals and
    // the oracle replays seed→merge-chain→token-count relationally — the
    // two-space delimiter format makes replace-all EXACTLY the BPE
    // leftmost-greedy merge in both engines. --------------------------------
    Query("t17_bpe_encode", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      val wf = graft.text.Bpe.wordFrequencies(docs, "text")
      val merges = graft.text.Bpe.train(wf, numMerges = 48, dictSize = 2048)
      t17TrainedMerges = Some(merges)
      graft.text.Bpe.encodeCounts(wf, merges).orderBy(col("token"))
    },
      Fitted(() => t17TrainedMerges.map { merges =>
        val seedSql = """' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' '"""
        val chain = merges.foldLeft(seedSql) { case (acc, (a, b)) =>
          s"replace($acc, ' $a  $b ', ' ${a + b} ')"
        }
        s"""WITH toks AS (
           SELECT t.tok AS w
           FROM documents,
                unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS t(tok)
           WHERE regexp_full_match(t.tok, '[a-z]+') AND length(t.tok) <= 20),
         wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
         enc AS (SELECT freq, $chain AS s FROM wf),
         tok2 AS (
           SELECT freq, u.tk AS token
           FROM enc, unnest(string_split(trim(s), '  ')) AS u(tk))
         SELECT token, CAST(sum(freq) AS BIGINT) AS n
         FROM tok2 GROUP BY token ORDER BY token"""
      })),

    // ---- chunk materialization: overlapping sliding token windows -------
    Query("t12_chunk_explode", (s, dir) => {
      graft.text.Corpus.chunkExplode(Tables.spread(t(s, dir, "documents")),
          "doc_id", "text", size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
      // sliding windows: starts 0, stride, ..., smallest stride multiple
      // reaching n-size (≥0), chunk ordinal = start/stride (exact integer
      // division of multiples), text = the joined token slice re-tokenized
      // for the count exactly as the Spark side does
      Sql("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
           FROM documents),
         sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
         chunks AS (
           SELECT doc_id,
                  CAST(t.s AS BIGINT) // 48 AS chunk_id,
                  array_to_string(list_slice(tk, t.s + 1, t.s + 64), ' ') AS chunk_text
           FROM sized,
                UNNEST(range(0, greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT) * 48, 0) + 1, 48)) AS t(s))
         SELECT doc_id, chunk_id, chunk_text,
                CAST(len(list_filter(string_split_regex(trim(chunk_text), '\s+'),
                  x -> x != '')) AS BIGINT) AS n_tokens
         FROM chunks ORDER BY doc_id, chunk_id""")),

    Query("t8_chunk_map", (s, dir) => {
      graft.text.Corpus.chunkMap(t(s, dir, "documents"), "doc_id", "text",
          budget = 512)
        .orderBy(col("doc_id"))
    },
      // t8: cumulative token offsets + integer chunk spans — exact integer
      // window arithmetic on both engines
      Sql("""WITH n AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         o AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS BIGINT) AS start_offset
               FROM n)
         SELECT doc_id, n_tokens, start_offset,
                CAST(start_offset // 512 AS BIGINT) AS start_chunk,
                CAST(greatest(start_offset + n_tokens - 1, start_offset) // 512
                  AS BIGINT) AS end_chunk
         FROM o ORDER BY doc_id""")),

    // ---- corpus: benchmark decontamination — 5-gram overlap vs an eval
    // slice, eval side broadcast so the corpus scan never shuffles ---------
    Query("t9_contamination", (s, dir) => {
      val docs = Tables.spread(t(s, dir, "documents"))
      graft.text.Corpus.contamination(
          docs.where(col("doc_id") >= 20), "doc_id",
          docs.where(col("doc_id") < 20), "doc_id", "text",
          n = 5, minShared = 2)
        .orderBy(col("train_id"), col("eval_id"))
    },
      // t9: same distinct word-5-gram shingle sets as the Spark side, exact
      // string-equality join, integer shared counts
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN list_distinct([array_to_string(w, ' ')])
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                              w[i+3] || ' ' || w[i+4])) END AS s
                FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS sg FROM sh)
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                CAST(count(*) AS BIGINT) AS shared_shingles
         FROM (SELECT * FROM ex WHERE doc_id >= 20) t
         JOIN (SELECT * FROM ex WHERE doc_id < 20) e ON t.sg = e.sg
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY train_id, eval_id""")),

    // ---- corpus: bigram-LM self-perplexity quality signal (the KenLM-
    // filter recipe as exact counts; every probability SQL-replayable) -----
    Query("t10_ngram_lm", (s, dir) => {
      graft.text.LanguageModel.scoreBigram(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text", k = 0.5)
        .orderBy(col("doc_id"))
    },
      // t10: add-k bigram LM — every probability is a ratio of exact integer
      // counts (plus exact dyadic k terms), so only ln/exp touch libm; the
      // 6-decimal round absorbs any last-ulp drift
      Sql("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         bg0 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
         bg AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i+1 AS INT)] AS bigram,
                       w[CAST(i AS INT)] AS w1 FROM bg0),
         cb AS (SELECT bigram, count(*) AS c_bigram FROM bg GROUP BY 1),
         cc AS (SELECT w1, count(*) AS c_context FROM bg GROUP BY 1),
         v AS (SELECT count(*) AS v FROM cb),
         sc AS (SELECT bg.doc_id, ln((c_bigram + 0.5) / (c_context + 0.5 * v)) AS lp
                FROM bg JOIN cb USING (bigram) JOIN cc USING (w1) CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(sum(lp) / count(*), 6) AS avg_logprob,
                round(exp(-sum(lp) / count(*)), 6) AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- corpus: one-pass health dashboard (counts/tokens/quality/dup
    // rate per CUBE cell of source × lang) ---------------------------------
    Query("t11_corpus_report", (s, dir) => {
      graft.text.Corpus.healthReport(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          dims = Seq("source", "lang"))
        .orderBy(col("gid"), col("source"), col("lang"))
    },
      // t11 composes three already-hash-matched replays: t2's quality
      // expression, d1's md5 duplicate groups, and q8's CUBE+GROUPING shape.
      // Integer metrics are exact; the two divisions round at 6 decimals on
      // both sides. sum over BIGINT CASTs back from DuckDB HUGEINT.
      Sql("""WITH base AS (
           SELECT doc_id, text, source, lang, md5(text) AS h,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
             length(text) AS lc
           FROM documents),
         parts AS (
           SELECT source, lang, h,
             CAST(len(toks) AS BIGINT) AS ntok_i,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN lc = 0 THEN 0.0
                  ELSE CAST(lc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / lc END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be'], t))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(toks) END AS mtl
           FROM base),
         q AS (
           SELECT source, lang, h, ntok_i,
             least(ntok / 20.0, 1.0) * 0.4 +
             greatest(1.0 - pr * 4, 0.0) * 0.3 +
             least(sr * 5, 1.0) * 0.2 +
             (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
           FROM parts),
         dups AS (
           SELECT h, CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS dup
           FROM base GROUP BY 1)
         SELECT source, lang, count(*) AS n_docs,
           CAST(sum(ntok_i) AS BIGINT) AS n_tokens,
           round(avg(quality), 6) AS avg_quality,
           round(CAST(sum(dup) AS DOUBLE) / count(*), 6) AS dup_rate,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid
         FROM q JOIN dups USING (h)
         GROUP BY CUBE (source, lang)
         ORDER BY gid, source, lang""")),

    // ---- text analysis: URL/domain extraction + per-domain stats (t16) —
    // the C4-style link census. documents carry no natural URLs, so
    // deterministic synthetic links are appended per row on BOTH sides (the
    // t5 PII pattern); the regex chain + domain normalization is what's
    // under test. regexp_extract_all is native in both engines. ----------
    Query("t16_domain_stats", (s, dir) => {
      val augmented = t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" see https://site"), col("doc_id") % 7,
          lit(".example.com/p/"), col("doc_id"),
          lit(" and http://mirror"), col("doc_id") % 3,
          lit(".example.org/x")).as("text"))
      augmented
        .select(col("doc_id"), explode(expr(
          """regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1)"""))
          .as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    },
      // t16: both engines run their native regexp_extract_all with group 1
      Sql("""WITH aug AS (
           SELECT doc_id,
                  text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                       || ' and http://mirror' || CAST(doc_id % 3 AS VARCHAR)
                       || '.example.org/x' AS text
           FROM documents),
         links AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))
                    AS domain
           FROM aug)
         SELECT domain, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
         FROM links GROUP BY 1 ORDER BY 1""")),

    // ---- text: TF-IDF top terms per document (t18) — the keyword-
    // extraction census: one explode→tf aggregate, broadcast df/N stats,
    // a partitioned top-k window; score rounds before ranking so the
    // order is engine-reproducible. --------------------------------------
    Query("t18_tfidf", (s, dir) => {
      graft.text.Search.tfIdfTopTerms(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text", topK = 3)
    },
      // t18: the identical tf/df/N frames and the same rounded-score
      // ranking; score rounds BEFORE the window on both sides
      Sql("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t != '') AS w
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         tok AS (SELECT doc_id, unnest(w) AS term FROM toks),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM tok GROUP BY 1, 2),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
                 FROM tfc GROUP BY 1),
         corpus AS (SELECT count(*) AS n_docs FROM toks),
         s AS (SELECT doc_id, term, tf, df_t,
                 round(CAST(tf AS DOUBLE)
                   * (ln((CAST(n_docs AS DOUBLE) + 1.0)
                        / (CAST(df_t AS DOUBLE) + 1.0)) + 1.0), 6) AS score
               FROM tfc JOIN dfc USING (term) CROSS JOIN corpus),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS "rank" FROM s)
         SELECT doc_id, term, tf, df_t, score, CAST("rank" AS BIGINT) AS "rank"
         FROM r WHERE "rank" <= 3 ORDER BY doc_id, "rank"""")),

    // ---- text hygiene: Unicode NFC normalization (native expression) ----
    // synthetic combining-accent suffix appended on BOTH sides — the
    // normalizer is what's under test (corpus text is ASCII)
    Query("t7_nfc", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.NfcNormalizeExpr.nfc(
            concat(col("text"), lit(" café"))).as("normalized"))
        .orderBy(col("doc_id"))
    },
      Sql("""SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769)) AS normalized
         FROM documents ORDER BY doc_id""")),

    // ---- text analysis: PII redaction -----------------------------------
    // documents carry no natural PII, so deterministic synthetic PII is
    // appended per row on BOTH sides — the regex chain is what's under test
    Query("t5_pii_redact", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
          (col("doc_id") % 200).cast("string"), lit(".7 ssn 123-45-6789 tel +1 555 867 5309")).as("raw"))
        .select(col("doc_id"), TextOps.redactPii(col("raw")).as("redacted"))
        .orderBy(col("doc_id"))
    },
      Sql("""SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
                     CAST(doc_id % 200 AS VARCHAR) || '.7 ssn 123-45-6789 tel +1 555 867 5309',
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""")),

    // ---- text analysis: repetition / diversity metrics ------------------
    Query("t6_repetition", (s, dir) => {
      val toks = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_ratio"),
          round(col("top_count").cast("double") / col("n_tokens"), 6).as("top_token_ratio"))
        .orderBy(col("doc_id"))
    },
      Sql("""WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS tok
           FROM documents),
         pertok AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio,
                round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_ratio
         FROM pertok GROUP BY doc_id ORDER BY doc_id""")),

    // ---- §2.7 string-function parity suite ------------------------------
    // the scalar string surface beyond what the medical cleaning stages
    // exercise: case mapping, translate, padding, reverse, edit distance,
    // substring, multi-arg concat — all deterministic, all hash-verified
    Query("t15_string_funcs", (s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          translate(col("c_name"), "#0", "_x").as("tr"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("lp"),
          reverse(col("c_name")).as("rev"),
          levenshtein(col("c_name"), lit("Customer#000000001")).as("lev"),
          substring(col("c_name"), 10, 5).as("sub5"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("cw"))
        .orderBy(col("c_custkey"))
    },
      Sql("""SELECT c_custkey,
           upper(c_name) AS u,
           translate(c_name, '#0', '_x') AS tr,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS lp,
           reverse(c_name) AS rev,
           levenshtein(c_name, 'Customer#000000001') AS lev,
           substring(c_name, 10, 5) AS sub5,
           concat_ws('|', c_mktsegment, c_name) AS cw
         FROM customer ORDER BY c_custkey""")),

    // ---- text: feature hashing (t20) — stateless fixed-width signed
    // token features (no vocabulary pass); md5-char bucket/sign so the
    // featurizer replays cross-engine (the d8/d9 doctrine). --------------
    Query("t20_hashing_trick", (s, dir) => {
      graft.text.Vocab.hashedFeatures(
        Tables.spread(t(s, dir, "documents")), "doc_id", "text", dim = 64)
    },
      // t20: the identical md5-char bucket/sign featurizer
      Sql("""WITH tk AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), t -> t != '')) AS t
           FROM documents),
         f AS (SELECT doc_id, md5(t) AS h FROM tk),
         g AS (SELECT doc_id,
                 CAST((unicode(substr(h, 1, 1)) * 31
                       + unicode(substr(h, 2, 1))) % 64 AS BIGINT) AS bucket,
                 CASE WHEN unicode(substr(h, 3, 1)) % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
               FROM f)
         SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v,
                CAST(count(*) AS BIGINT) AS n_tokens
         FROM g GROUP BY 1, 2 ORDER BY doc_id, bucket""")),

    // ---- text: language-ID confusion census (t21) — t1's classifier
    // against the corpus truth column, per-cell recall one division. -----
    Query("t21_langid_confusion", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = TextOps.withLangId(
        Tables.spread(t(s, dir, "documents")), "text", "lang_pred")
      d.where(col("lang").isNotNull)
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .withColumn("recall_cell", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"), 6))
        .orderBy(col("lang"), col("lang_pred"))
    },
      // t21: the t1 classifier CTEs with the truth column carried through
      Sql("""WITH scored AS (
           SELECT lang,
                  list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x != '') AS toks,
                  text
           FROM documents WHERE lang IS NOT NULL),
         s2 AS (
           SELECT lang, text,
             len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','que','pour','dans','des'], t))) AS s_fr,
             len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','que','por','con','para'], t))) AS s_es
           FROM scored),
         lp AS (
           SELECT lang,
                  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
                       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
                       ELSE 'unknown' END AS lang_pred
           FROM s2),
         cf AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                FROM lp GROUP BY 1, 2)
         SELECT lang, lang_pred, n,
                round(CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
                         AS DOUBLE), 6) AS recall_cell
         FROM cf ORDER BY lang, lang_pred""")),

    // ---- text: per-doc lexical diversity census (t25) — type-token
    // ratio + Shannon entropy of each doc's token distribution; low
    // entropy flags repetitive docs the length filters miss. Ordered
    // m·ln m chain per doc (the t24 doctrine), nothing global. ----------
    Query("t25_token_entropy", (s, dir) =>
      graft.text.Corpus.tokenEntropyDF(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("doc_id")),
      // t25: per-(doc, token) multiplicities, the ordered m·ln m chain,
      // H = ln n − Σ/n
      Sql("""WITH tok AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x != '')) AS token
           FROM documents),
         cnt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS m
                 FROM tok GROUP BY 1, 2),
         ch AS (SELECT doc_id, token, m,
                  sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)))
                    OVER (PARTITION BY doc_id ORDER BY token
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS mlm
                FROM cnt),
         agg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                        CAST(count(*) AS BIGINT) AS n_types,
                        max_by(mlm, token) AS mlm
                 FROM ch GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
                round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                  AS ttr,
                round(ln(CAST(n_tokens AS DOUBLE))
                  - mlm / CAST(n_tokens AS DOUBLE), 6) AS entropy
         FROM agg ORDER BY doc_id""")),

    // ---- text: Zipf-law fit (t26) — ln freq ~ ln rank OLS over the
    // top-100 vocabulary; TakeOrdered(k), then ordered chains over the
    // k-row rank frame. The corpus power-law audit. ---------------------
    Query("t26_zipf_fit", (s, dir) =>
      graft.text.Corpus.zipfFitDF(
        Tables.spread(t(s, dir, "documents")), "text", k = 100),
      // t26: vocab top-k by (freq desc, token), ordered ln chains, the
      // closed-form OLS over the chains' last links
      Sql("""WITH vocab AS (
           SELECT token, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(list_filter(
                   string_split_regex(trim(text), '\s+'), x -> x != ''))
                   AS token
                 FROM documents WHERE text IS NOT NULL)
           GROUP BY 1),
         top AS (
           SELECT token, freq,
                  CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS rnk
           FROM vocab ORDER BY freq DESC, token LIMIT 100),
         ch AS (
           SELECT rnk, freq,
             CAST(count(*) OVER w AS DOUBLE) AS cn,
             sum(ln(CAST(rnk AS DOUBLE))) OVER w AS cx,
             sum(ln(CAST(freq AS DOUBLE))) OVER w AS cy,
             sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(freq AS DOUBLE)))
               OVER w AS cxy,
             sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)))
               OVER w AS cxx,
             sum(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE)))
               OVER w AS cyy,
             max(CASE WHEN rnk = 1 THEN freq END) OVER w AS tf
           FROM top
           WINDOW w AS (ORDER BY rnk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         lastc AS (SELECT * FROM ch ORDER BY rnk DESC LIMIT 1),
         st AS (SELECT cn AS nd, cx AS sx, cy AS sy, cxy AS sxy,
                       cxx AS sxx, cyy AS syy, tf AS top_freq
                FROM lastc),
         st2 AS (SELECT nd, top_freq,
                   nd * sxy - sx * sy AS num,
                   nd * sxx - sx * sx AS den,
                   sx, sy, syy
                 FROM st)
         SELECT CAST(nd AS BIGINT) AS n_ranks, CAST(top_freq AS BIGINT)
                  AS top_freq,
                round(num / den, 6) AS slope,
                round((sy - (num / den) * sx) / nd, 6) AS intercept,
                round(num * num / (den * (nd * syy - sy * sy)), 6) AS r2
         FROM st2""")),

    // ---- text: Dunning G² keyness census (t22) — tokens over/under-
    // represented in the English slice vs the rest; per-row fixed ln
    // tree, census ordered by token (integer-exact ranking key). ---------
    Query("t22_keyness", (s, dir) =>
      graft.text.Corpus.keynessCensus(Tables.spread(t(s, dir, "documents")),
        "text", col("lang") === "en", minTotal = 20),
      // t22: token counts, 1-row totals, the per-row fixed G² tree
      Sql("""WITH base AS (
           SELECT unnest(string_split(text, ' ')) AS token,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
           FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         tok AS (
           SELECT token, CAST(sum(g) AS BIGINT) AS a,
                  CAST(count(*) - sum(g) AS BIGINT) AS b
           FROM base WHERE token <> '' GROUP BY 1),
         tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                        CAST(sum(b) AS BIGINT) AS tb FROM tok),
         s AS (SELECT token, a, b, ta, tb
               FROM tok CROSS JOIN tot WHERE a + b >= 20),
         c AS (SELECT token, a, b,
                 CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
                 CAST(ta AS DOUBLE) AS tad, CAST(tb AS DOUBLE) AS tbd
               FROM s),
         g2t AS (
           SELECT token, a, b, ad, bd, tad, tbd,
                  2.0 * ((CASE WHEN a > 0 THEN ad * ln(ad
                           / (tad * ((ad + bd) / (tad + tbd))))
                          ELSE 0.0 END)
                       + (CASE WHEN b > 0 THEN bd * ln(bd
                           / (tbd * ((ad + bd) / (tad + tbd))))
                          ELSE 0.0 END)) AS g2
           FROM c)
         SELECT token, a, b, round(g2, 4) AS g2,
                round(CASE WHEN ad / (ad + bd) >= tad / (tad + tbd)
                      THEN g2 ELSE -g2 END, 4) AS signed_g2
         FROM g2t ORDER BY token""")),

    // ---- text: Gopher document-quality rules census (t23) — the hard
    // doc-level pretraining gate (Rae et al. 2021 Appendix A); every rule
    // an integer cross-multiplied comparison, one row-local codegen pass.
    // minWords=30 binds on this corpus (docs run ~25–80 words) and the
    // stop list is instantiated from the corpus vocabulary (the paper's
    // list assumes English prose; presence-of-2-distinct is the rule). ---
    Query("t23_gopher_rules", (s, dir) =>
      graft.text.TextOps.gopherRules(
          Tables.spread(t(s, dir, "documents")), "text", minWords = 30L,
          stops = Seq("the", "a", "table", "value", "row", "data"))
        .select(col("doc_id"), col("n_words"), col("mean_wl"),
          col("stop_hits"), col("r_words"), col("r_meanlen"),
          col("r_symbol"), col("r_bullet"), col("r_alpha"), col("r_stops"),
          col("keep"))
        .orderBy(col("doc_id")),
      // t23: every rule an integer cross-multiplied comparison; the only
      // double is the display-only mean_wl (one division + round)
      Sql("""WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x != '') AS toks,
             string_split(text, chr(10)) AS lns
           FROM documents),
         c AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks,
               t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks,
               t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_filter(
               ['the','a','table','value','row','data'],
               s -> list_contains(toks, s))) AS BIGINT) AS stop_hits,
             CAST(length(text) - length(replace(text, '#', ''))
               AS BIGINT)
               + (CAST(length(text) - length(replace(text, '...', ''))
                   AS BIGINT) // 3) AS symbols,
             CAST(len(lns) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lns,
               l -> regexp_matches(l, '^\s*[-*\x{2022}]')))
               AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lns,
               l -> regexp_matches(l, '\.\.\.$')))
               AS BIGINT) AS ellipsis_lines
           FROM base),
         f AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
                  THEN round(CAST(sum_len AS DOUBLE) / n_words, 6)
             END AS mean_wl,
             stop_hits,
             (n_words >= 30 AND n_words <= 100000) AS r_words,
             (n_words > 0 AND sum_len >= n_words * 3
               AND sum_len <= n_words * 10) AS r_meanlen,
             (symbols * 10 <= n_words) AS r_symbol,
             (bullet_lines * 10 <= n_lines * 9
               AND ellipsis_lines * 10 <= n_lines * 3) AS r_bullet,
             (alpha_words * 5 >= n_words * 4) AS r_alpha,
             (stop_hits >= 2) AS r_stops
           FROM c)
         SELECT doc_id, n_words, mean_wl, stop_hits, r_words, r_meanlen,
                r_symbol, r_bullet, r_alpha, r_stops,
                (r_words AND r_meanlen AND r_symbol AND r_bullet
                  AND r_alpha AND r_stops) AS keep
         FROM f ORDER BY doc_id""")),

    // ---- text: CCNet perplexity bucketing (t24) — bigram LM trained on
    // the English slice only (the train/apply split t10 lacks: unseen
    // bigrams score the smoothed floor), docs bucketed head/middle/tail by
    // FIXED mean-log-prob thresholds; per-doc ordered ln chain so the
    // bucket comparisons see bit-identical doubles in both engines. ------
    Query("t24_perplexity_buckets", (s, dir) =>
      graft.text.LanguageModel.perplexityBuckets(
          Tables.spread(t(s, dir, "documents")), "doc_id", "text",
          trainFilter = col("lang") === "en", k = 0.5,
          headLp = -4.11, midLp = -4.19)
        .orderBy(col("doc_id")),
      // t24: bigram LM trained on the en slice, LEFT-join smoothed floor for
      // unseen bigrams, per-doc ORDERED ln chain (both engines add the same
      // doubles in the same order), fixed-threshold buckets
      Sql("""WITH toks AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x != '') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, lang,
             list_transform(tk[1:len(tk)-1],
               (x,i) -> x || ' ' || tk[i+1]) AS bgs
           FROM toks),
         train AS (
           SELECT unnest(bgs) AS bigram FROM bg WHERE lang = 'en'),
         bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram
                FROM train GROUP BY 1),
         cc AS (SELECT string_split(bigram, ' ')[1] AS w1,
                       CAST(count(*) AS BIGINT) AS c_context
                FROM train GROUP BY 1),
         v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM bc),
         stream AS (
           SELECT doc_id, u.b AS bigram, u.p AS pos
           FROM (SELECT doc_id,
                   unnest(list_transform(bgs,
                     (x,i) -> {'b': x, 'p': i})) AS u
                 FROM bg)),
         lp AS (
           SELECT s.doc_id, s.pos,
             ln((coalesce(bc.c_bigram, 0) + 0.5)
                / (coalesce(cc.c_context, 0)
                   + CAST(v.v AS DOUBLE) * 0.5)) AS lp
           FROM stream s
           LEFT JOIN bc ON s.bigram = bc.bigram
           LEFT JOIN cc ON string_split(s.bigram, ' ')[1] = cc.w1
           CROSS JOIN v),
         chain AS (
           SELECT doc_id, pos,
             sum(lp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM lp),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  max_by(cum, pos) AS sum_lp
           FROM chain GROUP BY 1)
         SELECT doc_id, n_bigrams,
                round(sum_lp / n_bigrams, 6) AS avg_logprob,
                CASE WHEN sum_lp >= n_bigrams * (-4.11) THEN 'head'
                     WHEN sum_lp >= n_bigrams * (-4.19) THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM agg ORDER BY doc_id"""))
  )
}
