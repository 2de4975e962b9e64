package graft
package queries

import org.apache.spark.sql.functions._

import Oracle.Sql
import Shared._

/** s-family: sources and sinks, versioned tables (merge, restore, time
  * travel, schema evolution) and sampling. */
object SourceQueries extends Family("s") {

  val queries: Seq[Query] = Seq(
    // ---- §2.1 S1/S6: TSV sink + source round-trip -----------------------
    Query("s1_tsv_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types._
      val sample = t(s, dir, "region")
      // writeTsv overwrites, so repeated invocations reuse the scratch dir
      val tmp = scratch("s1", "region_tsv", dir)
      graft.sources.Sources.writeTsv(sample, tmp)
      graft.sources.Sources.readTsv(s, tmp, Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
        .orderBy(col("r_regionkey"))
    },
      Sql("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // ---- IDENTITY assignment (s33): dense sequential ids over the
    // doc_id order via the sharded prefix (no global sort); the append's
    // start comes from fastStats' metadata-only MAX — no high-water scan.
    Query("s33_identity", (s, dir) => {
      val root = scratch("s33", "doc_ids", dir)
      val S = graft.sources.SnapshotTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      if (S.latestVersion(root) == 0) {
        S.write(graft.ops.Identity.assignIds(
            docs.where(col("doc_id") < 250), "doc_id", "row_id", start = 1000L)
            .coalesce(1),
          root, statsCols = Seq("row_id"))
        val next = S.fastStats(root, Seq("row_id")).get._2("row_id")._2.toLong + 1
        S.write(graft.ops.Identity.assignIds(
            docs.where(col("doc_id") >= 250), "doc_id", "row_id", start = next)
            .coalesce(1),
          root, mode = "append", statsCols = Seq("row_id"))
      }
      S.read(s, root).select(col("doc_id"), col("row_id"))
        .orderBy(col("doc_id"))
    },
      // s33: dense row ids are exactly row_number over the unique key order
      // (the two slices are key-contiguous, so one global ranking replays
      // both writes and the metadata-derived append start)
      Sql("""SELECT doc_id,
                999 + row_number() OVER (ORDER BY doc_id) AS row_id
         FROM documents ORDER BY doc_id""")),

    // ---- deterministic content-hash sampling (layout-independent) -------
    Query("s3_hash_sample", (s, dir) => {
      graft.ops.Sampling.hashSample(
          t(s, dir, "documents"), col("doc_id"), rate = 0.25)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      Sql("""SELECT doc_id, lang, n_chars FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
         ORDER BY doc_id""")),

    // ---- data-mixing mixture sample: per-source token budgets → keep
    // rates from one aggregation, content-hash row decisions. Budgets span
    // rate≥1 (src0 kept whole), mid rates, and a tiny budget (src4) ------
    Query("s6_mixture_sample", (s, dir) => {
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents"), col("source"), col("doc_id"), col("n_chars"),
          Map("src0" -> 1000000L, "src1" -> 4000L, "src2" -> 2000L,
            "src3" -> 6000L, "src4" -> 500L))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // s6: rate = min(1, target/actual) per source; threshold = the same
      // round-half-up 4-nibble hex granule arithmetic as the Spark Column
      // (positive doubles round identically in both engines)
      Sql("""WITH tgt AS (
           SELECT * FROM (VALUES ('src0', 1000000), ('src1', 4000), ('src2', 2000),
                                 ('src3', 6000), ('src4', 500)) t(s, target)),
         totals AS (SELECT source AS s, sum(n_chars) AS actual FROM documents GROUP BY 1),
         rates AS (
           SELECT s, least(1.0, CAST(target AS DOUBLE) / actual) AS rate
           FROM totals JOIN tgt USING (s)),
         thr AS (
           SELECT s, rate,
                  printf('%04x', CAST(greatest(1, least(65535, round(rate * 65536))) AS BIGINT)) AS h
           FROM rates)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN thr ON d.source = thr.s
         WHERE thr.rate >= 1.0
            OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.h
         ORDER BY d.doc_id""")),

    // ---- per-stratum rate sampling: content-hash decisions, unlisted
    // strata dropped (the sampleBy contract, layout-independent) ----------
    Query("s7_stratified_sample", (s, dir) => {
      graft.ops.Sampling.stratifiedHashSample(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          col("source"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 1.0, "src2" -> 0.1, "src3" -> 0.02))
        .orderBy(col("doc_id"))
    },
      // s7: per-stratum md5 thresholds — the hexThreshold arithmetic inlined
      // as literals (0.5→8000, 0.1→199a, 0.02→051f); src1 keeps whole,
      // unlisted src4 drops entirely
      Sql("""SELECT doc_id, source, n_chars FROM documents
         WHERE source = 'src1'
            OR (source = 'src0' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
            OR (source = 'src2' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a')
            OR (source = 'src3' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051f')
         ORDER BY doc_id""")),

    // ---- weighted systematic sample: PPS without replacement on the
    // exact cumulative char-weight line (sharded prefix sum, long-only
    // DIV arithmetic) — k equal buckets, keep each boundary-completing
    // row. Deterministic, RNG-free, layout-independent. ------------------
    Query("s30_systematic_sample", (s, dir) => {
      graft.ops.Sampling.systematicSample(
          t(s, dir, "documents"), "doc_id", "n_chars", k = 40)
        .orderBy(col("doc_id"))
    },
      // s30: the exact cumulative char-weight line (windowed exclusive
      // prefix), k = 40 equal buckets, keep boundary-completing rows —
      // integer floor division end to end
      Sql("""WITH base AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
           WHERE doc_id IS NOT NULL AND n_chars > 0),
         pc AS (SELECT doc_id, w,
                  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum
                FROM base),
         t AS (SELECT CAST(sum(w) AS BIGINT) AS w0 FROM base)
         SELECT doc_id, w, cum,
                cum * 40 // w0 AS bucket,
                (cum + w) * 40 // w0 - cum * 40 // w0 AS picks
         FROM pc, t
         WHERE (cum + w) * 40 // w0 - cum * 40 // w0 > 0
         ORDER BY doc_id""")),

    // ---- Efraimidis–Spirakis weighted reservoir (s37): top-k sampling
    // without replacement, inclusion ∝ o_totalprice; u from the content
    // hash (52 md5 bits), rank key ln(u)/w, TakeOrdered plan (no global
    // sort, no RNG). -----------------------------------------------------
    Query("s37_weighted_sample", (s, dir) => {
      graft.ops.Sampling.weightedReservoir(
        t(s, dir, "orders"), "o_orderkey", "o_totalprice", k = 100)
    },
      // s37: same 52-bit hash uniform ('0x' cast ≡ Spark conv), same
      // ln(u)/w rank key, ORDER BY the raw key + LIMIT both sides
      Sql("""WITH base AS (
           SELECT o_orderkey AS id, CAST(o_totalprice AS DOUBLE) AS w
           FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice > 0),
         kd AS (
           SELECT id, w,
                  (CAST(CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 13)
                     AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
           FROM base)
         SELECT id AS o_orderkey, w, round(u, 6) AS u,
                round(ln(u) / w, 9) + 0.0 AS es_key
         FROM kd
         ORDER BY ln(u) / w DESC, id ASC
         LIMIT 100""")),

    // ---- column-mapping RENAME (s31): one metadata commit, zero file
    // rewrites — writes before and after the rename, a keyed merge under
    // the new name, head + time-traveled summaries. The oracle replays
    // the whole lifecycle relationally; the rename itself is invisible to
    // it, which is exactly the contract (same data, new logical name). --
    Query("s31_column_mapping", (s, dir) => {
      val root = scratch("s31", "cust_cm", dir)
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 300).coalesce(1), root,
          mode = "overwrite", statsCols = Seq("c_acctbal"))          // v1
        S.renameColumn(root, "c_acctbal", "balance")                 // v2
        S.write(cust.where(col("c_custkey").between(301, 500))
            .withColumnRenamed("c_acctbal", "balance").coalesce(1),
          root, mode = "append", statsCols = Seq("balance"))         // v3
        S.merge(cust.where(col("c_custkey").between(250, 350))
            .select(col("c_custkey"),
              round(col("c_acctbal") + 1000, 2).as("balance"),
              col("c_mktsegment")),
          root, Seq("c_custkey"))                                    // v4
      }
      def summary(df: org.apache.spark.sql.DataFrame, bal: String, v: Int) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            round(sum(col(bal).cast("decimal(18,2)"))
              .cast("double"), 2).as("bal_sum"))
          .withColumn("version", lit(v))
      summary(S.read(s, root, Some(1)), "c_acctbal", 1)
        .unionByName(summary(S.read(s, root), "balance", 4))
        .orderBy(col("version"), col("c_mktsegment"))
    },
      // s31: the rename is metadata-only, so the relational replay never
      // sees it — base slice, appended slice, keyed merge, two summaries
      Sql("""WITH b AS (
           SELECT c_custkey, c_acctbal AS balance, c_mktsegment
           FROM customer WHERE c_custkey <= 300),
         a AS (
           SELECT c_custkey, c_acctbal AS balance, c_mktsegment
           FROM customer WHERE c_custkey BETWEEN 301 AND 500),
         m AS (
           SELECT c_custkey, round(c_acctbal + 1000, 2) AS balance,
                  c_mktsegment
           FROM customer WHERE c_custkey BETWEEN 250 AND 350),
         head AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM (SELECT * FROM b UNION ALL SELECT * FROM a)
           WHERE c_custkey NOT IN (SELECT c_custkey FROM m)),
         s1 AS (
           SELECT c_mktsegment, count(*) AS n,
                  round(CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS bal_sum, 1 AS version
           FROM b GROUP BY 1),
         s4 AS (
           SELECT c_mktsegment, count(*) AS n,
                  round(CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS bal_sum, 4 AS version
           FROM head GROUP BY 1)
         SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s4)
         ORDER BY version, c_mktsegment""")),

    // ---- GENERATED columns (s32): price_bucket GENERATED ALWAYS AS an
    // integer-exact bucket expression — one append omits the column
    // (auto-materialized), one supplies it (validated). The oracle
    // replays the expression relationally over the same slices; the
    // invariant "stored ≡ formula" is what makes them identical. ---------
    Query("s32_generated_cols", (s, dir) => {
      val root = scratch("s32", "ord_gen", dir)
      val S = graft.sources.SnapshotTable
      val bucketExpr =
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 5000000"
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 400)
            .withColumn("price_bucket", expr(bucketExpr)).coalesce(1), root)  // v1
        S.addGeneratedColumn(s, root, "price_bucket", bucketExpr)
        S.write(ord.where(col("o_orderkey").between(401, 800)).coalesce(1),
          root, mode = "append")                             // v2: materialized
        S.write(ord.where(col("o_orderkey").between(801, 1200))
            .withColumn("price_bucket", expr(bucketExpr)).coalesce(1),
          root, mode = "append")                             // v3: validated
      }
      S.read(s, root).groupBy(col("price_bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("turnover"))
        .orderBy(col("price_bucket"))
    },
      // s32: the generated column is definitionally its expression, so the
      // replay just computes it over the written slices
      Sql("""WITH rows_in AS (
           SELECT o_orderkey, o_totalprice,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    // 5000000 AS price_bucket
           FROM orders WHERE o_orderkey <= 1200)
         SELECT price_bucket, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover
         FROM rows_in GROUP BY 1 ORDER BY price_bucket""")),

    // ---- S-ops: JSON-lines sink + source roundtrip ----------------------
    // ---- ORC source/sink roundtrip: the engine's second columnar format —
    // write the fact projection as ORC, read it back, aggregate; a hash
    // match against the parquet-side replay certifies the roundtrip is
    // value-exact (types, nulls, doubles) not just row-complete. ----------
    Query("s21_orc_roundtrip", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val tmp = scratch("s21", "lineitem_orc", dir)
      graft.sources.Sources.writeOrc(li, tmp, singleFile = false)
      graft.sources.Sources.readOrc(s, tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    },
      // s21: the ORC roundtrip must preserve every value — the oracle runs
      // the same aggregate over the original parquet
      Sql("""SELECT l_returnflag, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS revenue
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

    Query("s2_json_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types._
      val sample = t(s, dir, "region")
      val tmp = scratch("s2", "region_jsonl", dir)
      graft.sources.Sources.writeJsonl(sample, tmp)
      graft.sources.Sources.readJsonl(s, tmp, Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
        .orderBy(col("r_regionkey"))
    },
      Sql("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // ---- S3: Excel ingest — region → xlsx → minimal OOXML reader → rows.
    // The oracle is the untouched region table: a lossless round-trip is
    // exactly the Copy-activity contract (values as text, typing later) -----
    Query("s4_excel_roundtrip", (s, dir) => {
      val sample = t(s, dir, "region")
        .select(col("r_regionkey").cast("string").as("r_regionkey"), col("r_name"))
      val tmp = scratch("s4", "region", dir) + ".xlsx"
      graft.sources.Xlsx.write(sample, tmp, sheetName = "Liczba odpowiedzi 1")
      graft.sources.Xlsx.read(s, tmp, "Liczba odpowiedzi 1", firstRowAsHeader = true)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    },
      Sql("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // ---- S5 transactional sink: snapshot-table roundtrip — overwrite v1
    // with half the rows, append the rest (v2), read the latest snapshot;
    // oracle is the untouched source table (lossless ACID roundtrip) -------
    // ---- S5 extension: replaceWhere — Delta's dynamic-partition-overwrite
    // backfill: the 300-599 slice of a range-clustered table is atomically
    // replaced by a RECOMPUTED slice (only odd keys survive, prices
    // adjusted) in one commit; stats pruning keeps the other range files
    // untouched. The oracle replays the slice swap relationally; row-level
    // output so every kept/replaced/dropped row value is in the hash. ------
    Query("s24_replace_where", (s, dir) => {
      val root = scratch("s24", "ord_rw", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1200)
            .repartitionByRange(4, col("o_orderkey")), root,
          mode = "overwrite", statsCols = Seq("o_orderkey"))           // v1
        val backfill = ord
          .where(col("o_orderkey").between(300, 599) &&
            col("o_orderkey") % 2 === 1)
          .withColumn("o_totalprice", round(col("o_totalprice") + 50, 2))
        S.replaceWhere(backfill, root,
          col("o_orderkey").between(300, 599),
          pruneHint = Some(("o_orderkey", 300.0, 599.0)))              // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s24: the slice swap replayed — rows outside 300-599 untouched, the
      // slice itself is exactly the recomputed backfill (odd keys, +50)
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1200),
         r AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 50, 2) AS o_totalprice
           FROM orders
           WHERE o_orderkey BETWEEN 300 AND 599 AND o_orderkey % 2 = 1)
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM (SELECT * FROM b WHERE o_orderkey NOT BETWEEN 300 AND 599
               UNION ALL SELECT * FROM r)
         ORDER BY o_orderkey""")),

    // ---- S5 extension: zero-copy CLONE (s27) — the source (with a merge
    // in its history) is cloned via hard links, the clone diverges with a
    // delete, then the source is OVERWRITTEN and vacuumed to zero
    // retention: if the clone shared the source's directory entries (the
    // manifest-reference shallow-clone design), the vacuum would corrupt
    // it and this query would error — the hard-link contract keeps both
    // lineages independent. The oracle replays both heads relationally. --
    Query("s27_clone", (s, dir) => {
      val src = scratch("s27", "src", dir)
      val cln = scratch("s27", "cln", dir)
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(cln) == 0) {
        S.write(cust.where(col("c_custkey") <= 500).coalesce(1), src)   // src v1
        S.merge(cust.where(col("c_custkey").between(300, 600))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          src, Seq("c_custkey"))                                        // src v2
        S.clone(src, cln)                                               // cln v1
        S.deleteWhere(s, cln, col("c_custkey") <= 200)                  // cln v2
        S.write(cust.where(col("c_custkey") <= 50).coalesce(1), src)    // src v3
        S.vacuum(src, keepVersions = 1, orphanRetentionMs = 0L)
      }
      def side(root: String, tag: String) = S.read(s, root)
        .select(lit(tag).as("side"), col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
      side(src, "source").unionByName(side(cln, "clone"))
        .orderBy(col("side"), col("c_custkey"))
    },
      // s27: both heads replayed — the source was overwritten to the <=50
      // slice after the clone; the clone holds the merged state minus the
      // <=200 delete, untouched by the source's overwrite AND its vacuum
      Sql("""WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500),
         m AS (
           SELECT c_custkey, c_mktsegment,
                  round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 300 AND 600),
         merged AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM b
           WHERE c_custkey NOT IN (SELECT c_custkey FROM m)),
         srcv3 AS (
           SELECT 'source' AS side, c_custkey, c_mktsegment,
                  round(c_acctbal, 2) AS acctbal
           FROM customer WHERE c_custkey <= 50),
         clnv2 AS (
           SELECT 'clone' AS side, c_custkey, c_mktsegment,
                  round(c_acctbal, 2) AS acctbal
           FROM merged WHERE c_custkey > 200)
         SELECT * FROM (SELECT * FROM srcv3 UNION ALL SELECT * FROM clnv2)
         ORDER BY side, c_custkey""")),

    // ---- S5 extension: DESCRIBE HISTORY (s28) — the commit chain as a
    // queryable frame; a deterministic op sequence (overwrite, append,
    // pruned delete, restore) pins version, operation, and live-file
    // count against a literal replay. -------------------------------------
    Query("s28_history", (s, dir) => {
      val root = scratch("s28", "hist", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 500).coalesce(1), root,
          statsCols = Seq("o_orderkey"))                               // v1: 1 file
        S.write(ord.where(col("o_orderkey").between(501, 900)).coalesce(1),
          root, mode = "append", statsCols = Seq("o_orderkey"))        // v2: 2 files
        S.deleteWhere(s, root, col("o_orderkey").between(600, 700),
          pruneHint = Some(("o_orderkey", 600.0, 700.0)))              // v3: 2 files
        S.restore(root, 1)                                             // v4: 1 file
      }
      S.history(s, root).orderBy(col("version"))
    },
      // s28: the recorded commit chain against the declared op sequence
      Sql("""SELECT * FROM (VALUES (1, 'overwrite', CAST(1 AS BIGINT)),
                               (2, 'append',    CAST(2 AS BIGINT)),
                               (3, 'delete',    CAST(2 AS BIGINT)),
                               (4, 'restore',   CAST(1 AS BIGINT)))
           t(version, op, num_files)
         ORDER BY version""")),

    // ---- S5 extension: metadata-only aggregates (s29) — COUNT/MIN/MAX
    // answered from the manifest's per-file envelopes + exact __rows
    // footer counts, NO data scan (the Delta answer-from-the-log
    // optimization), and still exact after a copy-on-write delete because
    // the rewrite re-derived its envelopes. The hash match certifies the
    // metadata arithmetic against the relational truth. -------------------
    Query("s29_metadata_agg", (s, dir) => {
      val root = scratch("s29", "meta", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000)
            .repartitionByRange(3, col("o_orderkey")), root,
          statsCols = Seq("o_orderkey", "o_totalprice"))               // v1
        S.write(ord.where(col("o_orderkey").between(1001, 1500)).coalesce(1),
          root, mode = "append",
          statsCols = Seq("o_orderkey", "o_totalprice"))               // v2
        S.deleteWhere(s, root, col("o_orderkey").between(200, 400),
          pruneHint = Some(("o_orderkey", 200.0, 400.0)))              // v3
      }
      val fast = S.fastStats(root, Seq("o_orderkey", "o_totalprice"))
      require(fast.nonEmpty, "metadata aggregates unavailable — envelope lost")
      val (n, agg) = fast.get
      s.range(1).select(lit(n).as("n"),
        lit(agg("o_orderkey")._1).cast("long").as("min_key"),
        lit(agg("o_orderkey")._2).cast("long").as("max_key"),
        round(lit(agg("o_totalprice")._1), 2).as("min_price"),
        round(lit(agg("o_totalprice")._2), 2).as("max_price"))
    },
      // s29: the metadata-only aggregates against the relational truth of
      // the mutated table (writes minus the copy-on-write delete)
      Sql("""WITH live AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey <= 1500 AND o_orderkey NOT BETWEEN 200 AND 400)
         SELECT CAST(count(*) AS BIGINT) AS n,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price
         FROM live""")),

    // ---- S5 extension: SCHEMA EVOLUTION through the oracle gate (s26) —
    // a widening mergeSchema append: v1 rows lack the new column and the
    // head read must backfill NULL for them (manifest schema, not file
    // schema, drives the scan). The oracle replays the union with an
    // explicit NULL literal, so the hash match certifies evolution + NULL
    // backfill row-for-row. ------------------------------------------------
    Query("s26_schema_evolution", (s, dir) => {
      val root = scratch("s26", "ord_ev", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 400)
          .select(col("o_orderkey"), col("o_orderstatus")), root,
          mode = "overwrite")                                          // v1
        S.write(ord.where(col("o_orderkey").between(401, 800))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
          root, mode = "append", mergeSchema = true)                   // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s26: the widening evolution replayed — pre-evolution rows carry an
      // explicit NULL in the new column
      Sql("""SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS totalprice
         FROM orders WHERE o_orderkey <= 400
         UNION ALL
         SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
         FROM orders WHERE o_orderkey BETWEEN 401 AND 800
         ORDER BY o_orderkey""")),

    // ---- S5 extension: CONDITIONAL MERGE (Delta WHEN MATCHED AND cond) —
    // update-if-greater guard (only matched rows whose new price rose
    // replace; the out-of-order-CDC pattern), conditional delete on a key
    // predicate, unmatched inserts. The oracle replays all four clauses
    // relationally; row-level output so every kept/updated/deleted/
    // inserted value is in the hash. ---------------------------------------
    Query("s22_merge_conditional", (s, dir) => {
      val root = scratch("s22", "ord_cm", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        val upd = ord.where(col("o_orderkey").between(700, 1200))
          .withColumn("o_totalprice", round(col("o_totalprice") +
            when(col("o_orderkey") % 3 === 0, 1000).otherwise(-1000), 2))
        S.mergeConditional(upd, root, Seq("o_orderkey"),
          updateWhen = col("src_o_totalprice") > col("o_totalprice"),
          deleteWhen = Some(col("src_o_orderkey") % 7 === 0))          // v2
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s22: the four MERGE clauses replayed — matched %7 keys delete,
      // matched rows update only when the new price is GREATER (%3 keys),
      // other matched rows keep their original values, 1001-1200 insert
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         u AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice +
                    CASE WHEN o_orderkey % 3 = 0 THEN 1000 ELSE -1000 END, 2)
                    AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 700 AND 1200),
         kept AS (
           SELECT b.o_orderkey, b.o_orderstatus,
                  CASE WHEN u.o_orderkey IS NOT NULL
                            AND u.o_totalprice > b.o_totalprice
                       THEN u.o_totalprice ELSE b.o_totalprice END
                    AS o_totalprice
           FROM b LEFT JOIN u ON u.o_orderkey = b.o_orderkey
           WHERE NOT (u.o_orderkey IS NOT NULL AND u.o_orderkey % 7 = 0)),
         ins AS (SELECT * FROM u WHERE o_orderkey > 1000)
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         ORDER BY o_orderkey""")),

    // ---- S5 extension: RESTORE — after a merge and a delete corrupt the
    // table, restore(v1) must reproduce the original content EXACTLY as
    // a new auditable commit (history intact). The oracle is simply the
    // v1 relational definition: a hash match proves the rollback is
    // bit-faithful. ------------------------------------------------------
    Query("s23_restore", (s, dir) => {
      val root = scratch("s23", "ord_rs", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 800).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(ord.where(col("o_orderkey").between(500, 900))
            .withColumn("o_totalprice", lit(0.0)),
          root, Seq("o_orderkey"))                                     // v2 (the mistake)
        S.deleteWhere(s, root, col("o_orderkey") <= 200)               // v3 (another)
        S.restore(root, 1)                                             // v4
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s23: restore(v1) == the v1 definition, bit-faithful
      Sql("""SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice
         FROM orders WHERE o_orderkey <= 800
         ORDER BY o_orderkey""")),

    // ---- S5 extension: TIME TRAVEL through the oracle gate — after a
    // merge and a delete mutate the table, the pinned v1 read must return
    // the PRE-mutation snapshot bit-exact while the head reflects both
    // mutations; the oracle replays each version's relational definition
    // and a hash match certifies snapshot isolation, not just row counts.
    Query("s20_time_travel", (s, dir) => {
      val root = scratch("s20", "ord_tt", dir)
      val S = graft.sources.SnapshotTable
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 500).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(ord.where(col("o_orderkey").between(400, 700))
            .withColumn("o_totalprice", round(col("o_totalprice") + 100, 2)),
          root, Seq("o_orderkey"))                                     // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 100)               // v3
      }
      def summary(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("turnover"))
          .withColumn("version", lit(v))
      summary(S.read(s, root, Some(1)), 1)
        .unionByName(summary(S.read(s, root), 3))
        .orderBy(col("version"), col("o_orderstatus"))
    },
      // s20: both snapshots replayed relationally — v1 is the original
      // subset untouched by the later merge/delete, v3 applies both
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 500),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 100, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 400 AND 700),
         head AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 100),
         s1 AS (
           SELECT o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS turnover, 1 AS version
           FROM b GROUP BY 1),
         s3 AS (
           SELECT o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                    AS turnover, 3 AS version
           FROM head GROUP BY 1)
         SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s3)
         ORDER BY version, o_orderstatus""")),

    Query("s5_snapshot_roundtrip", (s, dir) => {
      val region = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val root = scratch("s5", "region_snap", dir)
      graft.sources.SnapshotTable.write(
        region.where(col("r_regionkey") < 2), root, mode = "overwrite")
      graft.sources.SnapshotTable.write(
        region.where(col("r_regionkey") >= 2), root, mode = "append")
      graft.sources.SnapshotTable.read(s, root)
        .orderBy(col("r_regionkey"))
    },
      Sql("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // ---- S5 extension: Delta-style MERGE upsert on the snapshot table.
    // Base rows, then an overlapping update slice merged by key — matched
    // keys replaced, new keys inserted, one committed version. The oracle
    // replays the upsert relationally (updates ∪ base-anti-updates), so
    // the hash match verifies the whole write→merge→read round trip. -----
    Query("s8_merge_upsert", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = scratch("s8", "cust_merge", dir)
      graft.sources.SnapshotTable.write(
        cust.where(col("c_custkey") <= 300), root, mode = "overwrite")
      graft.sources.SnapshotTable.merge(
        cust.where(col("c_custkey").between(200, 400))
          .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
        root, Seq("c_custkey"))
      graft.sources.SnapshotTable.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey"))
    },
      // s8: the MERGE result expressed relationally — update rows win on
      // matched keys, base rows survive elsewhere
      Sql("""WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 300),
         u AS (
           SELECT c_custkey, c_mktsegment, round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 200 AND 400)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
         FROM (SELECT * FROM u
               UNION ALL
               SELECT * FROM b
               WHERE c_custkey NOT IN (SELECT c_custkey FROM u))
         ORDER BY c_custkey""")),

    // ---- snapshot version-diff audit (s35): content-level multiset
    // reconciliation between two table versions — what changed,
    // regardless of the commit path (compaction-invariant; the audit
    // sibling of s11's change feed). ------------------------------------
    Query("s35_version_diff", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = scratch("s35", "cust_diff", dir)
      // scale-free slices (digit-of-key, not absolute ranges): digits 4–5
      // update, 6–7 insert, at EVERY scale factor — an absolute key range
      // merges nothing at sf0.001 and the diff comes back empty
      graft.sources.SnapshotTable.write(
        cust.where(col("c_custkey") % 10 < 6), root, mode = "overwrite")
      val v1 = graft.sources.SnapshotTable.latestVersion(root)
      graft.sources.SnapshotTable.merge(
        cust.where((col("c_custkey") % 10).between(4, 7))
          .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
        root, Seq("c_custkey"))
      val v2 = graft.sources.SnapshotTable.latestVersion(root)
      graft.sources.SnapshotTable.diffVersions(s, root, v1, v2)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"),
          col("n_before"), col("n_after"), col("delta"))
        .orderBy(col("c_custkey"), col("delta"))
    },
      // s35: replay v1 (the filtered load) and v2 (the s8-shape merge)
      // relationally, then the same NULL-safe multiset diff
      Sql("""WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 10 < 6),
         u AS (
           SELECT c_custkey, c_mktsegment,
                  round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey % 10 BETWEEN 4 AND 7),
         v2 AS (SELECT * FROM u
                UNION ALL
                SELECT * FROM b
                WHERE c_custkey NOT IN (SELECT c_custkey FROM u)),
         ga AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                  CAST(count(*) AS BIGINT) AS n_before
                FROM b GROUP BY 1, 2, 3),
         gb AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                  CAST(count(*) AS BIGINT) AS n_after
                FROM v2 GROUP BY 1, 2, 3),
         d AS (
           SELECT coalesce(ga.c_custkey, gb.c_custkey) AS c_custkey,
                  coalesce(ga.c_mktsegment, gb.c_mktsegment) AS c_mktsegment,
                  coalesce(ga.c_acctbal, gb.c_acctbal) AS c_acctbal,
                  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
                  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
           FROM ga FULL OUTER JOIN gb
             ON ga.c_custkey IS NOT DISTINCT FROM gb.c_custkey
            AND ga.c_mktsegment IS NOT DISTINCT FROM gb.c_mktsegment
            AND ga.c_acctbal IS NOT DISTINCT FROM gb.c_acctbal)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
                n_before, n_after,
                CAST(n_after - n_before AS BIGINT) AS delta
         FROM d WHERE n_before <> n_after
         ORDER BY c_custkey, delta""")),

    // ---- stats-pruned snapshot scan (s9): the round-8 composition —
    // Layout.zorder clusters lineitem on (partkey, suppkey), the
    // SnapshotTable write records each file's min/max envelopes FROM THE
    // PARQUET FOOTERS into the manifest, and readPruned drops files whose
    // envelope misses the predicate before Spark ever lists them — the
    // Iceberg/Delta file-skipping loop closed inside the engine's own
    // table format. Oracle = the raw-table relational replay. ------------
    Query("s9_stats_pruned_scan", (s, dir) => {
      val root = scratch("s9", "li_snap", dir)
      if (graft.sources.SnapshotTable.latestVersion(root) == 0)
        graft.sources.SnapshotTable.write(
          graft.ops.Layout.zorder(
            t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity")),
            Seq("l_partkey", "l_suppkey"), bits = 10, outPartitions = 16),
          root, statsCols = Seq("l_partkey", "l_suppkey"))
      val (pruned, _) = graft.sources.SnapshotTable.readPruned(
        s, root, "l_partkey", 50, 180)
      pruned
        .where(col("l_partkey").between(50, 180) && col("l_suppkey").between(1, 5))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    },
      // s9: the stats-pruned snapshot must answer exactly like the raw table
      Sql("""SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 180 AND l_suppkey BETWEEN 1 AND 5
         GROUP BY 1 ORDER BY 1""")),

    // ---- categorical file skipping (s25): string-column envelopes via
    // the order-preserving 6-byte prefix key — documents land lang-
    // clustered (hash repartition on lang → lang-pure files), the write
    // records the string envelopes from the parquet footers, and the
    // pruned read drops every non-'en' file before Spark lists it: the
    // partition-pruning analog without hive directories. The query asserts
    // IN-BAND that pruning really bit (kept < total), so a silently
    // envelope-less write cannot hash-match. Oracle = relational replay. --
    Query("s25_lang_pruned_scan", (s, dir) => {
      val root = scratch("s25", "docs_lang", dir)
      val S = graft.sources.SnapshotTable
      if (S.latestVersion(root) == 0)
        S.write(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
            .repartitionByRange(5, col("lang")),
          root, statsCols = Seq("lang"))
      val k = S.prefixKey("en")
      val (pruned, (kept, total)) = S.readPruned(s, root, "lang", k, k)
      require(kept < total,
        s"lang envelopes failed to prune ($kept of $total files kept)")
      pruned.where(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // s25: the pruned categorical scan must equal the relational filter —
      // pruning is I/O skipping, never row semantics
      Sql("""SELECT doc_id, lang, n_chars FROM documents
         WHERE lang = 'en' ORDER BY doc_id""")),

    // ---- S5 extension: bin-packing compaction (the OPTIMIZE story for
    // the CDC writer's one-version-per-batch layout). Eight 1-file
    // appends, then compact packs them into target-size files as a NEW
    // committed version with identical content — the oracle reads the
    // same slice relationally, so the hash match certifies the whole
    // append*-compact-read round trip, and the query itself asserts the
    // layout actually shrank (a no-op compact would still hash-match). --
    Query("s10_compacted_scan", (s, dir) => {
      val root = scratch("s10", "cust_compact", dir)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .where(col("c_custkey") <= 800)
      if (graft.sources.SnapshotTable.latestVersion(root) == 0) {
        (0 until 8).foreach { i =>
          graft.sources.SnapshotTable.write(
            cust.where(col("c_custkey") % 8 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("c_custkey"))
        }
        graft.sources.SnapshotTable.compact(s, root, targetBytes = 64L << 20)
      }
      val m = graft.sources.SnapshotTable.readManifest(
        root, graft.sources.SnapshotTable.latestVersion(root))
      require(m.op == "compact" && m.files.size < 8,
        s"compaction inert: op=${m.op} files=${m.files.size}")
      graft.sources.SnapshotTable.read(s, root)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey"))
    },
      // s10: the compacted snapshot must answer exactly like the raw table
      Sql("""SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
         FROM customer WHERE c_custkey <= 800
         ORDER BY c_custkey""")),

    // ---- S5 extension: stats-pruned copy-on-write DELETE + file-diff
    // CHANGE FEED. Three single-file appends partition the key range, so
    // the delete's manifest-envelope prune touches exactly ONE file (the
    // query requires it); a final compact packs the layout and the change
    // feed must report NOTHING for it (dataChange = false). The oracle
    // replays every insert/delete event relationally, so the hash match
    // certifies the whole write→delete→compact→changes round trip. ------
    Query("s11_changes_read", (s, dir) => {
      val root = scratch("s11", "nation_cdc", dir)
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val S = graft.sources.SnapshotTable
      if (S.latestVersion(root) == 0) {
        S.write(nat.where(col("n_nationkey") < 10).coalesce(1), root,
          mode = "overwrite", statsCols = Seq("n_nationkey"))        // v1
        S.write(nat.where(col("n_nationkey").between(10, 19)).coalesce(1),
          root, mode = "append", statsCols = Seq("n_nationkey"))     // v2
        S.write(nat.where(col("n_nationkey") >= 20).coalesce(1), root,
          mode = "append", statsCols = Seq("n_nationkey"))           // v3
        val (_, rewritten, _) = S.deleteWhere(s, root,
          col("n_nationkey").between(12, 17),
          pruneHint = Some(("n_nationkey", 12.0, 17.0)))                 // v4
        require(rewritten == 1,
          s"delete should rewrite exactly the one hit file, got $rewritten")
        S.compact(s, root, targetBytes = 64L << 20)                  // v5
      }
      require(S.readManifest(root, S.latestVersion(root)).op == "compact")
      S.readChanges(s, root, fromVersion = 1)
        .orderBy(col("_change_version"), col("_change_type"),
          col("n_nationkey"))
    },
      // s11: the change feed replayed relationally — appends land as
      // inserts at their commit version, the pruned DELETE reports the hit
      // file's rows out (delete) and its survivors back in (insert), and
      // the compact commit contributes nothing (dataChange = false)
      Sql("""WITH ch AS (
           SELECT n_nationkey, n_name, n_regionkey,
                  'insert' AS _change_type, 2 AS _change_version
           FROM nation WHERE n_nationkey BETWEEN 10 AND 19
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'insert', 3
           FROM nation WHERE n_nationkey >= 20
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'delete', 4
           FROM nation WHERE n_nationkey BETWEEN 10 AND 19
           UNION ALL
           SELECT n_nationkey, n_name, n_regionkey, 'insert', 4
           FROM nation WHERE n_nationkey IN (10, 11, 18, 19))
         SELECT * FROM ch
         ORDER BY _change_version, _change_type, n_nationkey""")),

    // ---- S5 extension: ROW-LEVEL change capture (the Delta CDF
    // contract). A merge and a delete committed with changeCapture=true
    // record their EXACT changed rows as manifest-referenced cdc files
    // (update_preimage / update_postimage / insert; delete); the change
    // feed replays those verbatim instead of the file-diff fallback's
    // rewrite-amplified delete+insert pairs. The query asserts the
    // amplification is gone — the merge rewrote every file of the
    // ~500-row table, yet its feed slice is exactly 2·matched + inserted
    // events — and the oracle replays each commit's changed rows
    // relationally, so the hash match certifies the captured rows, their
    // change types, and their version stamps all at once. --------------
    Query("s12_cdc_rowlevel", (s, dir) => {
      val root = scratch("s12", "cust_cdc", dir)
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 500).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(cust.where(col("c_custkey").between(450, 520))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v2
        S.deleteWhere(s, root, col("c_custkey").between(100, 120),
          changeCapture = true)                                        // v3
      }
      val feed = S.readChanges(s, root, fromVersion = 1)
      val nMatch = cust.where(col("c_custkey").between(450, 500)).count()
      val nIns = cust.where(col("c_custkey").between(501, 520)).count()
      val v2Events = feed.where(col("_change_version") === 2).count()
      require(v2Events == 2 * nMatch + nIns,
        s"merge change feed amplified: $v2Events events for " +
          s"$nMatch matched + $nIns inserted rows")
      feed.select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"),
          col("_change_type"), col("_change_version"))
        .orderBy(col("_change_version"), col("_change_type"), col("c_custkey"))
    },
      // s12: the row-level change feed replayed relationally — the merge
      // contributes preimage/postimage pairs for matched keys plus inserts
      // for new keys (never the rewrite's untouched rows), the delete
      // contributes exactly the removed rows
      Sql("""WITH b AS (
           SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500),
         u AS (
           SELECT c_custkey, c_mktsegment, round(c_acctbal + 1000, 2) AS c_acctbal
           FROM customer WHERE c_custkey BETWEEN 450 AND 520),
         ch AS (
           SELECT c_custkey, c_mktsegment, c_acctbal,
                  'update_preimage' AS _change_type, 2 AS _change_version
           FROM b WHERE c_custkey BETWEEN 450 AND 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'update_postimage', 2
           FROM u WHERE c_custkey <= 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'insert', 2
           FROM u WHERE c_custkey > 500
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal, 'delete', 3
           FROM b WHERE c_custkey BETWEEN 100 AND 120)
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
                _change_type, _change_version
         FROM ch
         ORDER BY _change_version, _change_type, c_custkey""")),

    // ---- S5 extension: OPTIMIZE ZORDER BY — z-order-preserving
    // compaction. Six appends split by partkey % 6, so EVERY file spans
    // the whole partkey range and plain name-order packing could never
    // restore pruning; the zorderBy compact rewrites the set into
    // key-space hyper-rectangles and the query REQUIRES readPruned to
    // skip files again afterward. targetBytes derives from the observed
    // input (total/4 → 4 packed files) so the shape is scale-proof.
    // Oracle = the raw-table relational replay (content identical). ------
    Query("s13_zorder_compact", (s, dir) => {
      val root = scratch("s13", "li_zcompact", dir)
      val S = graft.sources.SnapshotTable
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        .where(col("l_partkey") <= 200)
      if (S.latestVersion(root) == 0) {
        (0 until 6).foreach { i =>
          S.write(li.where(col("l_partkey") % 6 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("l_partkey", "l_suppkey"))
        }
        val m0 = S.readManifest(root, S.latestVersion(root))
        val total = m0.files.map(f => java.nio.file.Files.size(
          java.nio.file.Paths.get(root, "data", f))).sum
        S.compact(s, root, targetBytes = math.max(1L, total / 4),
          smallFraction = 1.0, zorderBy = Seq("l_partkey", "l_suppkey"))
      }
      require(S.readManifest(root, S.latestVersion(root)).op == "compact",
        "z-order compaction was inert")
      val (pruned, (kept, total)) = S.readPruned(s, root, "l_partkey", 20, 60)
      require(kept < total,
        s"z-order compaction restored no pruning: kept $kept of $total")
      pruned.where(col("l_partkey").between(20, 60))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    },
      // s13: the z-order-compacted snapshot must answer exactly like the
      // raw table (compaction is a permutation; pruning is asserted in-query)
      Sql("""SELECT l_suppkey, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
         FROM lineitem
         WHERE l_partkey <= 200 AND l_partkey BETWEEN 20 AND 60
         GROUP BY 1 ORDER BY 1""")),

    // ---- S5 extension: MERGE-ON-READ DELETE (deletion vectors). The
    // delete records matching row POSITIONS in a sidecar instead of
    // rewriting data files — the query REQUIRES the file set unchanged
    // and vectors present, then reads the table back with the vectors
    // applied transparently. Oracle = the relational remainder, so the
    // hash match certifies position capture + masked read end to end. --
    Query("s14_mor_delete", (s, dir) => {
      val root = scratch("s14", "orders_mor", dir)
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 8000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where(col("o_orderkey") % 2 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }
        val filesBefore = S.readManifest(root, S.latestVersion(root)).files
        val (_, touched, deleted) = S.deleteWhereMoR(s, root,
          col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
        require(deleted > 0, "MoR delete matched nothing — bad fixture")
        val mAfter = S.readManifest(root, S.latestVersion(root))
        require(mAfter.files == filesBefore,
          "merge-on-read delete must not rewrite data files")
        require(mAfter.dvs.nonEmpty && touched > 0,
          "deletion vectors missing after MoR delete")
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s14: the vector-masked read must equal the relational remainder
      // (in-query requires pin that no data file was rewritten)
      Sql("""SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
         FROM orders
         WHERE o_orderkey <= 8000
           AND NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
         ORDER BY o_orderkey""")),

    // ---- S5 extension: MERGE-ON-READ UPDATE — deletion vectors mask
    // the matched rows' old positions, postimage rows append as new
    // files, nothing is rewritten (pinned in-query: every original file
    // survives and carries a vector). The captured feed must hold
    // exactly 2×matched events. Oracle = the relational CASE over the
    // base table. ------------------------------------------------------
    Query("s16_mor_update", (s, dir) => {
      val root = scratch("s16", "orders_morupd", dir)
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 8000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where(col("o_orderkey") % 2 === i).coalesce(1), root,
            mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }
        val before = S.readManifest(root, 2).files
        val (_, touched, updated) = S.updateWhereMoR(s, root,
          col("o_orderstatus") === "O" && col("o_orderkey") % 10 === 3,
          Map("o_totalprice" -> (col("o_totalprice") + 5000)),
          changeCapture = true)                                    // v3
        require(updated > 0, "MoR update matched nothing — bad fixture")
        val mAfter = S.readManifest(root, 3)
        require(before.forall(mAfter.files.contains) && touched > 0 &&
          mAfter.dvs.nonEmpty,
          "merge-on-read update must keep originals and add vectors")
        val nCdc = S.readChanges(s, root, fromVersion = 2).count()
        require(nCdc == 2 * updated,
          s"captured update feed must hold 2 events per row, got $nCdc")
      }
      S.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // s16: the vector-masked read plus appended postimages must equal
      // the relational CASE over the base table
      Sql("""SELECT o_orderkey, o_orderstatus,
           round(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 10 = 3
                      THEN o_totalprice + 5000 ELSE o_totalprice END,
                 2) AS totalprice
         FROM orders WHERE o_orderkey <= 8000
         ORDER BY o_orderkey""")),

    // ---- S5 extension: incremental materialized-view maintenance — a
    // keyed count+sum rollup kept current by FOLDING the base table's
    // row-level change feed into the summary SnapshotTable (inserts/
    // postimages +, deletes/preimages −) instead of recomputing: the
    // 100 TB pattern where the rollup costs O(|changes|) per refresh.
    // Sums ride as DECIMAL end to end so incremental ≡ batch EXACTLY;
    // the in-query require pins that equality against a fresh batch
    // recompute, and the oracle recomputes the same rollup relationally
    // from the mutated base — a hash match certifies the whole chain:
    // capture, delta fold, merge, empty-group deletion. ------------------
    Query("s17_incremental_agg", (s, dir) => {
      val root = scratch("s17", "ord_base", dir)
      val sroot = scratch("s17", "ord_sum", dir)
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarize(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover")).coalesce(1), sroot,
          mode = "overwrite")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 150,
          changeCapture = true)                                        // v3
        IA.applyChanges(s, root, sroot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"))
        // the maintained view must equal a batch recompute EXACTLY —
        // row set, counts, and decimal sums (group-count-sized collect)
        val inc = S.read(s, sroot)
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSet
        val batch = IA.summarize(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSet
        require(inc == batch,
          s"incremental view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"))
        .orderBy(col("o_orderstatus"))
    },
      // s17: the incrementally-maintained rollup must equal the batch
      // recompute over the mutated base (merge upserts win on matched keys,
      // inserts join, deletes leave) — same decimal-sum money doctrine as q1
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         final AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 150)
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover
         FROM final GROUP BY 1 ORDER BY 1""")),

    // ---- S5 extension: incremental view WITH exact COUNT(DISTINCT) —
    // the aggregate that is not a commutative group, maintained by the
    // two-level fold: changes maintain a (group, value)→multiplicity
    // detail table (multiplicities DO retract exactly), then touched
    // groups re-read their distinct counts from the detail slice only.
    // The merge inserts new custkeys and the delete retracts custkeys
    // whose only orders die, so both distinct transitions run; the
    // in-query require pins incremental == fresh batch recompute. ------
    Query("s19_incremental_distinct", (s, dir) => {
      val root = scratch("s19", "ord_base", dir)
      val sroot = scratch("s19", "ord_sum", dir)
      val droot = scratch("s19", "ord_det", dir)
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val dc = ("o_custkey", "custs")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getLong(3))).toSet
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarizeWithDistinct(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"), dc).coalesce(1), sroot,
          mode = "overwrite")
        IA.seedDistinctDetail(s, root, droot, Seq("o_orderstatus"),
          "o_custkey")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_orderkey") <= 150,
          changeCapture = true)                                        // v3
        IA.applyChangesWithDistinct(s, root, sroot, droot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), dc)
        val inc = rows(S.read(s, sroot))
        val batch = rows(IA.summarizeWithDistinct(S.read(s, root),
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), dc))
        require(inc == batch,
          s"distinct view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"),
          col("custs"))
        .orderBy(col("o_orderstatus"))
    },
      // s19: the distinct-carrying incremental view must equal the batch
      // recompute — custkeys arrive with the merge's inserts and leave with
      // the delete when their only orders die
      Sql("""WITH b AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         final AS (
           SELECT * FROM (
             SELECT * FROM m
             UNION ALL
             SELECT * FROM b
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
           WHERE o_orderkey > 150)
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover,
                count(DISTINCT o_custkey) AS custs
         FROM final GROUP BY 1 ORDER BY 1""")),

    // ---- S5 extension: incremental view WITH exact min/max — the
    // retraction hybrid: arrivals fold monotonically, and only groups
    // whose stored extremum was retracted rescan their base slice. The
    // delete removes every row above a price threshold, so group maxes
    // ARE retracted and the rescan path runs for real; the in-query
    // require pins incremental == fresh batch recompute. ----------------
    Query("s18_incremental_minmax", (s, dir) => {
      val root = scratch("s18", "ord_base", dir)
      val sroot = scratch("s18", "ord_sum", dir)
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val mm = Seq(("o_totalprice", "tp_min", "tp_max"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getDouble(3), r.getDouble(4))).toSet
      if (S.latestVersion(root) == 0) {
        S.write(ord.where(col("o_orderkey") <= 1000).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.write(IA.summarizeWithMinMax(S.read(s, root), Seq("o_orderstatus"),
          Seq("o_totalprice" -> "turnover"), mm).coalesce(1), sroot,
          mode = "overwrite")
        S.merge(ord.where(col("o_orderkey").between(800, 1200))
            .withColumn("o_totalprice", round(col("o_totalprice") + 500, 2)),
          root, Seq("o_orderkey"), changeCapture = true)               // v2
        S.deleteWhere(s, root, col("o_totalprice") > 350000,
          changeCapture = true)                                        // v3
        IA.applyChangesWithMinMax(s, root, sroot, fromVersion = 1,
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), mm)
        val inc = rows(S.read(s, sroot))
        val batch = rows(IA.summarizeWithMinMax(S.read(s, root),
          Seq("o_orderstatus"), Seq("o_totalprice" -> "turnover"), mm))
        require(inc == batch,
          s"min/max view diverged from batch recompute:\n$inc\nvs\n$batch")
      }
      S.read(s, sroot)
        .select(col("o_orderstatus"), col("n"),
          round(col("turnover").cast("double"), 2).as("turnover"),
          round(col("tp_min"), 2).as("tp_min"),
          round(col("tp_max"), 2).as("tp_max"))
        .orderBy(col("o_orderstatus"))
    },
      // s18: the min/max-carrying incremental view must equal the batch
      // recompute — the delete predicate applies to POST-merge values
      // (deleteWhere runs on the merged head), extrema are exact picks
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 1000),
         m AS (
           SELECT o_orderkey, o_orderstatus,
                  round(o_totalprice + 500, 2) AS o_totalprice
           FROM orders WHERE o_orderkey BETWEEN 800 AND 1200),
         merged AS (
           SELECT * FROM m
           UNION ALL
           SELECT * FROM b
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m)),
         final AS (SELECT * FROM merged WHERE NOT (o_totalprice > 350000))
         SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS turnover,
                round(min(o_totalprice), 2) AS tp_min,
                round(max(o_totalprice), 2) AS tp_max
         FROM final GROUP BY 1 ORDER BY 1""")),

    // ---- S5 extension: copy-on-write UPDATE ... SET with row-level
    // change capture. Two stats-bounded files; the pruneHint must skip
    // the non-overlapping one (pinned in-query), and the captured feed
    // must hold exactly 2×matched events — preimage rows verbatim,
    // postimage rows with the assignments applied. Oracle = the
    // relational replay of both event classes. --------------------------
    Query("s15_cow_update", (s, dir) => {
      val root = scratch("s15", "orders_upd", dir)
      val S = graft.sources.SnapshotTable
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .where(col("o_orderkey") <= 6000)
      if (S.latestVersion(root) == 0) {
        (0 until 2).foreach { i =>
          S.write(o.where((col("o_orderkey") <= 3000) === (i == 0))
            .coalesce(1), root, mode = if (i == 0) "overwrite" else "append",
            statsCols = Seq("o_orderkey"))
        }                                                          // v1, v2
        val (_, rewritten, skipped) = S.updateWhere(s, root,
          col("o_orderkey").between(1000, 2000) &&
            col("o_orderstatus") === "O",
          Map("o_orderstatus" -> lit("U"),
            "o_totalprice" -> (col("o_totalprice") + 1000)),
          pruneHint = Some(("o_orderkey", 1000.0, 2000.0)),
          changeCapture = true)                                    // v3
        require(rewritten == 1 && skipped == 1,
          s"update must rewrite 1 file and stats-skip 1, " +
            s"got rewritten=$rewritten skipped=$skipped")
      }
      val feed = S.readChanges(s, root, fromVersion = 2)
      val nMatch = o.where(col("o_orderkey").between(1000, 2000) &&
        col("o_orderstatus") === "O").count()
      require(nMatch > 0, "update matched nothing — bad fixture")
      require(feed.count() == 2 * nMatch,
        "captured update feed must hold exactly 2 events per matched row")
      feed.select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"), col("_change_type"))
        .orderBy(col("o_orderkey"), col("_change_type"))
    },
      // s15: the captured UPDATE feed expressed relationally — preimage
      // rows verbatim, postimage rows with the assignments applied
      Sql("""WITH b AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey <= 6000),
         m AS (
           SELECT * FROM b
           WHERE o_orderkey BETWEEN 1000 AND 2000 AND o_orderstatus = 'O')
         SELECT o_orderkey, o_orderstatus,
                round(o_totalprice, 2) AS totalprice, _change_type
         FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
                  'update_preimage' AS _change_type FROM m
           UNION ALL
           SELECT o_orderkey, 'U', o_totalprice + 1000,
                  'update_postimage' FROM m)
         ORDER BY o_orderkey, _change_type""")),

    // ---- S5 extension: SCD Type-2 dimension history (s34) — the CDC
    // feed of an overwrite + two captured merges + a captured delete
    // folds into (key, valid_from, valid_to, is_current) intervals; the
    // oracle rebuilds every interval relationally from the base table. ---
    Query("s34_scd2", (s, dir) => {
      val root = scratch("s34", "cust_scd2", dir)
      val S = graft.sources.SnapshotTable
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      if (S.latestVersion(root) == 0) {
        S.write(cust.where(col("c_custkey") <= 400).coalesce(1), root,
          mode = "overwrite")                                          // v1
        S.merge(cust.where(col("c_custkey").between(350, 420))
            .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v2
        S.merge(cust.where(col("c_custkey").between(380, 410))
            .withColumn("c_acctbal", round(col("c_acctbal") + 500, 2)),
          root, Seq("c_custkey"), changeCapture = true)                // v3
        S.deleteWhere(s, root, col("c_custkey").between(390, 395),
          changeCapture = true)                                        // v4
      }
      graft.sources.Scd2.buildFrom(
        S.read(s, root, version = Some(1)), baseVersion = 1,
        feed = S.readChanges(s, root, fromVersion = 1), Seq("c_custkey"))
    },
      // s34: the interval history rebuilt relationally — arrivals per
      // version, lead() closes replacements, the delete closes 390..395
      Sql("""WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg,
                      c_acctbal AS bal FROM customer),
         v1 AS (SELECT k, seg, bal, 1 AS vf FROM c WHERE k <= 400),
         v2 AS (SELECT k, seg, round(bal + 1000, 2) AS bal, 2 AS vf
                FROM c WHERE k BETWEEN 350 AND 420),
         v3 AS (SELECT k, seg, round(bal + 500, 2) AS bal, 3 AS vf
                FROM c WHERE k BETWEEN 380 AND 410),
         allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
                  UNION ALL SELECT * FROM v3),
         closed AS (SELECT k, seg, bal, vf,
                      lead(vf) OVER (PARTITION BY k ORDER BY vf) AS vt0
                    FROM allv),
         fin AS (SELECT k, seg, bal, vf,
                   CASE WHEN vt0 IS NOT NULL THEN vt0
                        WHEN k BETWEEN 390 AND 395 THEN 4 END AS vt
                 FROM closed)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
                CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to,
                (vt IS NULL) AS is_current
         FROM fin ORDER BY c_custkey, valid_from""")),

    // ---- storage: CHECK constraint enforcement (s36) — the Delta ADD
    // CONSTRAINT contract exercised end to end IN-QUERY: register on a
    // compliant table, a violating append is refused WITHOUT committing
    // (require pins both), the repaired rows land, and the final census
    // is oracled (base nonnegatives + |negatives| ≡ abs over everyone). -
    Query("s36_check_enforced", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val root = scratch("s36", "cust_checks", dir)
      graft.sources.SnapshotTable.write(
        cust.where(col("c_acctbal") >= 0), root, mode = "overwrite")
      graft.sources.SnapshotTable.addCheckConstraint(
        s, root, "nonneg_bal", "c_acctbal >= 0")
      val v0 = graft.sources.SnapshotTable.latestVersion(root)
      val refused =
        try {
          graft.sources.SnapshotTable.write(
            cust.where(col("c_acctbal") < 0), root, mode = "append")
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "violating append must be refused")
      require(graft.sources.SnapshotTable.latestVersion(root) == v0,
        "a refused write must not commit a version")
      graft.sources.SnapshotTable.write(
        cust.where(col("c_acctbal") < 0)
          .withColumn("c_acctbal", abs(col("c_acctbal"))),
        root, mode = "append")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("min_bal"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    },
      // s36: base nonnegatives + repaired |negatives| ≡ abs over everyone
      Sql("""SELECT c_mktsegment,
                CAST(count(*) AS BIGINT) AS n,
                round(min(abs(c_acctbal)), 2) AS min_bal,
                round(CAST(sum(CAST(abs(c_acctbal) AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS sum_bal
         FROM customer
         GROUP BY 1 ORDER BY 1"""))
  )
}
