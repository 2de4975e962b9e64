package graft
package queries

import org.apache.spark.sql.functions._

import Oracle.Sql
import Shared._

/** e-family: event streams — time functions, sessions, as-of and interval
  * joins, change detection, and the batch forms of streaming patterns
  * (per-key folds, idempotent per-batch writers) over closed inputs. */
object EventQueries extends Family("e") {

  /** `n` time-ordered slices of `ev` on fixed-width boundaries of
    * unix_micros(ts), so equal timestamps never straddle two slices. */
  private def timeSlices(ev: org.apache.spark.sql.DataFrame,
      n: Int): Seq[org.apache.spark.sql.DataFrame] = {
    val mm = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head
    val lo = mm.getLong(0)
    val step = (mm.getLong(1) - lo) / n + 1
    (0 until n).map(b =>
      ev.where(expr(s"(unix_micros(ts) - ${lo}L) div ${step}L") === b))
  }

  val queries: Seq[Query] = Seq(
    // ---- §2.7 date functions + events hourly rollup ---------------------
    Query("e1_events_hourly", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_ts"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
        .orderBy(col("hour_ts"))
    },
      Sql("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
                count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
         FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- per-user event count and value sum (EventStream.sessionize) ---
    Query("e2_sessionize", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      graft.streaming.EventStream.sessionize(ev).toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"))
    },
      Sql("""SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- §2.7 extension: JSON column extraction -------------------------
    Query("e4_json_extract", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_value"))
        .groupBy(col("k_value")).agg(count(lit(1)).as("n"))
        .orderBy(col("k_value"))
    },
      Sql("""SELECT json_extract_string(props, '$.k') AS k_value, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- as-of join (composed: tagged union + running last) -------------
    Query("e3_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.ops.AsOfJoin.asofBackward(clicks, errors, Seq("user_id"),
          "ts", "ts", Seq("event_id" -> "error_event_id"))
        .select(col("user_id"), col("event_id"), col("error_event_id"))
        .orderBy(col("event_id"))
    },
      Sql("""SELECT c.user_id, c.event_id, e.event_id AS error_event_id
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN
              (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e
           ON c.user_id = e.user_id AND c.ts >= e.ts
         ORDER BY c.event_id""")),

    // ---- events: CUSUM drift detection (e15) — the stateful
    // max(0, S+(c−k)) recurrence as TWO partitioned running windows via
    // the reflection identity; doubled-unit integers end to end. ----------
    Query("e15_cusum", (s, dir) => {
      graft.ops.Resample.cusumDetect(Tables.events(s, dir),
          "event_type", "ts", "hour", target2 = 5L, threshold2 = 40L)
        .select(col("key"), col("bucket_ts").cast("long").as("bucket_ts"),
          col("c"), col("cusum2"), col("alarm"))
        .orderBy(col("key"), col("bucket_ts"))
    },
      // e15: prefix sum + prefix min — the reflection form of the CUSUM
      // recurrence, pure doubled-unit integer arithmetic
      Sql("""WITH counts AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    AS bucket_ts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         pp AS (
           SELECT key, bucket_ts, c,
                  sum(2 * c - 5) OVER (PARTITION BY key ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM counts),
         p AS (
           SELECT key, bucket_ts, c, pp,
                  least(0, min(pp) OVER (PARTITION BY key ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mm
           FROM pp)
         SELECT key, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts, c,
                CAST(pp - mm AS BIGINT) AS cusum2,
                (pp - mm >= 40) AS alarm
         FROM p ORDER BY key, bucket_ts""")),

    // ---- events: cohort retention triangle (e16) — users cohorted by
    // first active day; distinct (user, day) activity, one user-keyed
    // join, count(*) over unique pairs IS the distinct-user count. -------
    Query("e16_retention", (s, dir) => {
      graft.ops.Resample.retentionCohorts(
          Tables.events(s, dir), "user_id", "ts", horizon = 14)
        .select(col("cohort").cast("string").as("cohort"),
          col("k").cast("long").as("k"), col("n_users"), col("cohort_size"),
          col("pct"))
        .orderBy(col("cohort"), col("k"))
    },
      // e16: distinct (user, day) activity → per-user first day → k-day
      // offsets; count(*) over unique pairs IS the distinct-user count
      Sql("""WITH act AS (
           SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         f AS (SELECT u, min(d) AS cohort FROM act GROUP BY u),
         j AS (SELECT cohort, datediff('day', cohort, d) AS k
               FROM act JOIN f USING (u)
               WHERE datediff('day', cohort, d) <= 14),
         c AS (SELECT cohort, CAST(k AS BIGINT) AS k,
                 CAST(count(*) AS BIGINT) AS n_users
               FROM j GROUP BY 1, 2),
         sz AS (SELECT cohort, n_users AS cohort_size FROM c WHERE k = 0)
         SELECT CAST(c.cohort AS VARCHAR) AS cohort, c.k, c.n_users,
                sz.cohort_size,
                round(CAST(c.n_users AS DOUBLE)
                      / CAST(sz.cohort_size AS DOUBLE), 6) AS pct
         FROM c JOIN sz USING (cohort)
         ORDER BY cohort, k""")),

    // ---- events: gaps-and-islands segmentation (e20) — maximal
    // consecutive-bucket runs per key via the idx − row_number constant;
    // sparse high-value events make real gaps. ---------------------------
    Query("e20_islands", (s, dir) => {
      graft.ops.Resample.activityIslands(
        Tables.events(s, dir).where(col("value") >= 19.0),
        "event_type", "ts", "hour")
    },
      // e20: the identical idx − row_number island constant
      Sql("""WITH counts AS (
           SELECT event_type AS key,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE value >= 19.0 AND ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         g AS (SELECT key, b, c,
                 epoch_us(b) // 3600000000
                   - row_number() OVER (PARTITION BY key ORDER BY b) AS grp
               FROM counts)
         SELECT key, CAST(epoch(min(b)) AS BIGINT) AS start_ts,
                CAST(epoch(max(b)) AS BIGINT) AS end_ts,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(c) AS BIGINT) AS n_events
         FROM g GROUP BY key, grp ORDER BY key, start_ts""")),

    // ---- events: per-(type, day) latency bands (e17) — exact type-1
    // p50/p95/max from the q10 cent-cell cumsum, keyed shuffle only. -----
    Query("e17_latency_bands", (s, dir) => {
      graft.ops.Quality.quantileBands(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")).cast("string")),
        Seq("event_type", "day"), "value")
    },
      // e17: the q10 cent-cell cumsum per (type, day), exact type-1 ranks
      Sql("""WITH cells AS (
           SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
             AND ts IS NOT NULL
           GROUP BY 1, 2, 3),
         cum AS (
           SELECT event_type, day, vc, c,
                  CAST(sum(c) OVER (PARTITION BY event_type, day
                    ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ci,
                  CAST(sum(c) OVER (PARTITION BY event_type, day)
                    AS BIGINT) AS n
           FROM cells),
         f AS (
           SELECT event_type, day, n,
                  min(CASE WHEN ci >= (n + 1) // 2 THEN vc END) AS p50c,
                  min(CASE WHEN ci >= (19 * n + 19) // 20 THEN vc END) AS p95c,
                  max(vc) AS maxc
           FROM cum GROUP BY 1, 2, 3)
         SELECT event_type, day, n,
                CAST(p50c AS DOUBLE) / 100.0 AS p50,
                CAST(p95c AS DOUBLE) / 100.0 AS p95,
                CAST(maxc AS DOUBLE) / 100.0 AS vmax
         FROM f ORDER BY event_type, day""")),

    // ---- events: integer-exact autocorrelation (e18) — the seasonality
    // detector: r_k scaled through by n² so every sum is integer, one
    // division per (key, lag). -------------------------------------------
    Query("e18_acf", (s, dir) => {
      graft.ops.Resample.acfCounts(Tables.events(s, dir), "event_type", "ts",
        "hour", maxLag = 6)
    },
      // e18: the n²-scaled integer ACF — six lead arms, HUGEINT sums,
      // one division per (key, lag)
      Sql {
        val arms = (1 to 6).map(k =>
          s"""SELECT key, n, $k AS lag, m,
              lead(m, $k) OVER (PARTITION BY key ORDER BY b) AS ml
            FROM mm""").mkString("\n           UNION ALL\n           ")
        s"""WITH counts AS (
           SELECT event_type AS key,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         mf AS (
           SELECT key, b, c,
                  CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
                  CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS s
           FROM counts),
         mm AS (SELECT key, b, n, n * c - s AS m FROM mf),
         lagged AS (
           $arms),
         num AS (
           SELECT key, CAST(lag AS BIGINT) AS lag, n,
                  sum(CAST(m AS HUGEINT) * ml) AS num
           FROM lagged WHERE ml IS NOT NULL GROUP BY 1, 2, 3),
         den AS (
           SELECT key, sum(CAST(m AS HUGEINT) * m) AS den FROM mm GROUP BY 1)
         SELECT key, lag, n AS n_buckets,
                CASE WHEN den > 0
                     THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
                     ELSE 0.0 END AS acf
         FROM num JOIN den USING (key)
         ORDER BY key, lag"""
      }),

    // ---- ordered funnel analysis (e9): view → click → purchase with
    // STRICT event-time ordering per user (a click before the first view
    // doesn't count). Three chained stages, each ONE key-partitioned
    // aggregation + one key join (the stage frames are user-count-sized —
    // broadcast-able dims at scale); no window over the raw event stream,
    // no per-user collect. ------------------------------------------------
    Query("e9_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"))
      val c = ev.join(v, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(when(col("event_type") === "click" && col("us") > col("t_view")
            && col("us") <= col("t_view") + 604800000000L,
          col("us"))).as("t_click"))
      val p = ev.join(c, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view"), col("t_click"))
        .agg(min(when(col("event_type") === "purchase" && col("us") > col("t_click")
            && col("us") <= col("t_click") + 604800000000L,
          col("us"))).as("t_purchase"))
      p.agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("reached_view"),
        count(col("t_click")).as("reached_click"),
        count(col("t_purchase")).as("reached_purchase"))
    },
      // e9: the same three chained stage aggregations as CTEs
      Sql("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id,
                      min(CASE WHEN event_type = 'view' THEN us END) AS t_view
               FROM e GROUP BY 1),
         c AS (SELECT e.user_id, v.t_view,
                      min(CASE WHEN e.event_type = 'click' AND e.us > v.t_view
                               AND e.us <= v.t_view + 604800000000
                          THEN e.us END) AS t_click
               FROM e JOIN v USING (user_id) GROUP BY 1, 2),
         p AS (SELECT e.user_id, c.t_view, c.t_click,
                      min(CASE WHEN e.event_type = 'purchase' AND e.us > c.t_click
                               AND e.us <= c.t_click + 604800000000
                          THEN e.us END) AS t_purchase
               FROM e JOIN c USING (user_id) GROUP BY 1, 2, 3)
         SELECT count(*) AS n_users, count(t_view) AS reached_view,
                count(t_click) AS reached_click,
                count(t_purchase) AS reached_purchase
         FROM p""")),

    // ---- attribution interval join: same user, purchase within 30 min ---
    Query("e5_attributed_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.attributedJoin(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"), "30 minutes")
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          col("l_value"), col("r_value"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    },
      // CAST(ts AS TIMESTAMP) truncates DuckDB's ns-precision read to the same
      // microsecond precision the engine's events table normalizes to
      Sql("""SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
                l.value AS l_value, r.value AS r_value
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'view') l
         JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
         ORDER BY l_event_id, r_event_id""")),

    // ---- LEFT-OUTER attribution (e13): unconverted views emit with null
    // purchase columns. ---------------------------------------------------
    Query("e13_attributed_outer", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.attributedJoinOuter(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"), "30 minutes")
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          col("l_value"), col("r_value"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    },
      // e13: the same join LEFT OUTER — unconverted views keep null r_*
      Sql("""SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
                l.value AS l_value, r.value AS r_value
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'view') l
         LEFT JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
         ORDER BY l_event_id, r_event_id""")),

    // ---- near-dup pairs by owning band (StreamingNearDup.batchReplay):
    // d8's md5-slice signature, band keys with a per-bucket cap, one row
    // per pair from its owning band, over a static corpus --------------
    Query("e7_stream_neardup_replay", (s, dir) => {
      graft.streaming.StreamingNearDup.batchReplay(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("dup_of"))
    },
      // e7: d8's signature CTE + band keys; the OR-join emits one row per
      // colliding pair, which is exactly the owning-band single emission; the
      // pair survives only if its OWNING band's bucket is within the cap
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
         bk AS (SELECT *, m0||m1 AS b0, m2||m3 AS b1, m4||m5 AS b2, m6||m7 AS b3
                FROM sig),
         bkl AS (SELECT doc_id, 0 AS band, b0 AS key FROM bk
                 UNION ALL SELECT doc_id, 1, b1 FROM bk
                 UNION ALL SELECT doc_id, 2, b2 FROM bk
                 UNION ALL SELECT doc_id, 3, b3 FROM bk),
         cnt AS (SELECT band, key, count(*) AS c FROM bkl GROUP BY 1, 2),
         pairs AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS dup_of,
                  (a.m0=b.m0)::INT + (a.m1=b.m1)::INT + (a.m2=b.m2)::INT +
                  (a.m3=b.m3)::INT + (a.m4=b.m4)::INT + (a.m5=b.m5)::INT +
                  (a.m6=b.m6)::INT + (a.m7=b.m7)::INT AS agree,
                  CASE WHEN a.b0=b.b0 THEN 0 WHEN a.b1=b.b1 THEN 1
                       WHEN a.b2=b.b2 THEN 2 ELSE 3 END AS oband,
                  CASE WHEN a.b0=b.b0 THEN a.b0 WHEN a.b1=b.b1 THEN a.b1
                       WHEN a.b2=b.b2 THEN a.b2 ELSE a.b3 END AS okey
           FROM bk a JOIN bk b ON a.doc_id < b.doc_id
             AND (a.b0=b.b0 OR a.b1=b.b1 OR a.b2=b.b2 OR a.b3=b.b3))
         SELECT doc_id, dup_of, agree FROM pairs
         JOIN cnt ON cnt.band = pairs.oband AND cnt.key = pairs.okey
         WHERE agree >= 6 AND cnt.c <= 50
         ORDER BY doc_id, dup_of""")),

    // ---- first-seen exact dedup: first event per content hash by (event
    // time, id) over a closed corpus (EventStream.exactDedupReplay) ------
    Query("e8_stream_dedup_replay", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.exactDedupReplay(
          ev.select(col("event_id"), col("ts"), col("props")),
          idCol = "event_id", tsCol = "ts", contentCol = "props")
        .select(col("content_hash"), unix_micros(col("ts")).as("first_ts"),
          col("event_id"))
        .orderBy(col("content_hash"))
    },
      // e8: first event per payload hash by (event time, id); ts compared at
      // the engine's microsecond precision on both sides
      Sql("""SELECT content_hash, CAST(epoch_us(ts) AS BIGINT) AS first_ts, event_id
         FROM (
           SELECT md5(props) AS content_hash, CAST(ts AS TIMESTAMP) AS ts, event_id,
                  row_number() OVER (PARTITION BY md5(props)
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY content_hash""")),

    // ---- CUSUM as a per-key fold (e28): StreamingCusum's foldBuckets
    // recurrence over the closed hourly-count corpus — equal to any
    // consecutive split of the buckets since the recurrence is
    // per-bucket. The output additionally pins the final state against
    // e15's ★ batch cusumDetect chain in-band (matches_e15); the oracle
    // replays the doubled-unit reflection chain relationally. ----------
    Query("e28_stream_cusum_replay", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val counts = ev.where(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type").as("key"),
          date_trunc("hour", col("ts")).as("bts"))
        .agg(count(lit(1)).as("c"))
        .select(col("key"), unix_micros(col("bts")).as("bts"), col("c"))
        .as[(String, Long, Long)]
      val fold = graft.streaming.StreamingCusum.batchReplay(counts, 5L, 40L)
        .toDF()
      val batch = graft.ops.Resample.cusumDetect(ev,
          "event_type", "ts", "hour", target2 = 5L, threshold2 = 40L)
        .groupBy(col("key")).agg(
          count(lit(1)).as("nb"),
          max_by(col("cusum2"), col("bucket_ts")).as("c2b"),
          max_by(col("alarm"), col("bucket_ts")).as("ab"),
          bool_or(col("alarm")).as("everb"))
      fold.join(batch, "key")
        .select(col("key"), col("n_buckets"), col("cusum2"),
          col("alarm_now"), col("alarmed_ever"),
          (col("n_buckets") === col("nb") && col("cusum2") === col("c2b") &&
            col("alarm_now") === col("ab") &&
            col("alarmed_ever") === col("everb")).as("matches_e15"))
        .orderBy(col("key"))
    },
      // e28: the doubled-unit reflection chain (the e15 machinery) replayed
      // relationally; the fold's final state per key is its last row, and
      // matches_e15 is TRUE by construction (both sides are the same
      // statistic — a diverging engine fold would mismatch the hash)
      Sql("""WITH b AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         ch AS (
           SELECT key, bts,
                  CAST(sum(2*c - 5) OVER (PARTITION BY key ORDER BY bts) AS BIGINT) AS p
           FROM b),
         st AS (
           SELECT key, bts, p,
                  CAST(least(0, min(p) OVER (PARTITION BY key ORDER BY bts)) AS BIGINT) AS pmin
           FROM ch)
         SELECT key, CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(max_by(p - pmin, bts) AS BIGINT) AS cusum2,
                max_by(p - pmin >= 40, bts) AS alarm_now,
                bool_or(p - pmin >= 40) AS alarmed_ever,
                TRUE AS matches_e15
         FROM st GROUP BY key ORDER BY key""")),

    // ---- Misra–Gries as a per-key fold (e29): StreamingHeavyHitters'
    // foldBatch step over the closed corpus as one batch, then the MG
    // guarantee certified IN-BAND against the exact per-item truth: every
    // counter is a lower bound, counter+spilled an upper bound, the spill
    // mass respects processed/(k+1), and every provably-heavy item
    // (true·(k+1) > processed) is present — n_heavy_found is hash-pinned
    // to the oracle's exact n_heavy_true. --------------------------------
    Query("e29_stream_hh_replay", (s, dir) => {
      import s.implicits._
      val k = 4
      // ONE corpus pass: the raw keyed frame feeds only the truth
      // aggregate; the MG fold replays over the PRE-SUMMED truth cells
      // (batchReplay's first step is exactly that per-key item sum, so
      // the fold's input multiset — and the sketch — is bit-identical;
      // StreamingHeavyHittersSpec pins it). This drops the old second
      // corpus-wide shuffle + typed-encoder pass into the fold. truth
      // feeds five consumers (fold, perKey, heavy filter, bounds join,
      // semi join) — pinned. mg is ≤ k rows per key: broadcast it
      // explicitly.
      val keyed = t(s, dir, "lineitem").select(
        col("l_returnflag").as("key"),
        when(col("l_linenumber") <= 3,
          concat(lit("hot_"), col("l_orderkey") % 2))
          .otherwise(concat(lit("cold_"), col("l_orderkey"), lit("_"),
            col("l_linenumber"))).as("item"),
        col("l_quantity").cast("long").as("w"))
      val truth = keyed.groupBy(col("key"), col("item"))
        .agg(sum(col("w")).as("truew"))
        .localCheckpoint()
      val mg = graft.streaming.StreamingHeavyHitters.batchReplay(
        truth.as[(String, String, Long)], k).toDF()
      val perKey = truth.groupBy(col("key")).agg(sum(col("truew")).as("processed"))
      val heavyItems = truth.join(broadcast(perKey), "key")
        .where(lit(k + 1) * col("truew") > col("processed"))
      // MG invariants read in-band: counter is a lower bound, counter +
      // spilled an upper bound, spill mass ≤ processed/(k+1), table ≤ k —
      // mg carries its own exact processed/spilled accounting
      val mgChecked = truth.join(broadcast(mg), Seq("key", "item"))
        .groupBy(col("key")).agg(
          count(lit(1)).as("n_counters"),
          bool_and(col("count_lb") <= col("truew") &&
            col("truew") <= col("count_lb") + col("spilled")).as("all_bounds_hold"),
          bool_and(col("spilled") * (k + 1) <= col("processed")).as("spill_ok"))
      val found = heavyItems
        .join(broadcast(mg.select(col("key"), col("item"))),
          Seq("key", "item"), "left_semi")
        .groupBy(col("key")).agg(count(lit(1)).as("n_heavy_found"))
      perKey
        .join(heavyItems.groupBy(col("key")).agg(count(lit(1)).as("n_heavy_true")),
          Seq("key"), "left")
        .join(found, Seq("key"), "left")
        .join(mgChecked, "key")
        .select(col("key"), col("processed"),
          coalesce(col("n_heavy_true"), lit(0L)).as("n_heavy_true"),
          coalesce(col("n_heavy_found"), lit(0L)).as("n_heavy_found"),
          col("all_bounds_hold"), col("spill_ok"),
          (col("n_counters") <= k).as("table_bounded"))
        .orderBy(col("key"))
    },
      // e29: exact per-item truth + per-key totals; n_heavy_found is pinned
      // to the EXACT n_heavy_true (a lost guaranteed-heavy item would
      // mismatch), the guarantee booleans are TRUE by the MG invariant
      Sql("""WITH kw AS (
           SELECT l_returnflag AS key,
                  CASE WHEN l_linenumber <= 3
                       THEN 'hot_' || CAST(l_orderkey % 2 AS VARCHAR)
                       ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) || '_'
                            || CAST(l_linenumber AS VARCHAR) END AS item,
                  CAST(l_quantity AS BIGINT) AS w
           FROM lineitem),
         tc AS (SELECT key, item, CAST(sum(w) AS BIGINT) AS truew
                FROM kw GROUP BY 1, 2),
         tot AS (SELECT key, CAST(sum(truew) AS BIGINT) AS processed
                 FROM tc GROUP BY 1)
         SELECT t.key, t.processed,
                CAST(count(*) FILTER (WHERE 5 * c.truew > t.processed) AS BIGINT)
                  AS n_heavy_true,
                CAST(count(*) FILTER (WHERE 5 * c.truew > t.processed) AS BIGINT)
                  AS n_heavy_found,
                TRUE AS all_bounds_hold, TRUE AS spill_ok, TRUE AS table_bounded
         FROM tot t JOIN tc c ON t.key = c.key
         GROUP BY t.key, t.processed ORDER BY t.key""")),

    // ---- SPRT as a per-key fold over looks (e30): StreamingSprt's
    // foldLook step once per day in look order — the look schedule r70
    // models, so the latched crossing flags replay the sequential test's
    // look path. Exact totals and the closed-form LLR (JVM constants
    // interpolated) hash-certify against the relational look chain. ----
    Query("e30_stream_sprt_replay", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val counts = ev.where(col("ts").isNotNull)
        .groupBy(when(col("user_id") % 2 === 1, "odd").otherwise("even").as("key"),
          unix_micros(date_trunc("day", col("ts"))).as("look"))
        .agg(count(lit(1)).as("t"),
          count(when(col("event_type") === "purchase", 1)).as("x"))
        .as[(String, Long, Long, Long)]
      graft.streaming.StreamingSprt.batchReplay(counts, p0 = 0.18, p1 = 0.22)
        .toDF()
        .select(col("key"), col("n"), col("x"),
          (round(col("llr"), 6) + lit(0.0)).as("llr"),
          col("crossedUp").as("crossed_up"), col("crossedDn").as("crossed_dn"),
          col("decision"))
        .orderBy(col("key"))
    },
      // e30: the look chain replayed relationally — cumulative exact totals
      // per day, the closed-form LLR with the SAME JVM-interpolated
      // constants, latched flags via bool_or over the chain
      Sql {
        val c1 = math.log(0.22 / 0.18); val c0 = math.log(0.78 / 0.82)
        val up = math.log(0.95 / 0.05); val dn = math.log(0.05 / 0.95)
        s"""WITH lk AS (
           SELECT CASE WHEN user_id % 2 = 1 THEN 'odd' ELSE 'even' END AS key,
                  date_trunc('day', CAST(ts AS TIMESTAMP)) AS look,
                  CAST(count(*) AS BIGINT) AS t,
                  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         ch AS (
           SELECT key, look,
                  CAST(sum(t) OVER w AS BIGINT) AS n_cum,
                  CAST(sum(x) OVER w AS BIGINT) AS x_cum
           FROM lk WINDOW w AS (PARTITION BY key ORDER BY look)),
         ll AS (
           SELECT key, look, n_cum, x_cum,
                  CAST(x_cum AS DOUBLE) * ($c1)
                    + CAST(n_cum - x_cum AS DOUBLE) * ($c0) AS llr
           FROM ch)
         SELECT key, max_by(n_cum, look) AS n, max_by(x_cum, look) AS x,
                round(max_by(llr, look), 6) + 0.0 AS llr,
                bool_or(llr >= $up) AS crossed_up,
                bool_or(llr <= $dn) AS crossed_dn,
                CASE WHEN max_by(llr, look) >= $up THEN 'accept_h1'
                     WHEN max_by(llr, look) <= $dn THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM ll GROUP BY key ORDER BY key"""
      }),

    // ---- materialized view over four batches: four deterministic
    // TIME-ORDERED slices (timeSlices) run EventStream.rollupBatch —
    // newest event per user upserted with capture, captured slice folded
    // into the per-event-type rollup. Time-ordered batches make
    // sequential last-write-wins ≡ global newest-per-user, which is what
    // the oracle replays relationally; the in-query require additionally
    // pins summary == fresh batch recompute engine-side. ---------------
    Query("e10_stream_rollup", (s, dir) => {
      val root = scratch("e10", "base", dir)
      val sroot = scratch("e10", "sum", dir)
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 300 && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value"))
      if (S.latestVersion(root) == 0) {
        timeSlices(ev, 4).zipWithIndex.foreach { case (batch, b) =>
          graft.streaming.EventStream.rollupBatch(batch, root, sroot,
            Seq("user_id"), "ts", Seq("event_type"), Seq("value" -> "total"),
            root, b)
        }
        val inc = S.read(s, sroot).collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
        val batchRe = IA.summarize(S.read(s, root), Seq("event_type"),
          Seq("value" -> "total")).collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
        require(inc == batchRe,
          s"streamed rollup diverged from batch recompute:\n$inc\nvs\n$batchRe")
      }
      S.read(s, sroot)
        .select(col("event_type"), col("n"),
          round(col("total").cast("double"), 2).as("total"))
        .orderBy(col("event_type"))
    },
      // e10: sequential time-ordered batch upserts ≡ global newest event
      // per user (equal timestamps share a batch; the max-struct tie order
      // is (ts, event_type, value) DESC lexicographic), then the rollup is
      // a plain group-by over those survivors — the decimal-sum doctrine
      Sql("""WITH ev AS (
           SELECT user_id, ts, event_type, CAST(value AS DOUBLE) AS value
           FROM events WHERE user_id <= 300 AND value IS NOT NULL),
         last AS (
           SELECT user_id, event_type, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_type DESC, value DESC) AS rn
             FROM ev) WHERE rn = 1)
         SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM last GROUP BY 1 ORDER BY 1""")),

    // ---- partition overwrite over batches (e12): three day-sliced
    // recompute batches with OVERLAPPING coverage run
    // EventStream.replaceBatch — each batch atomically replaces the
    // days it covers, so the final owner of a day is the LAST batch that
    // recomputed it. Batch 3 is then redelivered under a new batchId
    // (executes; content-idempotent by construction) and replayed under
    // the same batchId (skipped by the txn stamp); the in-query require
    // pins the version accounting of both defenses. The oracle assigns
    // each day its final owner relationally via dense_rank. -------------
    Query("e12_stream_replace", (s, dir) => {
      val root = scratch("e12", "days", dir)
      val S = graft.sources.SnapshotTable
      val ES = graft.streaming.EventStream
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 200 && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
          col("value").cast("double").as("value"),
          to_date(col("ts")).cast("string").as("day"))
      if (S.latestVersion(root) == 0) {
        val days = ev.select(col("day")).distinct().orderBy(col("day"))
          .collect().map(_.getString(0)) // bounded: calendar-sized
        def slice(from: Int, until: Int, tag: Int) =
          ev.where(col("day").isin(days.slice(from, until).toSeq: _*))
            .withColumn("loaded_by", lit(tag))
        ES.replaceBatch(slice(0, 12, 1), root, "day", root, 0L)
        ES.replaceBatch(slice(9, 21, 2), root, "day", root, 1L)
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 2L)
        val vAfter = S.latestVersion(root)
        // redelivered content under a NEW id: executes, changes nothing
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 3L)
        // replay under the SAME id: the stamp skips it without a commit
        ES.replaceBatch(slice(19, days.length, 3), root, "day", root, 3L)
        require(S.latestVersion(root) == vAfter + 1,
          "replay accounting broke: expected exactly one extra commit")
      }
      S.read(s, root)
        .groupBy(col("day"), col("loaded_by"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy(col("day"))
    },
      // e12: final day ownership replayed relationally — a day belongs to
      // the last overlapping batch that recomputed it (1-9 → b1, 10-19 →
      // b2, 20-30 → b3 by dense day rank), redeliveries change nothing
      Sql("""WITH ev AS (
           SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  CAST(value AS DOUBLE) AS value
           FROM events WHERE user_id <= 200 AND value IS NOT NULL),
         d AS (
           SELECT day, dense_rank() OVER (ORDER BY day) AS di
           FROM (SELECT DISTINCT day FROM ev)),
         tagged AS (
           SELECT e.day,
                  CASE WHEN d.di <= 9 THEN 1
                       WHEN d.di <= 19 THEN 2 ELSE 3 END AS loaded_by,
                  e.value
           FROM ev e JOIN d USING (day))
         SELECT day, loaded_by, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM tagged GROUP BY day, loaded_by
         ORDER BY day""")),

    // ---- materialized view WITH exact COUNT(DISTINCT) over four
    // batches: EventStream.rollupDistinctBatch on e10's time slices —
    // newest event per user upserted with capture, captured slice folded
    // through the two-level distinct protocol, windows driven by the
    // foldedThrough watermarks. `cohort` = user_id % 10 retracts from a
    // group when a user's newest event changes type, so distinct counts
    // move in both directions; the in-query require pins summary == batch
    // recompute.
    Query("e11_stream_distinct", (s, dir) => {
      val root = scratch("e11", "base", dir)
      val sroot = scratch("e11", "sum", dir)
      val droot = scratch("e11", "det", dir)
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      val dc = ("cohort", "cohorts")
      val ev = Tables.events(s, dir)
        .where(col("user_id") <= 300 && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value"),
          (col("user_id") % 10).as("cohort"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
          r.getLong(3))).toSet
      if (S.latestVersion(root) == 0) {
        timeSlices(ev, 4).zipWithIndex.foreach { case (batch, b) =>
          graft.streaming.EventStream.rollupDistinctBatch(batch, root, sroot,
            droot, Seq("user_id"), "ts", Seq("event_type"),
            Seq("value" -> "total"), dc, root, b)
        }
        val inc = rows(S.read(s, sroot))
        val batchRe = rows(IA.summarizeWithDistinct(S.read(s, root),
          Seq("event_type"), Seq("value" -> "total"), dc))
        require(inc == batchRe,
          s"streamed distinct view diverged from batch:\n$inc\nvs\n$batchRe")
      }
      S.read(s, sroot)
        .select(col("event_type"), col("n"),
          round(col("total").cast("double"), 2).as("total"), col("cohorts"))
        .orderBy(col("event_type"))
    },
      // e11: the distinct-carrying view — global newest-per-user
      // (time-ordered batches make sequential LWW ≡ global), per-type
      // count/sum plus distinct active cohorts
      Sql("""WITH ev AS (
           SELECT user_id, ts, event_type, CAST(value AS DOUBLE) AS value,
                  user_id % 10 AS cohort
           FROM events WHERE user_id <= 300 AND value IS NOT NULL),
         last AS (
           SELECT user_id, event_type, value, cohort FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_type DESC, value DESC) AS rn
             FROM ev) WHERE rn = 1)
         SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total,
                count(DISTINCT cohort) AS cohorts
         FROM last GROUP BY 1 ORDER BY 1""")),

    // ---- time-series resample + forward fill (grid ∘ as-of join) --------
    Query("e6_resample_ffill", (s, dir) => {
      graft.ops.Resample.forwardFillGrid(Tables.events(s, dir),
          "event_type", "ts", "value")
        .select(col("event_type"), col("grid_ts").cast("long").as("grid_ts"),
          col("last_value"))
        .orderBy(col("event_type"), col("grid_ts"))
    },
      Sql("""WITH b AS (
           SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE ts IS NOT NULL),
         spans AS (
           SELECT event_type, date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi
           FROM b GROUP BY 1),
         grid AS (
           SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
           FROM spans)
         SELECT g.event_type, CAST(epoch(g.gts) AS BIGINT) AS grid_ts,
                b.value AS last_value
         FROM grid g
         ASOF LEFT JOIN b ON g.event_type = b.event_type AND g.gts >= b.ts
         ORDER BY g.event_type, grid_ts""")),

    // ---- events: rolling z-score anomaly flags (e14) — hourly counts
    // per type scored against the 24 prior buckets; integer power sums in
    // a PARTITIONED sliding frame, one fixed z tree, flag reads the
    // rounded z. The monitoring twin of q3's global z-score checks. ------
    Query("e14_rolling_anomaly", (s, dir) => {
      graft.ops.Resample.rollingAnomaly(Tables.events(s, dir),
          "event_type", "ts", "hour", lookback = 24, zThreshold = 3.0)
        .select(col("key"), col("bucket_ts").cast("long").as("bucket_ts"),
          col("c"), col("prior_n"), col("z"), col("is_anomaly"))
        .orderBy(col("key"), col("bucket_ts"))
    },
      // e14: bucket counts, the same 24-prior sliding frame, the identical
      // sample-variance z tree; the flag reads the ROUNDED z on both sides
      Sql("""WITH counts AS (
           SELECT event_type AS key, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    AS bucket_ts,
                  CAST(count(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         w AS (
           SELECT key, bucket_ts, c,
                  CAST(count(*) OVER win AS BIGINT) AS n,
                  CAST(coalesce(sum(c) OVER win, 0) AS BIGINT) AS s1,
                  CAST(coalesce(sum(c * c) OVER win, 0) AS BIGINT) AS s2
           FROM counts
           WINDOW win AS (PARTITION BY key ORDER BY bucket_ts
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT key, bucket_ts, c, n AS prior_n,
                  CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0
                       THEN round((CAST(c AS DOUBLE)
                                   - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                  / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                                         / CAST(n * (n - 1) AS DOUBLE)), 6)
                  END AS z
           FROM w)
         SELECT key, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts, c, prior_n, z,
                CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
         FROM z ORDER BY key, bucket_ts""")),

    // ---- events: daily time-weighted average (e19) — each observation
    // holds until the next; cent values × µs gaps in DECIMAL, one
    // division per (type, day). ------------------------------------------
    Query("e19_twap", (s, dir) => {
      graft.ops.Resample.twapDaily(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value")
    },
      // e19: the same (ts, id)-ordered lead gaps, HUGEINT weighted sum,
      // one division per (type, day)
      Sql("""WITH base AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day, ts,
                  event_id AS id,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
         g AS (SELECT key, day, vc,
                 epoch_us(lead(ts, 1) OVER (PARTITION BY key, day
                   ORDER BY ts, id)) - epoch_us(ts) AS gap
               FROM base)
         SELECT key, CAST(day AS VARCHAR) AS day,
                CAST(count(*) AS BIGINT) AS n_gaps,
                round(CAST(sum(CAST(vc AS HUGEINT) * gap) AS DOUBLE)
                      / CAST(sum(gap) AS DOUBLE) / 100.0, 6) AS twap
         FROM g WHERE gap IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- events: first-order Markov transition matrix (e21) — the
    // sequence-mining census; one lead window keyed by user, pairs
    // collapse to the kind² frame, probabilities one division each. ------
    Query("e21_markov", (s, dir) => {
      graft.ops.Resample.transitionMatrix(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
    },
      // e21: identical lead pairing (total order via event_id) + one
      // integer→double division per transition cell
      Sql("""WITH seq AS (
           SELECT event_type AS src,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS dst
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL),
         tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, n,
                round(CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY src) AS BIGINT)
                         AS DOUBLE), 6) AS p
         FROM tr ORDER BY src, dst""")),

    // ---- events: α=1/2 adjusted EWMA trend per (type, month) (e22) —
    // the dyadic weight makes the numerator a LONG running sum
    // (Σ xᵢ·2^(i−1)) and the whole statistic ONE final division. ---------
    Query("e22_ewma", (s, dir) => {
      graft.ops.Resample.ewmaDaily(Tables.events(s, dir),
        "event_type", "ts", "value")
    },
      // e22: the identical Σ xᵢ·2^(i−1) LONG numerator and (2^i − 1)
      // denominator — one final division
      Sql("""WITH daily AS (
           SELECT event_type AS key,
                  CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
                    AS month,
                  CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                    AS BIGINT)) AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2, 3),
         idx AS (SELECT key, month, day, vc,
                  CAST(row_number() OVER (PARTITION BY key, month
                    ORDER BY day) AS BIGINT) AS i
                 FROM daily),
         run AS (SELECT key, month, day, i,
                  CAST(sum(vc * (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)))
                    OVER (PARTITION BY key, month ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS wsum
                 FROM idx)
         SELECT key, CAST(month AS VARCHAR) AS month,
                CAST(day AS VARCHAR) AS day, i,
                round(CAST(wsum AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << CAST(i AS INT)) - 1 AS DOUBLE)
                  / 100.0, 6) AS ewma
         FROM run ORDER BY key, day""")),

    // ---- events: day-of-week seasonality census (e23) — STL-lite with
    // RATIONAL residuals (7x − Σ₇) so the weekday means are integer sums;
    // interior-day filter keeps one denominator. -------------------------
    Query("e23_dow_seasonality", (s, dir) => {
      graft.ops.Resample.dowSeasonality(Tables.events(s, dir),
        "event_type", "ts", "value")
    },
      // e23: identical rational residual 7x − Σ₇ and epoch-arithmetic dow
      Sql("""WITH daily AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                    AS BIGINT)) AS BIGINT) AS vc
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2),
         win AS (SELECT key, day, vc,
                  CAST(sum(vc) OVER (PARTITION BY key ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    AS w7,
                  count(*) OVER (PARTITION BY key ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
                 FROM daily),
         interior AS (
           SELECT key, (CAST(day - DATE '1970-01-01' AS INT) + 4) % 7 AS dow,
                  vc * 7 - w7 AS detr7
           FROM win WHERE n7 = 7)
         SELECT key, CAST(dow AS BIGINT) AS dow,
                CAST(count(*) AS BIGINT) AS n_days,
                round(CAST(sum(detr7) AS DOUBLE)
                  / CAST(count(*) * 7 AS DOUBLE) / 100.0, 6) AS seasonal
         FROM interior GROUP BY 1, 2 ORDER BY key, dow""")),

    // ---- events: seasonal-naive forecast backtest (e27) — lag-7 vs
    // lag-1 calendar self-joins on the day frame, integer error sums,
    // MASE < 1 ⟺ the weekly pattern carries signal. -----------------------
    Query("e27_forecast_backtest", (s, dir) => {
      graft.ops.Resample.seasonalNaiveBacktest(Tables.events(s, dir),
        "event_type", "ts", season = 7)
    },
      // e27: the same day frame, calendar self-joins at +7/+1, integer
      // error sums, one division each
      Sql("""WITH c AS (
           SELECT event_type AS key, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         j AS (
           SELECT c.key, c.day, c.cnt, p7.cnt AS pred_s, p1.cnt AS pred_n
           FROM c
           JOIN c p7 ON c.key = p7.key AND c.day = p7.day + 7
           JOIN c p1 ON c.key = p1.key AND c.day = p1.day + 1),
         g AS (
           SELECT key, CAST(count(*) AS BIGINT) AS n_scored,
                  CAST(sum(abs(cnt - pred_s)) AS BIGINT) AS sae_seasonal,
                  CAST(sum(abs(cnt - pred_n)) AS BIGINT) AS sae_naive
           FROM j GROUP BY 1)
         SELECT key, n_scored, sae_seasonal, sae_naive,
                round(CAST(sae_seasonal AS DOUBLE)
                      / CAST(n_scored AS DOUBLE), 6) AS mae_seasonal,
                CASE WHEN sae_naive > 0 THEN
                  round(CAST(sae_seasonal AS DOUBLE)
                        / CAST(sae_naive AS DOUBLE), 6) END AS mase
         FROM g ORDER BY key""")),

    // ---- events: offline mean-shift changepoint (e26) — max-|CUSUM|
    // split of the daily count series as a pure INTEGER argmax
    // (D_t = n·cum_t − t·total); e15's online CUSUM answers "is it
    // drifting", this answers "when did the level change". --------------
    Query("e26_changepoint", (s, dir) =>
      graft.stats.Changepoint.meanShiftDailyDF(
          t(s, dir, "events"), col("ts"))
        .withColumn("split_day", col("split_day").cast("string")),
      // e26: day frame, windowed cum ≡ the engine's sharded prefix, the
      // integer D_t score, argmax by (|D| desc, t asc)
      Sql("""WITH d AS (
           SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         idx AS (
           SELECT day, c,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(c) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM d),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                        CAST(sum(c) AS BIGINT) AS total FROM d),
         s AS (
           SELECT i.day, i.t, i.cum, n_days, total,
                  n_days * i.cum - i.t * total AS dd
           FROM idx i CROSS JOIN tot WHERE i.t < n_days)
         SELECT CAST(day AS VARCHAR) AS split_day, t, n_days, total,
                cum AS cum_left, dd AS d,
                round(CAST(cum AS DOUBLE) / t, 6) AS mean_before,
                round(CAST(total - cum AS DOUBLE) / (n_days - t), 6)
                  AS mean_after
         FROM s ORDER BY abs(dd) DESC, t LIMIT 1""")),

    // ---- events: interval-concurrency sweep (e24) — how many order
    // lines are awaiting shipment each day (order date → ship date);
    // +1/−1 events, one groupBy, the sharded prefix (integer-exact). -----
    Query("e24_concurrency", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val iv = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderdate").as("s0"), col("l_shipdate").as("e0"))
      graft.ops.Sweep.concurrencyDaily(iv, col("s0"), col("e0"))
    },
      // e24: +1/−1 events, day frame, inclusive running sum
      Sql("""WITH iv AS (
           SELECT o_orderdate AS s0, l_shipdate AS e0
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ev AS (
           SELECT CAST(s0 AS DATE) AS d, 1 AS s, 0 AS e
           FROM iv WHERE s0 IS NOT NULL AND e0 IS NOT NULL
           UNION ALL
           SELECT CAST(e0 AS DATE) AS d, 0 AS s, 1 AS e
           FROM iv WHERE s0 IS NOT NULL AND e0 IS NOT NULL),
         g AS (SELECT d, CAST(sum(s) AS BIGINT) AS n_start,
                      CAST(sum(e) AS BIGINT) AS n_end
               FROM ev GROUP BY 1)
         SELECT d AS day, n_start, n_end,
                CAST(sum(n_start - n_end) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS "open"
         FROM g ORDER BY day""")),

    // ---- events: daily cross-correlation (e25) — does order volume
    // predict shipped quantity l days later? Two exact day frames, lag
    // join, one fixed correlation tree per lag. --------------------------
    Query("e25_crosscorr", (s, dir) =>
      graft.stats.Regression.crossCorrDailyDF(
        t(s, dir, "orders"), col("o_orderdate"), lit(1),
        t(s, dir, "lineitem"), col("l_shipdate"), col("l_quantity"),
        maxLag = 6),
      // e25: two exact cent day frames, lag join over range(0,7), the
      // identical one-tree correlation per lag
      Sql("""WITH dx AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  CAST(sum(CAST(1 AS DECIMAL(12,2))) * 100
                    AS DECIMAL(19,0)) AS xv
           FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
         dyf AS (
           SELECT CAST(l_shipdate AS DATE) AS dd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100
                    AS DECIMAL(19,0)) AS yv
           FROM lineitem
           WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1),
         pairs AS (
           SELECT t.lag, dx.xv, dyf.yv
           FROM dx CROSS JOIN range(0, 7) t(lag)
           JOIN dyf ON dyf.dd = dx.d + CAST(t.lag AS INT)),
         a AS (
           SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(CAST(sum(xv) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
                  CAST(CAST(sum(yv) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
                  CAST(sum(CAST(xv * xv AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(xv * yv AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(yv * yv AS DECIMAL(38,0))) AS DOUBLE) AS syy
           FROM pairs GROUP BY 1)
         SELECT CAST(lag AS BIGINT) AS lag, n_days,
                round((CAST(n_days AS DOUBLE) * sxy - sx * sy)
                  / sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                       * (CAST(n_days AS DOUBLE) * syy - sy * sy)), 6) AS ccf
         FROM a ORDER BY lag"""))
  )
}
