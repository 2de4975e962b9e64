package graft
package queries

import org.apache.spark.sql.functions._

import Oracle.Sql
import Shared._

/** x-family: image, audio and video payload features. */
object MultimodalQueries extends Family("x") {

  val queries: Seq[Query] = Seq(
    // ---- multimodal: binary payload → REAL ImageIO decode → features -----
    // Each document renders to a genuine 16×16 gray PNG (pixel = char code),
    // then the feature pass decodes it with javax.imageio and grid-pools the
    // DECODED luminances. Gray PNG is lossless and the 32-pixel bin means
    // are exact dyadic rationals, so this hash-matches a SQL oracle that
    // recomputes the bin mean from the char codes directly.
    // ---- multimodal AUDIO: text-derived samples → real PCM16 WAV →
    // genuine javax.sound AudioSystem decode → integer energy bins. The
    // whole path is Long arithmetic (sum of squared int16 samples), so
    // the oracle replays bin 0 exactly from the char codes — the x1
    // doctrine applied to the audio modality. -----------------------------
    Query("x2_audio_features", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "audio", Multimodal.textToWavPayload(text),
            Multimodal.MediaMeta("wav", 0, 0, 1, 64L))
        }
      Multimodal.extractAudioFeatures(media, dim = 8)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          element_at(col("energy"), 1).as("e0"))
        .orderBy(col("media_id"))
    },
      // x2: bin 0 of the energy embedding = sum over the first 64 samples
      // of ((code-64)*256)^2 — pure integer replay of the decoded PCM
      Sql("""SELECT doc_id AS media_id, 8000 AS sample_rate, 512 AS n_samples,
           CAST(list_sum(list_transform(
             list_transform(range(1, 65),
               i -> CAST((unicode(substr(padded, CAST(i AS INT), 1)) - 64) * 256 AS BIGINT)),
             v -> v * v)) AS BIGINT) AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 512, ' ') AS padded
               FROM documents)
         ORDER BY media_id""")),

    // ---- multimodal AUDIO VAD (x6): real WAV decode → 64-sample frame
    // energies (pure Long) → threshold at the all-space baseline →
    // partition-local islands run. The oracle replays frame energies from
    // the char codes and the islands relationally (the e20 doctrine). ----
    Query("x6_voiced_segments", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "audio", Multimodal.textToWavPayload(text),
            Multimodal.MediaMeta("wav", 0, 0, 1, 64L))
        }
      // threshold = a full frame of padding spaces: 64 · (32−64)² · 256²
      Multimodal.voicedSegments(media, frameSize = 64,
          threshold = 64L * 1024L * 65536L)
        .toDF().orderBy(col("media_id"))
    },
      // x6: frame dev² sums from char codes (×65536 = energy), threshold
      // ⟺ Σ(code−64)² > 64·1024, islands via lag-start + run grouping
      Sql("""WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 512, ' ')
                    AS padded
           FROM documents),
         fr AS (
           SELECT doc_id, f,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> CAST(unicode(substr(padded,
                           CAST(f * 64 + i AS INT), 1)) - 64 AS BIGINT)
                         * CAST(unicode(substr(padded,
                           CAST(f * 64 + i AS INT), 1)) - 64 AS BIGINT)))
                    AS BIGINT) AS dev2
           FROM p CROSS JOIN range(0, 8) t(f)),
         v AS (
           SELECT doc_id, f,
                  CASE WHEN dev2 > 64 * 1024 THEN 1 ELSE 0 END AS voiced
           FROM fr),
         w AS (
           SELECT doc_id, f, voiced,
                  CASE WHEN voiced = 1 AND coalesce(lag(voiced)
                    OVER (PARTITION BY doc_id ORDER BY f), 0) = 0
                    THEN 1 ELSE 0 END AS seg_start,
                  CAST(f AS BIGINT) - CAST(row_number()
                    OVER (PARTITION BY doc_id, voiced ORDER BY f)
                    AS BIGINT) AS isl
           FROM v),
         runs AS (
           SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS rl
           FROM w WHERE voiced = 1 GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(voiced) AS BIGINT) AS n_voiced,
                  CAST(sum(seg_start) AS BIGINT) AS n_segments
           FROM w GROUP BY 1),
         lr AS (
           SELECT doc_id, CAST(max(rl) AS BIGINT) AS longest_run
           FROM runs GROUP BY 1)
         SELECT a.doc_id AS media_id, CAST(8 AS BIGINT) AS n_frames,
                n_voiced, n_segments,
                coalesce(longest_run, 0) AS longest_run
         FROM agg a LEFT JOIN lr USING (doc_id) ORDER BY media_id""")),

    Query("x1_multimodal_features", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      Multimodal.extractImageFeatures(media, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    },
      // x1: the Spark side encodes text as a real 16×16 gray PNG and decodes
      // it back through javax.imageio; gray PNG is lossless and bin 0's mean is
      // sum(first 32 char codes)/32 — a /2^5 dyadic rational, exact in both
      // Float and Double. The oracle recomputes that mean from the char codes.
      Sql("""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
           round(list_sum(list_transform(range(1, 33),
             i -> unicode(substr(padded, CAST(i AS INT), 1)))) / 32.0, 4) AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ') AS padded
               FROM documents)
         ORDER BY media_id""")),

    // ---- multimodal image RESIZE (x4): 16×16 PNGs → deterministic
    // integer nearest-neighbor downscale to 8×8 → REAL PNG re-encode →
    // real decode + features. The oracle recomputes the resized bin mean
    // straight from the char codes (nearest-neighbor at 2:1 keeps the
    // even-indexed pixels), certifying decode→resize→encode→decode
    // in-band. Payloads never shuffle (map → map → mapPartitions). -------
    Query("x4_image_resize", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      val resized = Multimodal.resizeImages(media, maxDim = 8)
      Multimodal.extractImageFeatures(resized, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    },
      // x4: nearest-neighbor 16→8 keeps even-indexed pixels; resized bin 0
      // is row 0 of the 8×8 image = padded chars at 1-based 2i+1, i<8
      Sql("""SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           round(list_sum(list_transform(range(0, 8),
             i -> unicode(substr(padded, CAST(2 * i + 1 AS INT), 1)))) / 8.0, 4)
             AS e0
         FROM (SELECT doc_id,
                 rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ') AS padded
               FROM documents)
         ORDER BY media_id""")),

    // ---- multimodal ViT patchify (x8): 16×16 PNGs → 4×4 grid of 4×4
    // tiles, each re-encoded as its own PNG token and RE-DECODED through
    // the real codec for its mean — decode→patchify→encode→decode
    // certified in-band; payloads stay partition-local. -------------------
    Query("x8_patch_grid", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      val patches = Multimodal.patchGrid(media, patch = 4)
      Multimodal.extractImageFeatures(patches, dim = 1)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    },
      // x8: each 4×4 tile's mean replayed straight from the padded char
      // codes — pixel (4pr + k/4, 4pc + k%4) is 1-based char 64pr +
      // 16(k/4) + 4pc + k%4 + 1
      Sql("""WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 256, ' ')
                    AS padded
           FROM documents),
         g AS (
           SELECT doc_id, padded, pr.i AS patch_row, pc.i AS patch_col
           FROM p, range(0, 4) pr(i), range(0, 4) pc(i))
         SELECT doc_id * 100 + patch_row * 10 + patch_col AS media_id,
                4 AS width, 4 AS height,
                round(list_sum(list_transform(range(0, 16),
                  k -> unicode(substr(padded,
                    CAST(patch_row * 64 + (k // 4) * 16 + patch_col * 4
                         + (k % 4) + 1 AS INT), 1)))) / 16.0, 4) AS e0
         FROM g ORDER BY media_id""")),

    // ---- multimodal video (x3): deterministic 4-frame PNG containers
    // built from document text chunks, stride-sampled at 2 of 4 frames
    // (duration 4000 ms, every 2000 ms → frames 0 and 2), each sampled
    // frame decoded through the REAL ImageIO path and featurized like x1.
    // The oracle recomputes the sampled chunks' pixel means from the text
    // — container split, frame selection, and decode all certified by the
    // hash. Payload bytes never shuffle (flatMap → map → mapPartitions). --
    Query("x3_video_frames", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val padded = text.replaceAll("[^ -~]", "").padTo(1024, ' ').mkString
          val frames = (0 until 4).map(j =>
            Multimodal.textToPngPayload(padded.substring(256 * j, 256 * j + 256)))
          Multimodal.MediaRow(id, "video", frames.reduce(_ ++ _),
            Multimodal.MediaMeta("png", 16, 16, 3, 4000L))
        }
      val frameMedia = Multimodal.sampleFrames(media, everyMs = 2000L)
        .map(fs => Multimodal.MediaRow(fs.media_id * 10 + fs.frame_index,
          "image", fs.frame, Multimodal.MediaMeta("png", 16, 16, 3, 0L)))
      Multimodal.extractImageFeatures(frameMedia, dim = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
        .orderBy(col("media_id"))
    },
      // x3: the stride-sampled frames replayed — sample 0 reads chunk 0
      // (chars 1-256), sample 1 reads chunk 2 (chars 513-768) of the padded
      // printable text; e0 is the first 32-pixel bin mean as in x1
      Sql("""WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 1024, ' ')
                    AS padded
           FROM documents),
         f AS (
           SELECT doc_id, 0 AS s, substr(padded, 1, 256) AS fr FROM p
           UNION ALL
           SELECT doc_id, 1 AS s, substr(padded, 513, 256) AS fr FROM p)
         SELECT doc_id * 10 + s AS media_id, 16 AS width, 16 AS height,
                round(list_sum(list_transform(range(1, 33),
                  i -> unicode(substr(fr, CAST(i AS INT), 1)))) / 32.0, 4) AS e0
         FROM f ORDER BY media_id""")),

    // ---- multimodal: image near-dup pairs (x5) — decode + grid-embed
    // in-partition (payloads never shuffle), banded id-block join, dyadic
    // embeddings make the cosine replay exact. ---------------------------
    Query("x5_image_neardup", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, "image", Multimodal.textToPngPayload(text),
            Multimodal.MediaMeta("png", 16, 16, 3, 0L))
        }
      Multimodal.imageNearDupPairs(media, dim = 8, idWindow = 25, minCos = 0.9999)
    },
      // x5: the x1 dyadic grid embedding rebuilt bin-by-bin, cosine via
      // list_dot_product (sequential double dot), rounded pre-threshold
      Sql("""WITH p AS (
           SELECT doc_id,
                  substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'),
                    256, ' '), 1, 256) AS s
           FROM documents),
         v AS (
           SELECT doc_id AS id,
                  list_transform(range(0, 8), b ->
                    list_sum(list_transform(range(1, 33),
                      i -> CAST(unicode(substr(s, CAST(b * 32 + i AS INT), 1))
                           AS DOUBLE))) / 32.0) AS v
           FROM p),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
           FROM v a JOIN v b ON b.id > a.id AND b.id <= a.id + 25)
         SELECT id_a, id_b, cos FROM pairs
         WHERE cos >= 0.9999 ORDER BY id_a, id_b""")),

    // ---- multimodal: video shot-boundary census (x7) — the x3 4-frame
    // containers decoded in-partition, per-frame INTEGER grid sums, L1
    // frame distance, boundary where > 5000 (the observed text→padding
    // gap; same-content transitions sit near 0). Pure LONG after decode;
    // the oracle replays bins from char codes (the x1/x6 doctrine). ------
    Query("x7_shot_boundaries", (s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val media = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val padded = text.replaceAll("[^ -~]", "").padTo(1024, ' ').mkString
          val frames = (0 until 4).map(j =>
            Multimodal.textToPngPayload(padded.substring(256 * j, 256 * j + 256)))
          Multimodal.MediaRow(id, "video", frames.reduce(_ ++ _),
            Multimodal.MediaMeta("png", 16, 16, 3, 4000L))
        }
      Multimodal.shotCensus(media, dim = 8, threshold = 5000L)
        .toDF().orderBy(col("media_id"))
    },
      // x7: per-frame 8-bin integer grid sums replayed from char codes
      // (3× the bin's 32 char codes — gray PNG r=g=b), L1 frame distances,
      // the islands census; all integer
      Sql("""WITH p AS (
           SELECT doc_id,
                  rpad(regexp_replace(text, '[^ -~]', '', 'g'), 1024, ' ')
                    AS padded
           FROM documents),
         d AS (
           SELECT doc_id, f,
             list_transform(range(0, 8), b ->
               3 * list_sum(list_transform(range(1, 33), i ->
                 unicode(substr(padded,
                   CAST(256 * f + 32 * b + i AS INT), 1))))) AS bins
           FROM p CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(f)),
         dist AS (
           SELECT a.doc_id, a.f,
             CAST(list_sum(list_transform(range(1, 9),
               b -> abs(a.bins[b] - pr.bins[b]))) AS BIGINT) AS dist
           FROM d a JOIN d pr
             ON a.doc_id = pr.doc_id AND pr.f = a.f - 1)
         SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
                CAST(sum(CASE WHEN dist > 5000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boundaries,
                CAST(1 + sum(CASE WHEN dist > 5000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shots,
                CAST(max(dist) AS BIGINT) AS max_dist,
                CAST(sum(dist) AS BIGINT) AS total_dist
         FROM dist GROUP BY 1 ORDER BY 1"""))
  )
}
