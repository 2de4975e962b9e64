package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class UpsertChange(k: Long, ts: java.sql.Timestamp, v: String)

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, String, Long, String, Double)*) =
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

  private def ev(id: Long, m: Int, u: Long, t: String, v: Double) =
    (id, f"2024-01-01 10:$m%02d:00", u, t, v)

  test("attributedJoin batch semantics: same user within window, boundaries inclusive") {
    val e = events(
      ev(1, 0, 1, "view", 1.0),
      ev(2, 15, 1, "purchase", 10.0),  // in window of view 1
      ev(3, 30, 1, "purchase", 20.0),  // boundary: exactly +30 min → included
      ev(4, 45, 1, "purchase", 30.0),  // outside window
      ev(5, 10, 2, "purchase", 40.0))  // other user
    val got = EventStream.attributedJoin(
        e.where($"event_type" === "view"),
        e.where($"event_type" === "purchase"), "30 minutes")
      .select($"l_event_id", $"r_event_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L)))
  }

  test("attributedJoinOuter keeps unconverted views with null r_* columns") {
    val e = events(
      ev(1, 0, 1, "view", 1.0),
      ev(2, 15, 1, "purchase", 9.0),   // converts view 1
      ev(3, 5, 2, "view", 2.0),        // user 2 never purchases
      ev(4, 0, 3, "view", 3.0),
      ev(5, 45, 3, "purchase", 4.0))   // user 3 purchases outside the window
    val got = EventStream.attributedJoinOuter(
        e.where($"event_type" === "view"),
        e.where($"event_type" === "purchase"), "30 minutes")
      .select($"user_id", $"l_value", $"r_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, 1.0, Some(9.0)), (2L, 2.0, None), (3L, 3.0, None)))
  }

  test("sessionize maintains per-user state and counts") {
    val updates = EventStream.sessionize(
      Seq((1L, 2.0), (1L, 3.0), (2L, 5.0)).toDS())
      .collect().map(u => u.user_id -> ((u.n_events, u.total_value))).toMap
    assert(updates(1L) == ((2L, 5.0)))
    assert(updates(2L) == ((1L, 5.0)))
  }

  test("exactDedupReplay keeps the first row per content hash by (ts, id)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val got = EventStream.exactDedupReplay(Seq(
        (1L, ts("2024-01-01 10:00:00"), "the same text"),
        (2L, ts("2024-01-01 10:01:00"), "the same text"),
        (3L, ts("2024-01-01 10:02:00"), "something else"),
        (4L, ts("2024-01-01 10:30:00"), "the same text"),
        (5L, ts("2024-01-01 10:02:00"), "something else")) // ts tie: id 3 wins
        .toDF("doc_id", "ts", "text"))
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("upsertBatch: last write per key wins within and across batches") {
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val S = graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft-upsert")
      .resolve("tbl").toString
    def content(v: Option[Int] = None) = S.read(spark, root, v)
      .select($"k", $"v").as[(Long, String)].collect().toSet
    // batch 0: two keys, plus an intra-batch duplicate for k=1 where the
    // NEWER ts must win inside the same batch
    EventStream.upsertBatch(Seq(UpsertChange(1L, ts(1), "a1"),
      UpsertChange(1L, ts(5), "a2"), UpsertChange(2L, ts(2), "b1")).toDF(),
      root, Seq("k"), "ts", "app", 0L)
    assert(content() == Set((1L, "a2"), (2L, "b1")))
    // batch 1: update one key, insert another — cross-batch last write wins
    EventStream.upsertBatch(Seq(UpsertChange(2L, ts(9), "b2"),
      UpsertChange(3L, ts(3), "c1")).toDF(), root, Seq("k"), "ts", "app", 1L)
    assert(content() == Set((1L, "a2"), (2L, "b2"), (3L, "c1")))
    // two committed versions, both time-travelable
    assert(S.latestVersion(root) == 2)
    assert(content(Some(1)) == Set((1L, "a2"), (2L, "b1")))
  }
}
