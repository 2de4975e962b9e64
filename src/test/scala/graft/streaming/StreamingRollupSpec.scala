package graft.streaming

import graft.SparkSpec
import graft.sources.{IncrementalAgg, SnapshotTable}
import org.apache.spark.sql.functions._

case class RollupChange(k: Long, ts: java.sql.Timestamp, grp: String, amt: Double)
case class SliceRow(day: String, id: Long, v: Double)
case class RollupDistinctChange(k: Long, ts: java.sql.Timestamp, grp: String,
  cust: Long, amt: Double)

class StreamingRollupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)

  private def summaryRows(root: String): Set[(String, Long, String)] =
    SnapshotTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString))
      .toSet

  private def batchRecompute(root: String): Set[(String, Long, String)] =
    IncrementalAgg.summarize(SnapshotTable.read(spark, root),
      Seq("grp"), Seq("amt" -> "total")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString))
      .toSet

  test("rollupBatch keeps the summary in lockstep with the base over 4 batch ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    val batches = Seq(
      // batch 0 seeds base AND summary (intra-batch dup: newer ts wins)
      Seq(RollupChange(1L, ts(1), "a", 10.00), RollupChange(1L, ts(5), "a", 12.00),
        RollupChange(2L, ts(2), "b", 3.00)),
      // batch 1: key 1 MOVES group a→b (preimage −a, postimage +b), key 3
      // inserts into a
      Seq(RollupChange(1L, ts(9), "b", 7.00), RollupChange(3L, ts(8), "a", 1.50)),
      // batch 2: pure update within a group
      Seq(RollupChange(2L, ts(12), "b", 4.00)),
      // batch 3: key 3 leaves a, which empties the group
      Seq(RollupChange(3L, ts(14), "b", 0.50)))
    val expected = Seq(
      Set(("a", 1L, "12.00"), ("b", 1L, "3.00")),
      Set(("a", 1L, "1.50"), ("b", 2L, "10.00")),
      Set(("a", 1L, "1.50"), ("b", 2L, "11.00")),
      Set(("b", 3L, "11.50")))
    batches.zip(expected).zipWithIndex.foreach { case ((b, want), id) =>
      EventStream.rollupBatch(b.toDF(), root, sroot, Seq("k"), "ts",
        Seq("grp"), Seq("amt" -> "total"), "app", id.toLong)
      assert(summaryRows(sroot) == want, s"after batch $id")
      assert(summaryRows(sroot) == batchRecompute(root), s"after batch $id")
    }
  }

  test("replaceBatch: each batch atomically owns the slices it covers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replace-own")
    val root = dir.resolve("tbl").toString
    // batch 0 seeds days d1+d2
    EventStream.replaceBatch(Seq(SliceRow("d1", 1, 1.0), SliceRow("d1", 2, 2.0),
      SliceRow("d2", 3, 3.0)).toDF(), root, "day", "app", 0L)
    // batch 1 RECOMPUTES d2 (row 3 gone, rows 4-5 arrive) and adds d3
    EventStream.replaceBatch(Seq(SliceRow("d2", 4, 4.0), SliceRow("d2", 5, 5.0),
      SliceRow("d3", 6, 6.0)).toDF(), root, "day", "app", 1L)
    val got = SnapshotTable.read(spark, root)
      .select("day", "id").as[(String, Long)].collect().toSet
    assert(got == Set(("d1", 1L), ("d1", 2L), ("d2", 4L), ("d2", 5L),
      ("d3", 6L)), s"slice ownership broke: $got")
  }

  test("replaceBatch: redelivery is content-idempotent, same-id replay skips entirely") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replace-batch")
    val root = dir.resolve("tbl").toString
    val b1 = Seq(("d1", 1L, 1.0), ("d2", 2L, 2.0)).toDF("day", "id", "v")
    val b2 = Seq(("d2", 3L, 9.0)).toDF("day", "id", "v")
    EventStream.replaceBatch(b1, root, "day", "app", 0L)
    EventStream.replaceBatch(b2, root, "day", "app", 1L)
    val v = SnapshotTable.latestVersion(root)
    def content = SnapshotTable.read(spark, root)
      .as[(String, Long, Double)].collect().toSet
    val expected = Set(("d1", 1L, 1.0), ("d2", 3L, 9.0))
    assert(content == expected)
    // redelivered content under a NEW id: executes (one commit), no change
    EventStream.replaceBatch(b2, root, "day", "app", 2L)
    assert(SnapshotTable.latestVersion(root) == v + 1 && content == expected)
    // replay under the SAME id: stamp short-circuits, no commit at all
    EventStream.replaceBatch(b2, root, "day", "app", 2L)
    assert(SnapshotTable.latestVersion(root) == v + 1 && content == expected)
  }

  test("a replayed batch folds to net zero (at-least-once is exact)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-replay")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    val b1 = Seq((1L, "a", 5.00), (2L, "b", 2.50)).toDF("k", "grp", "amt")
    SnapshotTable.write(b1.coalesce(1), root)                           // v1
    SnapshotTable.write(IncrementalAgg.summarize(
      SnapshotTable.read(spark, root), Seq("grp"), Seq("amt" -> "total"))
      .coalesce(1), sroot)
    // the same upsert twice, fold after each — the second merge captures
    // identical preimage/postimage pairs, so the second fold is net zero
    val upd = Seq((1L, "a", 6.00), (3L, "b", 1.00)).toDF("k", "grp", "amt")
    (1 to 2).foreach { _ =>
      val pre = SnapshotTable.latestVersion(root)
      SnapshotTable.merge(upd, root, Seq("k"), changeCapture = true)
      IncrementalAgg.applyChanges(spark, root, sroot, fromVersion = pre,
        Seq("grp"), Seq("amt" -> "total"))
    }
    assert(summaryRows(sroot) == Set(("a", 1L, "6.00"), ("b", 2L, "3.50")))
    assert(summaryRows(sroot) == batchRecompute(root))
  }

  private def distinctRows(root: String): Set[(String, Long, String, Long)] =
    SnapshotTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3)))
      .toSet

  private def distinctBatch(root: String): Set[(String, Long, String, Long)] =
    IncrementalAgg.summarizeWithDistinct(SnapshotTable.read(spark, root),
      Seq("grp"), Seq("amt" -> "total"), ("cust", "custs")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3)))
      .toSet

  test("rollupDistinctBatch keeps count/sum/distinct in lockstep with the " +
      "base over 4 batch ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-dist")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    val droot = dir.resolve("det").toString
    val batches = Seq(
      // batch 0 seeds all three tables: group a has custs {7, 8}
      Seq(RollupDistinctChange(1L, ts(1), "a", 7L, 10.00),
        RollupDistinctChange(2L, ts(2), "a", 8L, 3.00),
        RollupDistinctChange(3L, ts(3), "b", 7L, 1.00)),
      // batch 1: key 1 moves its cust 7 row a→b (7 leaves a entirely, b
      // already had 7 so b's distinct must NOT grow), key 4 brings a NEW
      // cust 9 to a
      Seq(RollupDistinctChange(1L, ts(9), "b", 7L, 2.00),
        RollupDistinctChange(4L, ts(8), "a", 9L, 4.00)),
      // batch 2: key 3 changes cust within b — 7 survives via key 1
      Seq(RollupDistinctChange(3L, ts(10), "b", 8L, 1.00)),
      // batch 3: key 1 leaves b, taking b's last cust-7 row with it
      Seq(RollupDistinctChange(1L, ts(12), "a", 9L, 0.50)))
    val expected = Seq(
      Set(("a", 2L, "13.00", 2L), ("b", 1L, "1.00", 1L)),
      Set(("a", 2L, "7.00", 2L), ("b", 2L, "3.00", 1L)),
      Set(("a", 2L, "7.00", 2L), ("b", 2L, "3.00", 2L)),
      Set(("a", 3L, "7.50", 2L), ("b", 1L, "1.00", 1L)))
    batches.zip(expected).zipWithIndex.foreach { case ((b, want), id) =>
      EventStream.rollupDistinctBatch(b.toDF(), root, sroot, droot, Seq("k"),
        "ts", Seq("grp"), Seq("amt" -> "total"), ("cust", "custs"), "app",
        id.toLong)
      assert(distinctRows(sroot) == want, s"after batch $id")
      assert(distinctRows(sroot) == distinctBatch(root), s"after batch $id")
    }
  }

  test("crash between the detail fold and the summary fold never " +
      "double-folds the detail") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dist-crash")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    val droot = dir.resolve("det").toString
    SnapshotTable.write(Seq((1L, "a", 7L, 5.00), (2L, "a", 8L, 2.50))
      .toDF("k", "grp", "cust", "amt").coalesce(1), root)               // v1
    IncrementalAgg.seedSummaryWithDistinct(spark, root, sroot, droot,
      Seq("grp"), Seq("amt" -> "total"), ("cust", "custs"))
    // base change: a NEW cust 9 arrives
    SnapshotTable.merge(Seq((3L, "a", 9L, 1.00))
      .toDF("k", "grp", "cust", "amt"), root, Seq("k"),
      changeCapture = true)                                             // v2
    // manufacture the crash state: the DETAIL fold of window (1, 2]
    // committed (multiplicity 9→1 added, watermark stamped 2) but the
    // summary fold never ran — exactly what a crash between the two
    // commits leaves behind
    val det = SnapshotTable.read(spark, droot)
    SnapshotTable.merge(
      Seq(("a", 9L, 1L)).toDF("grp", "cust", "__m"), droot,
      Seq("grp", "cust"),
      txn = Map(IncrementalAgg.foldedThroughKey -> "2"))
    assert(det.count() == 2)
    // recovery: the normal fold runs — the detail window (2, 2] is empty
    // (already folded), the summary window (1, 2] folds now
    IncrementalAgg.foldOnceWithDistinct(spark, root, sroot, droot,
      Seq("grp"), Seq("amt" -> "total"), ("cust", "custs"))
    assert(distinctRows(sroot) == Set(("a", 3L, "8.50", 3L)))
    assert(distinctRows(sroot) == distinctBatch(root))
    // the detail held exactly one row for cust 9 — a double-fold would
    // have left __m = 2
    val m9 = SnapshotTable.read(spark, droot)
      .where(col("cust") === 9L).select(col("__m")).collect()
    assert(m9.map(_.getLong(0)).toSeq == Seq(1L), "detail double-folded")
  }

  test("upsertBatch: a replayed (appId, batchId) skips entirely — no " +
      "rewrite, no version; other apps are not shadowed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-batchskip")
    val root = dir.resolve("base").toString
    val b = Seq(RollupChange(1L, ts(1), "a", 5.00)).toDF()
    EventStream.upsertBatch(b, root, Seq("k"), "ts", "appA", 0L)
    val v1 = SnapshotTable.latestVersion(root)
    // the replay costs a manifest read, not a merge
    EventStream.upsertBatch(b, root, Seq("k"), "ts", "appA", 0L)
    assert(SnapshotTable.latestVersion(root) == v1, "replay must skip")
    // a LATER batch of the same app applies
    EventStream.upsertBatch(Seq(RollupChange(2L, ts(2), "a", 1.00)).toDF(),
      root, Seq("k"), "ts", "appA", 1L)
    assert(SnapshotTable.latestVersion(root) == v1 + 1)
    // an earlier-or-equal id is also skipped after the later stamp
    EventStream.upsertBatch(b, root, Seq("k"), "ts", "appA", 0L)
    assert(SnapshotTable.latestVersion(root) == v1 + 1)
    // a DIFFERENT app (fresh checkpoint lineage, ids restart at 0) is
    // not shadowed by appA's stamps
    EventStream.upsertBatch(Seq(RollupChange(3L, ts(3), "b", 2.00)).toDF(),
      root, Seq("k"), "ts", "appB", 0L)
    assert(SnapshotTable.latestVersion(root) == v1 + 2)
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("rollupBatch replay after a crash between merge and fold: the " +
      "merge skips, the fold still catches up") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-skipfold")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    val app = dir.toString
    // batch 0 seeds everything through the normal path
    EventStream.rollupBatch(
      Seq(RollupChange(1L, ts(1), "a", 5.00)).toDF(), root, sroot,
      Seq("k"), "ts", Seq("grp"), Seq("amt" -> "total"), app, 0L)
    assert(summaryRows(sroot) == Set(("a", 1L, "5.00")))
    // batch 1's MERGE commits (stamped) but the fold crashes before running
    EventStream.upsertBatch(
      Seq(RollupChange(2L, ts(2), "b", 3.00)).toDF(), root,
      Seq("k"), "ts", app, 1L, changeCapture = true)
    assert(summaryRows(sroot) == Set(("a", 1L, "5.00")), "fold never ran")
    // the replay of batch 1: upsert skips (stamped), fold catches up
    EventStream.rollupBatch(
      Seq(RollupChange(2L, ts(2), "b", 3.00)).toDF(), root, sroot,
      Seq("k"), "ts", Seq("grp"), Seq("amt" -> "total"), app, 1L)
    assert(summaryRows(sroot) == Set(("a", 1L, "5.00"), ("b", 1L, "3.00")))
    assert(summaryRows(sroot) == batchRecompute(root))
  }

  test("crash between base commit and fold recovers via the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-crash")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    SnapshotTable.write(Seq((1L, "a", 5.00), (2L, "b", 2.50))
      .toDF("k", "grp", "amt").coalesce(1), root)                       // v1
    IncrementalAgg.seedSummary(spark, root, sroot,
      Seq("grp"), Seq("amt" -> "total"))
    // base commit whose fold CRASHES (never runs): the watermark stays
    // at v1, so the orphaned window is still owed
    SnapshotTable.merge(Seq((3L, "a", 9.00)).toDF("k", "grp", "amt"),
      root, Seq("k"), changeCapture = true)                             // v2
    // restart: next batch merges AND folds — the fold window (v1, v3]
    // picks up the orphaned v2 events too
    SnapshotTable.merge(Seq((2L, "b", 4.00)).toDF("k", "grp", "amt"),
      root, Seq("k"), changeCapture = true)                             // v3
    IncrementalAgg.foldOnce(spark, root, sroot,
      Seq("grp"), Seq("amt" -> "total"))
    assert(summaryRows(sroot) == Set(("a", 2L, "14.00"), ("b", 1L, "4.00")))
    assert(summaryRows(sroot) == batchRecompute(root))
    assert(SnapshotTable.lastTxn(sroot, IncrementalAgg.foldedThroughKey)
      .map(_._2) == Some("3"))
  }

  test("a committed fold never re-applies (watermark advanced atomically)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-once")
    val root = dir.resolve("base").toString
    val sroot = dir.resolve("sum").toString
    SnapshotTable.write(Seq((1L, "a", 5.00)).toDF("k", "grp", "amt")
      .coalesce(1), root)                                               // v1
    IncrementalAgg.seedSummary(spark, root, sroot,
      Seq("grp"), Seq("amt" -> "total"))
    SnapshotTable.merge(Seq((2L, "a", 3.00)).toDF("k", "grp", "amt"),
      root, Seq("k"), changeCapture = true)                             // v2
    IncrementalAgg.foldOnce(spark, root, sroot,
      Seq("grp"), Seq("amt" -> "total"))
    val after = summaryRows(sroot)
    val v = SnapshotTable.latestVersion(sroot)
    // a retried fold with no new base commits must be a pure no-op:
    // same watermark → empty window → no new summary version
    IncrementalAgg.foldOnce(spark, root, sroot,
      Seq("grp"), Seq("amt" -> "total"))
    assert(SnapshotTable.latestVersion(sroot) == v)
    assert(summaryRows(sroot) == after)
    assert(after == Set(("a", 2L, "8.00")))
  }
}
