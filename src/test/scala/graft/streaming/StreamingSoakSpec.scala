package graft.streaming

import graft.SparkSpec
import graft.sources.SnapshotChainProbe

case class SoakUpd(k: Long, ts: java.sql.Timestamp, v: Double)

/** Storage soak of the per-batch CDC writer: one MERGE version per batch
  * means file count and manifest count grow with the number of batches,
  * and the maintenance pair (compact, then vacuum) must pin them while
  * the captured change feed stays replayable. Batches are driven through
  * [[EventStream.upsertBatch]] directly, one batch id each. */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._

  private def tsAt(minute: Int) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      .getTime + minute * 60000L)

  test("upsertBatch + periodic compact/vacuum bounds the CDC table's file count") {
    // one MERGE version per batch means file count and manifest count grow
    // with the number of batches — the maintenance pair (compact, then
    // vacuum) must pin them to a constant, independent of how many
    // batches have flowed
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-cdc-soak").resolve("tbl").toString
    val counts = Seq.newBuilder[Long]
    (0 until 30).foreach { b =>
      EventStream.upsertBatch((0 until 20).map(i =>
        SoakUpd((b * 20 + i) % 50, tsAt(b), b + i * 0.5)).toDF(), root,
        Seq("k"), "ts", "app", b.toLong)
      if ((b + 1) % 10 == 0) {
        // maintenance cycle: pack the head version's small files, then
        // drop superseded versions + race orphans (no writer in flight
        // here, so the age gate is safely disarmed)
        graft.sources.SnapshotTable.compact(spark, root, targetBytes = 1L << 20)
        graft.sources.SnapshotTable.vacuum(root, keepVersions = 1,
          orphanRetentionMs = 0L)
        counts += Files.list(Paths.get(root, "data")).count()
      }
    }
    val cs = counts.result()
    assert(cs.size == 3)
    assert(cs.last <= cs.head,
      s"file count grows across maintenance cycles: $cs")
    assert(cs.forall(_ <= 4), s"file count not pinned by compaction: $cs")
    // the CDC content survives the churn: every key's newest value
    assert(graft.sources.SnapshotTable.read(spark, root).count() == 50)
  }

  test("100-batch captured-CDC sink + compact/vacuum: files and chains stay " +
      "bounded, the surviving change window replays to the exact head state") {
    // maintenance (compact+vacuum) and the change feed must COEXIST —
    // compaction packs files without polluting the feed (dataChange=false),
    // vacuum drops superseded versions without breaking the surviving
    // window, and the row-level captured feed replayed over that window
    // must reconstruct the head snapshot exactly. 100 batches,
    // maintenance every 10/25.
    import java.nio.file.{Files, Paths}
    val S = graft.sources.SnapshotTable
    val root = Files.createTempDirectory("graft-cdc-soak2").resolve("tbl").toString
    val batches = 100
    (0 until batches).foreach { b =>
      EventStream.upsertBatch((0 until 5).map(i =>
        SoakUpd((b * 5 + i) % 40, tsAt(b), b + i * 0.25)).toDF(), root,
        Seq("k"), "ts", "app", b.toLong, changeCapture = true)
      if ((b + 1) % 10 == 0)
        S.compact(spark, root, targetBytes = 1L << 20)
      if ((b + 1) % 25 == 0)
        S.vacuum(root, keepVersions = 30, orphanRetentionMs = 0L)
    }
    val head = S.latestVersion(root)
    assert(head > batches, s"expected >$batches commits, got $head")
    // 1. BOUNDED LAYOUT: live files pinned by compaction; on-disk data +
    // change files pinned by vacuum (30 versions × small-file parts, never
    // 100-batches' worth); manifest count likewise
    assert(S.readManifest(root, head).files.size <= 8,
      s"head layout not compacted: ${S.readManifest(root, head).files.size}")
    val onDisk = Files.list(Paths.get(root, "data")).count()
    val cdcOnDisk = Files.list(Paths.get(root, "_changes")).count()
    assert(onDisk <= 30 * 12, s"data dir grew unboundedly: $onDisk files")
    assert(cdcOnDisk <= 30 * 20, s"_changes grew unboundedly: $cdcOnDisk files")
    // 2. BOUNDED CHAINS: every surviving manifest resolves within the
    // checkpoint interval
    val manifests = Files.list(Paths.get(root, "_manifests")).toArray
      .map(_.toString.split("/").last.stripPrefix("v").stripSuffix(".txt").toInt)
    assert(manifests.length <= 30 + SnapshotChainProbe.maxChain(root, manifests) + 5,
      s"manifest count not bounded: ${manifests.length}")
    assert(SnapshotChainProbe.maxChain(root, manifests) <= 20,
      "a delta chain outgrew the checkpoint interval")
    // 3. REPLAYABLE WINDOW: state(from) + captured feed = state(head),
    // with compact commits contributing NOTHING to the feed
    val from = manifests.filter(v => S.readManifest(root, v).op != "compact").min
    val feed = S.readChanges(spark, root, fromVersion = from).collect()
    assert(feed.forall(_.getAs[Int]("_change_version") > from))
    val compactVersions = manifests
      .filter(v => v > from && S.readManifest(root, v).op == "compact").toSet
    assert(feed.forall(r => !compactVersions(r.getAs[Int]("_change_version"))),
      "compact commits must stay silent in the feed")
    // net the feed driver-side (multiset semantics), oldest version first
    type R = (Long, Long, Double) // (k, ts-millis, v)
    val state = scala.collection.mutable.Map.empty[R, Int].withDefaultValue(0)
    S.read(spark, root, Some(from)).collect().foreach { r =>
      state((r.getAs[Long]("k"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Double]("v"))) += 1
    }
    feed.sortBy(_.getAs[Int]("_change_version")).foreach { r =>
      val key: R = (r.getAs[Long]("k"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Double]("v"))
      r.getAs[String]("_change_type") match {
        case "insert" | "update_postimage" => state(key) += 1
        case "delete" | "update_preimage" => state(key) -= 1
        case other => fail(s"unexpected change type $other")
      }
    }
    val replayed = state.filter(_._2 != 0)
    assert(replayed.values.forall(_ == 1), s"replay multiset corrupt: $replayed")
    val headState = S.read(spark, root).collect().map { r =>
      (r.getAs[Long]("k"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Double]("v"))
    }.toSet
    assert(replayed.keySet == headState,
      "replaying the captured window does not reconstruct the head snapshot")
    assert(headState.size == 40, s"upsert table should hold 40 keys")
  }
}
