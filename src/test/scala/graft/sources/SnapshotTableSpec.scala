package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snapshot-spec").resolve("tbl").toString

  test("overwrite chains versions; time travel reads pinned snapshots") {
    val root = freshRoot()
    val v1 = SnapshotTable.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    val v2 = SnapshotTable.write(Seq((3, "c")).toDF("k", "v"), root)
    assert(v1 == 1 && v2 == 2)
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((3, "c")))
    // snapshot isolation: v1 is still fully readable after the overwrite
    assert(SnapshotTable.read(spark, root, Some(1)).as[(Int, String)]
      .collect().toSet == Set((1, "a"), (2, "b")))
  }

  test("append accumulates rows across versions and shares data files") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)
    SnapshotTable.write(Seq((2, "b")).toDF("k", "v"), root, mode = "append")
    SnapshotTable.write(Seq((3, "c")).toDF("k", "v"), root, mode = "append")
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (3, "c")))
    // the v2 manifest's files are a strict subset of v3's (shared, not copied)
    val m2 = SnapshotTable.readManifest(root, 2)
    val m3 = SnapshotTable.readManifest(root, 3)
    assert(m2.files.toSet.subsetOf(m3.files.toSet))
  }

  test("a losing committer re-bases and commits the next version") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)
    // simulate a concurrent winner: pre-create v2 by hand
    val winner = Seq((9, "z")).toDF("k", "v")
    SnapshotTable.write(winner, root, mode = "append") // commits v2
    // now an appender that started from v1 must land at v3 with v2's rows kept
    val v = SnapshotTable.write(Seq((2, "b")).toDF("k", "v"), root, mode = "append")
    assert(v == 3)
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((1, "a"), (9, "z"), (2, "b")))
  }

  test("concurrent racing appenders: no lost update, no torn manifest") {
    // A REAL race, not a simulated one: N threads append concurrently to
    // one table. The optimistic protocol (stage → CREATE_NEW next manifest
    // → loser re-resolves head, re-bases, retries) must serialize them into
    // a contiguous version chain where every writer's rows appear exactly
    // once in the final snapshot and every manifest parses completely.
    val root = freshRoot()
    SnapshotTable.write(Seq((0, "base")).toDF("k", "v"), root)
    val nWriters = 6
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(nWriters)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val start = new java.util.concurrent.CountDownLatch(1)
    (1 to nWriters).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            start.await()
            versions.add(SnapshotTable.write(
              Seq((i, s"w$i")).toDF("k", "v"), root, mode = "append"))
          } catch { case t: Throwable => errors.add(t) }
      })
    }
    start.countDown() // fire all writers at once to maximize collisions
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers timed out")
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
    // contiguous chain: versions 2..nWriters+1, each claimed exactly once
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.map(_.toInt).toSet == (2 to nWriters + 1).toSet,
      s"non-contiguous committed versions: ${versions.asScala.toList.sorted}")
    assert(SnapshotTable.latestVersion(root) == nWriters + 1)
    // no torn manifest: every version parses and each append grows the
    // file list strictly (base files + its own)
    val manifests = (1 to nWriters + 1).map(SnapshotTable.readManifest(root, _))
    manifests.sliding(2).foreach { case Seq(a, b) =>
      assert(b.files.size > a.files.size, s"v${b.version} lost files of v${a.version}")
      assert(a.files.toSet.subsetOf(b.files.toSet),
        s"v${b.version} dropped base files — lost update")
    }
    // no lost update: the final snapshot holds every writer's row once
    val got = SnapshotTable.read(spark, root).as[(Int, String)].collect().toSeq
    assert(got.size == nWriters + 1, s"row count ${got.size}")
    assert(got.toSet == ((0, "base") +: (1 to nWriters).map(i => (i, s"w$i"))).toSet)
  }

  test("merge upserts by key: matched rows replaced, new rows inserted, one version") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), root)
    val v = SnapshotTable.merge(Seq((2, "B"), (4, "d")).toDF("k", "v"), root, Seq("k"))
    assert(v == 2)
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "B"), (3, "c"), (4, "d")))
    // time travel still sees the pre-merge snapshot
    assert(SnapshotTable.read(spark, root, Some(1)).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (3, "c")))
    // merge into an empty table is an insert
    val root2 = freshRoot()
    assert(SnapshotTable.merge(Seq((9, "z")).toDF("k", "v"), root2, Seq("k")) == 1)
    assert(SnapshotTable.read(spark, root2).as[(Int, String)].collect().toSet
      == Set((9, "z")))
  }

  test("racing mergers serialize: disjoint-key upserts both survive, orphans vacuum away") {
    // merge content depends on the base snapshot, so a race loser must
    // RECOMPUTE from the new head (not just re-base a file list) — fire
    // concurrent mergers on disjoint keys and require every upsert in the
    // final state
    val root = freshRoot()
    SnapshotTable.write(Seq((0, "base")).toDF("k", "v"), root)
    val nWriters = 4
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(nWriters)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    (1 to nWriters).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            start.await()
            SnapshotTable.merge(Seq((i, s"m$i")).toDF("k", "v"), root, Seq("k"))
          } catch { case t: Throwable => errors.add(t) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "mergers timed out")
    assert(errors.isEmpty, s"merger failed: ${errors.peek()}")
    assert(SnapshotTable.latestVersion(root) == nWriters + 1)
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == ((0, "base") +: (1 to nWriters).map(i => (i, s"m$i"))).toSet)
    // losers re-staged per attempt → orphaned data files; with the orphan
    // age gate DISARMED (no writer is still in flight here) vacuum sweeps
    // everything no surviving manifest references, and the table still reads
    SnapshotTable.vacuum(root, keepVersions = 1, orphanRetentionMs = 0L)
    val live = SnapshotTable.readManifest(root, nWriters + 1).files.toSet
    val onDisk = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "data")).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(onDisk == live, s"unreferenced files survive vacuum: ${onDisk -- live}")
    assert(SnapshotTable.read(spark, root).count() == nWriters + 1)
  }

  test("compact bin-packs small files: same content, fewer files, stats preserved") {
    val root = freshRoot()
    // ten 1-file appends with per-file stats — the CDC-sink layout shape
    (1 to 10).foreach { i =>
      SnapshotTable.write(
        Seq.tabulate(100)(j => (i * 1000L + j, i.toLong)).toDF("id", "grp")
          .coalesce(1),
        root, mode = if (i == 1) "overwrite" else "append",
        statsCols = Seq("grp"))
    }
    val before = SnapshotTable.readManifest(root, 10)
    assert(before.files.size == 10)
    val v = SnapshotTable.compact(spark, root, targetBytes = 1L << 20)
    assert(v == 11)
    val after = SnapshotTable.readManifest(root, v)
    assert(after.files.size < before.files.size,
      s"compaction did not shrink the layout: ${after.files.size}")
    // content identical to the pre-compact snapshot
    val pre = SnapshotTable.read(spark, root, Some(10))
      .as[(Long, Long)].collect().sorted.toSeq
    val post = SnapshotTable.read(spark, root).as[(Long, Long)].collect()
      .sorted.toSeq
    assert(pre == post, "compaction changed table content")
    // packed files carry fresh grp envelopes (pruning survives)
    assert(after.files.forall(f => after.stats.get(f).exists(_.contains("grp"))),
      "packed files lost their stats envelopes")
    // idempotent-ish: a second compact with everything already packed into
    // one target-size file is a no-op returning the current version
    val v2 = SnapshotTable.compact(spark, root, targetBytes = 1L << 20)
    assert(v2 == v, "re-compacting a packed table must be a no-op")
  }

  test("vacuum age-gates never-committed orphans but sweeps dropped-version files now") {
    // the corruption ADVICE warned about: a concurrent writer's staged
    // files (moved into data/, manifest not yet committed) look orphaned —
    // vacuum must NOT delete them inside the retention window
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)             // v1
    SnapshotTable.write(Seq((2, "b")).toDF("k", "v"), root)             // v2 overwrite
    val inFlight = Paths.get(root, "data", "deadbeef-part-00000.parquet")
    Files.write(inFlight, Array[Byte](1, 2, 3))                          // fresh mtime
    SnapshotTable.vacuum(root, keepVersions = 1)                         // default gate
    assert(Files.exists(inFlight),
      "fresh uncommitted staged file must survive the age-gated sweep")
    // v1's data file was durably COMMITTED then dropped — deleted at once
    val v2Files = SnapshotTable.readManifest(root, 2).files.toSet
    val onDisk = Files.list(Paths.get(root, "data")).toArray
      .map(_.toString).map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(onDisk == v2Files + inFlight.getFileName.toString)
    // gate disarmed: the orphan goes too
    SnapshotTable.vacuum(root, keepVersions = 1, orphanRetentionMs = 0L)
    assert(!Files.exists(inFlight))
  }

  test("zorderBy compaction restores stats-pruning that name-order packing " +
      "cannot, with identical content") {
    // interleaved appends: every file spans the WHOLE key range, so the
    // manifest envelopes are useless and plain bin-packing (name order)
    // fossilizes that. The z-order rewrite re-clusters globally.
    val rows = (0 until 4000).map(i => (i % 100, i.toLong))
    def build(): String = {
      val root = freshRoot()
      (0 until 4).foreach { j =>
        SnapshotTable.write(
          rows.filter(_._2 % 4 == j).toDF("k", "payload").coalesce(1), root,
          mode = if (j == 0) "overwrite" else "append", statsCols = Seq("k"))
      }
      root
    }
    def totalBytes(root: String): Long =
      SnapshotTable.readManifest(root, SnapshotTable.latestVersion(root))
        .files.map(f => Files.size(Paths.get(root, "data", f))).sum
    val plain = build(); val zed = build()
    SnapshotTable.compact(spark, plain,
      targetBytes = totalBytes(plain) / 2, smallFraction = 1.0)
    SnapshotTable.compact(spark, zed,
      targetBytes = totalBytes(zed) / 2, smallFraction = 1.0,
      zorderBy = Seq("k"))
    val (_, (keptP, totP)) = SnapshotTable.readPruned(spark, plain, "k", 10, 20)
    val (prunedZ, (keptZ, totZ)) = SnapshotTable.readPruned(spark, zed, "k", 10, 20)
    assert(totP >= 2 && totZ >= 2, s"compaction produced $totP/$totZ files")
    assert(keptP == totP,
      "name-order packing of interleaved files cannot prune — test setup broke")
    assert(keptZ < totZ, s"z-order compaction must restore pruning: $keptZ/$totZ")
    // permutation contract: both tables still hold exactly the input rows
    assert(SnapshotTable.read(spark, plain).as[(Int, Long)].collect().toSet
      == rows.toSet)
    assert(SnapshotTable.read(spark, zed).as[(Int, Long)].collect().toSet
      == rows.toSet)
    // and the pruned read still returns every matching row
    assert(prunedZ.where($"k".between(10, 20)).count()
      == rows.count(r => r._1 >= 10 && r._1 <= 20))
  }

  test("vacuum vs a slow writer: default retention lands the commit intact; " +
      "retention 0 corrupts it (the race the age gate exists for)") {
    // the full race, both outcomes, played out with a real staged parquet
    // and a real commit. A writer's protocol is stage-into-data/ THEN
    // create the manifest; vacuum running in that window sees files no
    // manifest references. With the default retention the writer's commit
    // must land readable; with retention forced to 0 the files are swept
    // and the subsequent commit references data that no longer exists —
    // the corruption is the PROOF the gate is load-bearing, not paranoia.
    def stageSlowWriter(root: String): (String, String) = {
      val tmp = Files.createTempDirectory("graft-slow-writer")
      Seq((99, "slow")).toDF("k", "v").coalesce(1).write
        .mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val name = s"slowwriter-${part.getFileName}"
      Files.move(part, Paths.get(root, "data", name))
      (name, Seq((99, "slow")).toDF("k", "v").schema.json)
    }
    // positive: vacuum with the DEFAULT gate while the writer is mid-flight
    val ok = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), ok)               // v1
    val (stagedOk, schemaOk) = stageSlowWriter(ok)
    SnapshotTable.vacuum(ok, keepVersions = 1)          // writer still staging
    val prior = SnapshotTable.readManifest(ok, 1).files
    assert(SnapshotTable.tryCommit(ok, 1, "append", schemaOk,
      prior :+ stagedOk) == 2, "slow writer's commit should land")
    assert(SnapshotTable.read(spark, ok).as[(Int, String)].collect().toSet
      == Set((1, "a"), (99, "slow")), "commit intact after gated vacuum")
    // negative: an operator who disarms the gate loses the race
    val bad = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), bad)              // v1
    val (stagedBad, schemaBad) = stageSlowWriter(bad)
    Thread.sleep(5)
    SnapshotTable.vacuum(bad, keepVersions = 1, orphanRetentionMs = 0L)
    assert(!Files.exists(Paths.get(bad, "data", stagedBad)),
      "retention 0 sweeps the in-flight staged file")
    val priorBad = SnapshotTable.readManifest(bad, 1).files
    assert(SnapshotTable.tryCommit(bad, 1, "append", schemaBad,
      priorBad :+ stagedBad) == 2, "the doomed commit still wins its slot")
    intercept[Exception] { // the table is corrupt: a listed file is gone
      SnapshotTable.read(spark, bad).collect()
    }
  }

  test("schema evolution: mergeSchema append unions fields, old files backfill NULL") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)
    // un-flagged append with a new column is refused (silent loss guard)
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((2, "b", 9.5)).toDF("k", "v", "score"), root,
        mode = "append")
    }
    // flagged: schema evolves, old rows read with NULL score
    SnapshotTable.write(Seq((2, "b", 9.5)).toDF("k", "v", "score"), root,
      mode = "append", mergeSchema = true)
    val out = SnapshotTable.read(spark, root)
      .select($"k", $"v", $"score").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((1, "a", None), (2, "b", Some(9.5))))
    // the narrower frame still appends under the evolved schema (its
    // missing column backfills), and type changes are always refused
    SnapshotTable.write(Seq((3, "c")).toDF("k", "v"), root,
      mode = "append", mergeSchema = true)
    assert(SnapshotTable.read(spark, root).count() == 3)
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((4, "d", "not-a-double")).toDF("k", "v", "score"),
        root, mode = "append", mergeSchema = true)
    }
    // time travel: v1 still reads with its ORIGINAL two-column schema
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq == Seq("k", "v"))
  }

  test("merge evolves schema only when flagged, same contract as append") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((2, "B", 1.5)).toDF("k", "v", "score"), root, Seq("k"))
    }
    SnapshotTable.merge(Seq((2, "B", 1.5)).toDF("k", "v", "score"), root,
      Seq("k"), mergeSchema = true)
    val out = SnapshotTable.read(spark, root)
      .select($"k", $"v", $"score").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((1, "a", None), (2, "B", Some(1.5))))
  }

  test("zorderBy compaction on a renamed column records its envelope under the physical name") {
    val root = freshRoot()
    (1 to 4).foreach { i =>
      SnapshotTable.write(Seq((i.toLong, i * 10L)).toDF("id", "k").coalesce(1), root,
        mode = if (i == 1) "overwrite" else "append", statsCols = Seq("id"))
    }
    SnapshotTable.renameColumn(root, "k", "key")
    def bytes = SnapshotTable.readManifest(root, SnapshotTable.latestVersion(root))
      .files.map(f => Files.size(Paths.get(root, "data", f))).sum
    SnapshotTable.compact(spark, root, targetBytes = bytes / 3, smallFraction = 1.0,
      zorderBy = Seq("key", "id"))
    val m = SnapshotTable.readManifest(root, SnapshotTable.latestVersion(root))
    assert(m.stats.values.forall(_.contains("k")), m.stats)
    val (got, (kept, total)) = SnapshotTable.readPruned(spark, root, "key", 20, 20)
    assert(total >= 2 && kept < total, s"kept $kept of $total files")
    assert(got.where($"key" === 20L).as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }

  test("file-stats pruning: z-ordered write records envelopes; readPruned skips files") {
    val root = freshRoot()
    val rng = new scala.util.Random(19)
    val rows = (1 to 20000).map(i =>
      (i.toLong, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong)).toSeq
    val df = rows.toDF("id", "a", "b")
    // z-order on (a, b) so every file covers a tight 2-D envelope, then
    // write WITH stats — the footers the write produced are the source
    SnapshotTable.write(
      graft.ops.Layout.zorder(df, Seq("a", "b"), bits = 8, outPartitions = 16),
      root, statsCols = Seq("a", "b"))
    val m = SnapshotTable.readManifest(root, 1)
    assert(m.files.size >= 8, s"need a multi-file table, got ${m.files.size}")
    assert(m.files.forall(f => m.stats.get(f).exists(s =>
      s.contains("a") && s.contains("b"))), "every file needs both envelopes")
    // a 10% slice on `a` must skip most files and return exactly the rows
    val (pruned, (kept, total)) = SnapshotTable.readPruned(spark, root, "a", 100, 199)
    info(s"readPruned kept $kept of $total files for a 10% slice")
    assert(kept * 2 <= total, s"pruning too weak: $kept/$total")
    val got = pruned.where($"a".between(100, 199))
      .select($"id").as[Long].collect().sorted.toSeq
    val want = rows.collect { case (id, a, _) if a >= 100 && a <= 199 => id }.sorted
    assert(got == want, "pruned read lost or invented rows")
    // the OTHER dimension prunes too (the z-order composition)
    val (_, (keptB, _)) = SnapshotTable.readPruned(spark, root, "b", 700, 799)
    info(s"readPruned kept $keptB of $total files on dimension b")
    assert(keptB * 2 <= total, s"b-dimension pruning too weak: $keptB/$total")
    // out-of-range predicate keeps nothing
    val (empty, (k0, _)) = SnapshotTable.readPruned(spark, root, "a", 5000, 6000)
    assert(k0 == 0 && empty.count() == 0)
    // a column without stats never prunes
    val (_, (kAll, tAll)) = SnapshotTable.readPruned(spark, root, "id", -1, -1)
    assert(kAll == tAll, "stat-less column must keep every file")
  }

  test("merge re-derives the base manifest's stats columns, so pruning survives upserts") {
    val root = freshRoot()
    val df = (1L to 4000L).map(i => (i, i % 1000)).toDF("id", "a")
      .repartition(8, $"a")
    SnapshotTable.write(df, root, statsCols = Seq("a"))
    assert(SnapshotTable.readManifest(root, 1).stats.nonEmpty)
    // an upsert with NO explicit statsCols must keep the envelope column
    // set (the merge rewrites every file, so envelopes are re-derived from
    // the staged footers — tightness depends on the merged layout, but the
    // COLUMN SET must never silently vanish, the ADVICE failure mode)
    SnapshotTable.merge(Seq((1L, 999L)).toDF("id", "a"), root, Seq("id"))
    val m = SnapshotTable.readManifest(root, 2)
    assert(m.files.nonEmpty && m.files.forall(f =>
        m.stats.get(f).exists(_.contains("a"))),
      "merge dropped the stats envelopes the base manifest carried")
    assert(m.stats.valuesIterator.flatMap(_.get("a")).forall {
      case (mn, mx) => mn <= mx })
  }

  test("manifest schema pins the read schema (evolution-safe)") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)
    SnapshotTable.write(Seq((1L, "a", true)).toDF("k", "v", "flag"), root)
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq == Seq("k", "v"))
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "v", "flag"))
  }

  test("vacuum drops old versions but keeps files shared with live ones") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)             // v1
    SnapshotTable.write(Seq((2, "b")).toDF("k", "v"), root, "append")   // v2
    SnapshotTable.write(Seq((3, "c")).toDF("k", "v"), root)             // v3 overwrite
    SnapshotTable.vacuum(root, keepVersions = 1)
    // v3 still reads; v1/v2 manifests gone; v1's data file (unshared) deleted
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((3, "c")))
    assert(SnapshotTable.latestVersion(root) == 3)
    intercept[Exception](SnapshotTable.readManifest(root, 1))
    val dataFiles = Files.list(Paths.get(root, "data")).count()
    assert(dataFiles == SnapshotTable.readManifest(root, 3).files.size)
  }

  test("deleteWhere rewrites only hit files; envelope prune skips without reading") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // three single-file commits partitioning the key space, envelopes on k
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    SnapshotTable.write((11 to 20).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))
    SnapshotTable.write((21 to 30).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))
    val (v, rewritten, skipped) = SnapshotTable.deleteWhere(spark, root,
      col("k").between(14, 17), pruneHint = Some(("k", 14.0, 17.0)))
    assert(v == 4 && rewritten == 1 && skipped == 2,
      s"expected 1 rewrite / 2 envelope skips, got ($v, $rewritten, $skipped)")
    assert(SnapshotTable.read(spark, root).as[(Int, String)].collect()
      .map(_._1).toSet == ((1 to 30).toSet -- (14 to 17)))
    // untouched files keep their envelopes; the rewrite re-derives its own,
    // so a later pruned read still skips
    val m = SnapshotTable.readManifest(root, v)
    assert(m.files.forall(f => m.stats.get(f).exists(_.contains("k"))))
    // second delete with no matches commits nothing
    val (v2, r2, _) = SnapshotTable.deleteWhere(spark, root,
      col("k") === 15, pruneHint = Some(("k", 15.0, 15.0)))
    assert(v2 == v && r2 == 0, "no-match delete must not commit a version")
  }

  test("replaceWhere swaps exactly the slice in ONE commit; prune skips the rest") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    SnapshotTable.write((11 to 20).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))
    SnapshotTable.write((21 to 30).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))
    // backfill the 14-17 slice: 15 is dropped, the rest recomputed
    val (v, rewritten, skipped) = SnapshotTable.replaceWhere(
      Seq((14, "n14"), (16, "n16"), (17, "n17")).toDF("k", "v"), root,
      col("k").between(14, 17), pruneHint = Some(("k", 14.0, 17.0)))
    // ONE commit (v4): readers never see the deleted-but-not-yet-replaced state
    assert(v == 4 && rewritten == 1 && skipped == 2,
      s"expected 1 rewrite / 2 envelope skips, got ($v, $rewritten, $skipped)")
    val got = SnapshotTable.read(spark, root).as[(Int, String)].collect().toSet
    val expected = (1 to 30).filterNot((14 to 17).contains)
      .map(i => (i, s"r$i")).toSet ++ Set((14, "n14"), (16, "n16"), (17, "n17"))
    assert(got == expected)
    // every live file still carries its envelope (skipped keep theirs, the
    // rewrite and the incoming slice re-derive their own)
    val m = SnapshotTable.readManifest(root, v)
    assert(m.files.forall(f => m.stats.get(f).exists(_.contains("k"))))
  }

  test("string envelopes: categorical pruning skips non-matching files, never rows") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // three lang-pure files + one mixed file whose envelope spans de..zh
    SnapshotTable.write(Seq((1, "de"), (2, "de")).toDF("id", "lang")
      .coalesce(1), root, statsCols = Seq("lang"))
    SnapshotTable.write(Seq((3, "en"), (4, "en")).toDF("id", "lang")
      .coalesce(1), root, mode = "append", statsCols = Seq("lang"))
    SnapshotTable.write(Seq((5, "zh")).toDF("id", "lang")
      .coalesce(1), root, mode = "append", statsCols = Seq("lang"))
    SnapshotTable.write(Seq((6, "de"), (7, "zh")).toDF("id", "lang")
      .coalesce(1), root, mode = "append", statsCols = Seq("lang"))
    val k = SnapshotTable.prefixKey("en")
    val (pruned, (kept, total)) = SnapshotTable.readPruned(spark, root, "lang", k, k)
    // the en file AND the spanning mixed file survive; de and zh files skip
    assert(total == 4 && kept == 2, s"expected 2/4 kept, got $kept/$total")
    assert(pruned.where(col("lang") === "en").select("id").as[Int]
      .collect().toSet == Set(3, 4))
    // range prune: everything < 'f' keeps de, en, and the mixed file
    val (_, (kept2, _)) = SnapshotTable.readPruned(spark, root, "lang",
      SnapshotTable.prefixKey("a"), SnapshotTable.prefixKey("f"))
    assert(kept2 == 3)
  }

  test("prefixKey is order-preserving and saturates safely past 6 bytes") {
    val ss = Seq("", "a", "ab", "abcdef", "abcdefx", "abcdefy", "abcdeg", "b", "zz")
    val sorted = ss.sorted
    val keys = sorted.map(SnapshotTable.prefixKey)
    // non-strict monotone: s <= t => key(s) <= key(t)
    assert(keys.zip(keys.tail).forall { case (x, y) => x <= y })
    // beyond-6-byte values collapse to the same key — kept, never pruned
    assert(SnapshotTable.prefixKey("abcdefx") == SnapshotTable.prefixKey("abcdefy"))
    assert(SnapshotTable.prefixKey("abcdef") == SnapshotTable.prefixKey("abcdefx"))
  }

  test("replaceWhere refuses incoming rows outside the condition") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v"), root)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.replaceWhere(Seq((4, "ok"), (99, "outside")).toDF("k", "v"),
        root, col("k").between(3, 6))
    }
    assert(ex.getMessage.contains("must all satisfy"))
    // the refusal left the table untouched at v1
    assert(SnapshotTable.latestVersion(root) == 1)
  }

  test("replaceWhere with no live matches is a pure backfill insert") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    val (v, rewritten, skipped) = SnapshotTable.replaceWhere(
      Seq((45, "x45")).toDF("k", "v"), root, col("k").between(40, 50),
      pruneHint = Some(("k", 40.0, 50.0)))
    assert(v == 2 && rewritten == 0 && skipped == 1)
    assert(SnapshotTable.read(spark, root).count() == 11)
  }

  test("replaceWhere changeCapture commits the row-level delete+insert feed") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    val v = SnapshotTable.replaceWhere(
      Seq((4, "n4"), (5, "n5")).toDF("k", "v"), root,
      col("k").between(4, 6), changeCapture = true)._1
    val ch = SnapshotTable.readChanges(spark, root, fromVersion = v - 1)
      .select("k", "v", "_change_type").as[(Int, String, String)]
      .collect().toSet
    // exactly the replaced rows out, exactly the backfill in — row-level,
    // not the file-diff amplification (6 is dropped, not re-inserted)
    assert(ch == Set((4, "r4", "delete"), (5, "r5", "delete"),
      (6, "r6", "delete"), (4, "n4", "insert"), (5, "n5", "insert")))
  }

  test("fastStats answers count/min/max from metadata, exactly, or refuses honestly") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 10).map(i => (i, i * 1.5)).toDF("k", "x")
      .coalesce(1), root, statsCols = Seq("k", "x"))
    SnapshotTable.write((11 to 20).map(i => (i, i * 1.5)).toDF("k", "x")
      .coalesce(1), root, mode = "append", statsCols = Seq("k", "x"))
    assert(SnapshotTable.fastStats(root, Seq("k", "x"))
      == Some((20L, Map("k" -> (1.0, 20.0), "x" -> (1.5, 30.0)))))
    // copy-on-write delete: the rewrite re-derives envelopes → still exact
    SnapshotTable.deleteWhere(spark, root, col("k") >= 18)
    assert(SnapshotTable.fastStats(root, Seq("k"))
      == Some((17L, Map("k" -> (1.0, 17.0)))))
    // a deletion vector makes footer stats over-approximate → refuse
    SnapshotTable.deleteWhereMoR(spark, root, col("k") === 5)
    assert(SnapshotTable.fastStats(root, Seq("k")).isEmpty)
  }

  test("fastStats refuses stat-less files and non-numeric columns") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v").coalesce(1), root,
      statsCols = Seq("k"))
    // an envelope-less append poisons completeness
    SnapshotTable.write(Seq((2, "b")).toDF("k", "v").coalesce(1), root,
      mode = "append")
    assert(SnapshotTable.fastStats(root, Seq("k")).isEmpty)
    // string columns are lossy prefix keys, refused by type
    intercept[IllegalArgumentException] {
      SnapshotTable.fastStats(root, Seq("v"))
    }
  }

  test("clone: zero-copy lineage fork survives source overwrite AND vacuum") {
    import org.apache.spark.sql.functions.col
    val src = freshRoot()
    val cln = src + "_clone"
    SnapshotTable.write((1 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), src, statsCols = Seq("k"))
    SnapshotTable.merge(Seq((5, "m5"), (11, "m11")).toDF("k", "v"), src,
      Seq("k"))
    SnapshotTable.clone(src, cln)
    // clone starts a fresh lineage at the cloned state, stats carried
    val m = SnapshotTable.readManifest(cln, 1)
    assert(SnapshotTable.latestVersion(cln) == 1 &&
      SnapshotTable.readRaw(cln, 1).op == "clone" &&
      m.files.forall(f => m.stats.get(f).exists(_.contains("k"))))
    // divergence: delete on the clone, overwrite + 0-retention vacuum on
    // the source — a manifest-reference shallow clone would now be corrupt
    SnapshotTable.deleteWhere(spark, cln, col("k") <= 3)
    SnapshotTable.write(Seq((99, "z")).toDF("k", "v").coalesce(1), src)
    SnapshotTable.vacuum(src, keepVersions = 1, orphanRetentionMs = 0L)
    assert(SnapshotTable.read(spark, src).as[(Int, String)].collect().toSet
      == Set((99, "z")))
    assert(SnapshotTable.read(spark, cln).as[(Int, String)].collect().toSet
      == ((4 to 10).map(i => (i, s"r$i")).toSet - ((5, "r5")) ++
        Set((5, "m5"), (11, "m11"))))
  }

  test("clone carries deletion vectors and CHECK constraints; refuses non-empty targets") {
    import org.apache.spark.sql.functions.col
    val src = freshRoot()
    val cln = src + "_clone"
    SnapshotTable.write((1 to 8).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), src)
    SnapshotTable.addCheckConstraint(spark, src, "pos_k", "k > 0")
    // merge-on-read delete: the clone must see THROUGH the linked vector
    SnapshotTable.deleteWhereMoR(spark, src, col("k").between(2, 3))
    SnapshotTable.clone(src, cln)
    assert(SnapshotTable.read(spark, cln).select("k").as[Int].collect().toSet
      == Set(1, 4, 5, 6, 7, 8))
    assert(SnapshotTable.checkConstraints(cln) == Map("pos_k" -> "k > 0"))
    // inherited constraint enforced on the clone's own writers
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((-1, "bad")).toDF("k", "v"), cln, mode = "append")
    }
    intercept[IllegalArgumentException] { SnapshotTable.clone(src, cln) }
  }

  test("history reports the commit chain oldest-first with live-file counts") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 5).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    SnapshotTable.write((6 to 9).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))
    SnapshotTable.deleteWhere(spark, root, col("k").between(7, 8),
      pruneHint = Some(("k", 7.0, 8.0)))
    SnapshotTable.restore(root, 1)
    assert(SnapshotTable.history(spark, root)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1) ==
      Seq((1, "overwrite", 1L), (2, "append", 2L), (3, "delete", 2L),
        (4, "restore", 1L)))
  }

  test("deleteWhere keeps NULL-condition rows (SQL DELETE semantics)") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write(Seq((Some(1), "a"), (None, "nullk"), (Some(3), "c"))
      .toDF("k", "v"), root)
    SnapshotTable.deleteWhere(spark, root, col("k") > 2)
    // k=NULL makes (k > 2) NULL — DELETE must NOT remove that row
    assert(SnapshotTable.read(spark, root).select("v").as[String]
      .collect().toSet == Set("a", "nullk"))
  }

  test("readChanges: appends insert, delete reports out+in, compact is dataChange=false") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write((1 to 5).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))                        // v1
    SnapshotTable.write((6 to 10).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), root, mode = "append", statsCols = Seq("k"))       // v2
    SnapshotTable.deleteWhere(spark, root, col("k").between(7, 8),
      pruneHint = Some(("k", 7.0, 8.0)))                                   // v3
    SnapshotTable.compact(spark, root, targetBytes = 1L << 20)         // v4
    assert(SnapshotTable.readManifest(root, 4).op == "compact")
    val ch = SnapshotTable.readChanges(spark, root, fromVersion = 1)
      .select("k", "_change_type", "_change_version")
      .as[(Int, String, Int)].collect().toSet
    val expected =
      (6 to 10).map(i => (i, "insert", 2)).toSet ++        // append
      (6 to 10).map(i => (i, "delete", 3)).toSet ++        // hit file out
      Set(6, 9, 10).map(i => (i, "insert", 3))             // survivors back
    assert(ch == expected, s"change feed mismatch: $ch")
    // a window past the compact sees nothing at all
    assert(SnapshotTable.readChanges(spark, root, fromVersion = 3).count() == 0L)
  }

  test("readChanges spans schema evolution: old-file events backfill NULL") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root)            // v1
    SnapshotTable.write(Seq((2, "b", 9.5)).toDF("k", "v", "score"),
      root, mode = "append", mergeSchema = true)                       // v2
    SnapshotTable.write(Seq((3, "c", 1.0)).toDF("k", "v", "score"), root) // v3 overwrite
    val ch = SnapshotTable.readChanges(spark, root, fromVersion = 1)
    assert(ch.columns.toSet ==
      Set("k", "v", "score", "_change_type", "_change_version"))
    val rows = ch.select("k", "score", "_change_type", "_change_version")
      .as[(Int, Option[Double], String, Int)].collect().toSet
    // the overwrite at v3 honestly reports the v1 and v2 files out — the
    // v1 rows never carried `score`, so the event backfills NULL
    assert(rows == Set(
      (2, Some(9.5), "insert", 2),
      (1, None, "delete", 3), (2, Some(9.5), "delete", 3),
      (3, Some(1.0), "insert", 3)), s"evolved change feed mismatch: $rows")
  }

  // Every row-level writer against a concurrent appender. The table
  // starts as `nFiles` one-row files (id i, "r<i>"); the appender adds ids
  // nFiles+1 .. nFiles+3 one commit at a time. The writer's change must
  // land exactly once on top of every appended row: it either re-bases
  // over the appends or, when its inputs changed, recomputes from the head.
  private val racers: Seq[(String, Int, String, String => Any,
      Set[(Long, String)] => Set[(Long, String)])] = {
    import org.apache.spark.sql.functions.{col, lit}
    val id2 = col("id") === 2L
    def updated(rows: Set[(Long, String)]) =
      rows.map { case (i, v) => if (i == 2L) (i, "u2") else (i, v) }
    Seq(
      ("compact", 6, "compact",
        root => SnapshotTable.compact(spark, root, targetBytes = 1L << 20),
        identity),
      ("deleteWhere", 4, "delete",
        root => SnapshotTable.deleteWhere(spark, root, id2),
        _.filterNot(_._1 == 2L)),
      ("replaceWhere", 4, "replace",
        root => SnapshotTable.replaceWhere(Seq((2L, "n2")).toDF("id", "v"), root, id2),
        _.filterNot(_._1 == 2L) + ((2L, "n2"))),
      ("updateWhere", 4, "update",
        root => SnapshotTable.updateWhere(spark, root, id2, Map("v" -> lit("u2"))),
        updated),
      ("deleteWhereMoR", 4, "delete_mor",
        root => SnapshotTable.deleteWhereMoR(spark, root, id2),
        _.filterNot(_._1 == 2L)),
      ("updateWhereMoR", 4, "update_mor",
        root => SnapshotTable.updateWhereMoR(spark, root, id2, Map("v" -> lit("u2"))),
        updated))
  }

  racers.foreach { case (writer, nFiles, op, change, expect) =>
    test(s"$writer races a concurrent appender: no lost rows, both commits land") {
      val root = freshRoot()
      def row(i: Int) = Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
      (1 to nFiles).foreach { i =>
        SnapshotTable.write(row(i), root, mode = if (i == 1) "overwrite" else "append")
      }
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      pool.submit(new Runnable { def run(): Unit =
        try { start.await(); change(root): Unit }
        catch { case t: Throwable => errors.add(t) } })
      pool.submit(new Runnable { def run(): Unit =
        try { start.await()
          (nFiles + 1 to nFiles + 3).foreach(i =>
            SnapshotTable.write(row(i), root, mode = "append")) }
        catch { case t: Throwable => errors.add(t) } })
      start.countDown(); pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS), "racers timed out")
      assert(errors.isEmpty, s"racer failed: ${errors.peek()}")
      assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSet
        == expect((1 to nFiles + 3).map(i => (i.toLong, s"r$i")).toSet),
        s"the $writer/append race lost or resurrected rows")
      val ops = SnapshotTable.history(spark, root).as[(Int, String, Long)]
        .collect().map(_._2).toSeq
      assert(ops.count(_ == op) == 1 && ops.count(_ == "append") == nFiles + 2,
        s"commits: $ops")
    }
  }

  // commitOrStale, driven by hand: the change below (drop the file that
  // holds id 1) is computed from the manifest of v2, then something else
  // commits v3 before it tries.
  private def staleFixture(): (String, SnapshotTable.Manifest, String) = {
    val root = freshRoot()
    SnapshotTable.write(Seq((1L, "a")).toDF("id", "v").coalesce(1), root)
    SnapshotTable.write(Seq((2L, "b")).toDF("id", "v").coalesce(1), root,
      mode = "append")
    (root, SnapshotTable.readManifest(root, 2),
      SnapshotTable.readManifest(root, 1).files.head)
  }

  private def dropFile(root: String, m: SnapshotTable.Manifest, f: String) =
    SnapshotTable.commitOrStale(root, m, "delete", inputs = Set(f),
      adds = Nil, removes = Set(f), addStats = Map.empty)

  test("commitOrStale re-bases over a concurrent append and commits at v+2") {
    val (root, m, f) = staleFixture()
    SnapshotTable.write(Seq((3L, "c")).toDF("id", "v").coalesce(1), root,
      mode = "append")                                                  // v3
    assert(dropFile(root, m, f) == Some(4))
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSet
      == Set((2L, "b"), (3L, "c")), "both the append and the drop must show")
  }

  test("commitOrStale is stale when an overwrite removed an input file") {
    val (root, m, f) = staleFixture()
    SnapshotTable.write(Seq((9L, "z")).toDF("id", "v").coalesce(1), root) // v3
    assert(dropFile(root, m, f).isEmpty)
    assert(SnapshotTable.latestVersion(root) == 3, "a stale change committed")
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSet
      == Set((9L, "z")))
  }

  test("commitOrStale is stale when a merge-on-read delete changed an input's vector") {
    import org.apache.spark.sql.functions.col
    val (root, m, f) = staleFixture()
    val (v3, touched, _) = SnapshotTable.deleteWhereMoR(spark, root, col("id") === 1L)
    assert(v3 == 3 && touched == 1)
    assert(SnapshotTable.readManifest(root, 3).files.contains(f),
      "the input is still live; only its vector changed")
    assert(dropFile(root, m, f).isEmpty)
    assert(SnapshotTable.latestVersion(root) == 3, "a stale change committed")
  }

  test("mergeConditional: update-if-newer guard, conditional delete, " +
      "unmatched insert, and the captured feed") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    SnapshotTable.write(Seq((1L, "a", 5L), (2L, "b", 5L), (3L, "c", 5L),
      (4L, "d", 5L)).toDF("id", "v", "ts").coalesce(1), root)          // v1
    val upd = Seq((1L, "A", 9L), // newer → update
      (2L, "B", 3L),             // older → target keeps (the CDC guard)
      (3L, "X", 9L),             // deleteWhen fires → row removed
      (5L, "E", 1L))             // unmatched → insert
      .toDF("id", "v", "ts")
    SnapshotTable.mergeConditional(upd, root, Seq("id"),
      updateWhen = col("src_ts") > col("ts"),
      deleteWhen = Some(col("src_v") === "X"),
      changeCapture = true)                                            // v2
    assert(SnapshotTable.read(spark, root).as[(Long, String, Long)]
      .collect().toSet
      == Set((1L, "A", 9L), (2L, "b", 5L), (4L, "d", 5L), (5L, "E", 1L)))
    // the captured feed types every clause correctly
    val feed = SnapshotTable.readChanges(spark, root, 1)
      .select(col("id"), col("v"), col("ts"), col("_change_type"))
      .as[(Long, String, Long, String)].collect().toSet
    assert(feed == Set(
      (3L, "c", 5L, "delete"),
      (1L, "a", 5L, "update_preimage"),
      (1L, "A", 9L, "update_postimage"),
      (5L, "E", 1L, "insert")))
    // NULL conditions count false: a null ts neither updates nor deletes
    SnapshotTable.mergeConditional(
      Seq((2L, "Z", Option.empty[Long])).toDF("id", "v", "ts"),
      root, Seq("id"), updateWhen = col("src_ts") > col("ts"))         // v3
    assert(SnapshotTable.read(spark, root).where(col("id") === 2L)
      .as[(Long, String, Long)].collect().toSeq == Seq((2L, "b", 5L)))
    // duplicate source keys are refused before anything commits
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeConditional(
        Seq((7L, "x", 1L), (7L, "y", 2L)).toDF("id", "v", "ts"),
        root, Seq("id"), updateWhen = lit(true))
    }
  }

  test("restore rolls the live state back as a NEW auditable commit") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    SnapshotTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1), root)                              // v1
    SnapshotTable.merge(Seq((2L, "B"), (4L, "d")).toDF("id", "v"),
      root, Seq("id"))                                                 // v2
    SnapshotTable.deleteWhere(spark, root, col("id") === 1L)           // v3
    val v4 = SnapshotTable.restore(root, 1)
    assert(v4 == 4, "restore must be a new commit, not history rewrite")
    assert(SnapshotTable.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the mistake stays time-travelable after the rollback
    assert(SnapshotTable.read(spark, root, Some(3)).as[(Long, String)]
      .collect().toSet == Set((2L, "B"), (3L, "c"), (4L, "d")))
    // the feed reports the revert's row-level truth
    val feed = SnapshotTable.readChanges(spark, root, 3)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(feed.contains((1L, "a", "insert")) &&
      feed.contains((2L, "B", "delete")))
    // a vacuumed target refuses by name
    SnapshotTable.vacuum(root, keepVersions = 1, orphanRetentionMs = 0)
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.restore(root, 2)
    }
    assert(err.getMessage.contains("vacuumed"))
  }

  test("CHECK constraints: add validates the table, every writer refuses " +
      "violations pre-commit, drop restores") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    SnapshotTable.write(Seq((1L, "a", Option(10.0)))
      .toDF("id", "v", "x").coalesce(1), root)                         // v1
    SnapshotTable.addCheckConstraint(spark, root, "x_pos", "x > 0")
    // a constraint the CURRENT table violates is refused at add time
    intercept[IllegalArgumentException] {
      SnapshotTable.addCheckConstraint(spark, root, "bad", "x > 100")
    }
    assert(SnapshotTable.checkConstraints(root) == Map("x_pos" -> "x > 0"))
    val v = SnapshotTable.latestVersion(root)
    // append, merge, conditional merge: violating incoming rows refuse
    // BEFORE anything commits
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((2L, "b", Option(-1.0))).toDF("id", "v", "x"),
        root, mode = "append")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((3L, "c", Option(-5.0))).toDF("id", "v", "x"),
        root, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeConditional(
        Seq((3L, "c", Option(-5.0))).toDF("id", "v", "x"), root, Seq("id"),
        updateWhen = lit(true))
    }
    // NULL evaluations violate (Delta CHECK semantics)
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((4L, "d", Option.empty[Double]))
        .toDF("id", "v", "x"), root, mode = "append")
    }
    assert(SnapshotTable.latestVersion(root) == v, "refusals must not commit")
    // an UPDATE driving a row out of bounds refuses too — validated on
    // the post-assignment values
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, root, col("id") === 1L,
        Map("x" -> lit(-9.0)))
    }
    // valid writes pass, and dropping the constraint restores liberty
    SnapshotTable.merge(Seq((3L, "c", Option(5.0))).toDF("id", "v", "x"),
      root, Seq("id"))
    SnapshotTable.dropCheckConstraint(root, "x_pos")
    SnapshotTable.write(Seq((5L, "e", Option(-2.0))).toDF("id", "v", "x"),
      root, mode = "append")
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("txn stamps commit atomically and lastTxn walks back to the newest") {
    val root = freshRoot()
    SnapshotTable.write(Seq((1, "a")).toDF("k", "v"), root,
      txn = Map("app.watermark" -> "7"))                               // v1
    assert(SnapshotTable.lastTxn(root, "app.watermark") == Some((1, "7")))
    // a commit without the key does not clobber it — the walk skips it
    SnapshotTable.write(Seq((2, "b")).toDF("k", "v"), root,
      mode = "append")                                                 // v2
    assert(SnapshotTable.lastTxn(root, "app.watermark") == Some((1, "7")))
    // merge path carries the stamp too; newest wins; values may hold ';'
    SnapshotTable.merge(Seq((2, "B")).toDF("k", "v"), root, Seq("k"),
      txn = Map("app.watermark" -> "9;x", "other" -> "1"))             // v3
    assert(SnapshotTable.lastTxn(root, "app.watermark") == Some((3, "9;x")))
    assert(SnapshotTable.lastTxn(root, "other") == Some((3, "1")))
    assert(SnapshotTable.lastTxn(root, "absent").isEmpty)
    // malformed keys are refused before anything commits
    intercept[IllegalArgumentException] {
      SnapshotTable.write(Seq((3, "c")).toDF("k", "v"), root,
        mode = "append", txn = Map("bad;key" -> "v"))
    }
  }

  test("diffVersions: multiset reconciliation, NULL-safe, compaction-invariant") {
    val root = freshRoot()
    // v1: duplicate content (1,"a")×2 and a NULL-content row
    SnapshotTable.write(Seq((1, Some("a")), (1, Some("a")), (2, None),
      (3, Some("c"))).toDF("k", "v"), root, mode = "overwrite")       // v1
    SnapshotTable.write(Seq((1, Some("a")), (4, Some("d")), (2, None))
      .toDF("k", "v"), root, mode = "overwrite")                      // v2
    val d = SnapshotTable.diffVersions(spark, root, 1, 2)
      .orderBy("k").collect()
    // (1,a): 2→1; (3,c): 1→0; (4,d): 0→1; (2,NULL): 1→1 → absent
    assert(d.map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq == Seq((1, 2L, 1L, -1L), (3, 1L, 0L, -1L), (4, 0L, 1L, 1L)))
    // appends + compact between versions don't change the content diff
    SnapshotTable.write(Seq((5, Some("e"))).toDF("k", "v"), root,
      mode = "append")                                                // v3
    SnapshotTable.compact(spark, root)                                // v4
    val d2 = SnapshotTable.diffVersions(spark, root, 1, 2).orderBy("k").collect()
    assert(d2.toSeq == d.toSeq)
    // and v1 → head sees the append too
    val dHead = SnapshotTable.diffVersions(spark, root, 1,
      SnapshotTable.latestVersion(root)).orderBy("k").collect()
    assert(dHead.exists(r => r.getInt(0) == 5 && r.getLong(4) == 1L))
  }
}
