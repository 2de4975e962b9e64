package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Batch operators over the `events` table shape for the e-family
  * queries (NOT-IN-REFERENCE extension — the reference has no streaming
  * at all, SURVEY §2.10). Each is the closed-input form of a streaming
  * pattern: per-user state, an interval attribution join, first-seen
  * dedup, and idempotent per-batch writers into a
  * [[graft.sources.SnapshotTable]] keyed by an `(appId, batchId)` stamp.
  * No Structured Streaming query is started anywhere in the engine; the
  * e10–e12 queries drive the per-batch writers over deterministic
  * time-ordered slices of a closed table.
  */
object EventStream {

  final case class SessionUpdate(user_id: Long, n_events: Long,
      total_value: Double, session_end: Boolean)

  /** Per-user event count and value sum over a closed input (e2): one
    * row per user, summed in the group iterator's order. `session_end`
    * is always false — a closed input has no gap timeout to close a
    * session on. Shuffle is on user_id only. */
  def sessionize(events: Dataset[(Long, Double)]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1).mapGroups { (user, rows) =>
      val (n, total) = rows.foldLeft((0L, 0.0)) { case ((c, t), (_, v)) =>
        (c + 1, t + v) }
      SessionUpdate(user, n, total, session_end = false)
    }
  }

  /** Attribution join: each `left` row pairs with `right` rows of the
    * SAME user whose timestamp falls in [left.ts, left.ts + window]
    * (boundaries inclusive). The equi key (user_id) makes the plan a hash
    * join + range filter, never a nested loop. Columns: left as `l_*`,
    * right as `r_*`. */
  def attributedJoin(left: DataFrame, right: DataFrame,
      window: String = "30 minutes"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"), col("ts").as("l_ts"),
      col("user_id"), col("value").as("l_value"))
    val r = right.select(col("event_id").as("r_event_id"), col("ts").as("r_ts"),
      col("user_id").as("r_user_id"), col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"))
      .drop("r_user_id")
  }

  /** LEFT-OUTER attribution: like [[attributedJoin]], but a `left` row
    * with NO matching `right` row in its window still emits, with null
    * `r_*` columns — the "unconverted view" row a funnel analysis needs
    * (e13). */
  def attributedJoinOuter(left: DataFrame, right: DataFrame,
      window: String = "30 minutes"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"), col("ts").as("l_ts"),
      col("user_id"), col("value").as("l_value"))
    val r = right.select(col("event_id").as("r_event_id"), col("ts").as("r_ts"),
      col("user_id").as("r_user_id"), col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"),
      "left_outer")
      .drop("r_user_id")
  }

  /** First-seen exact dedup over a closed corpus (e8): the first row per
    * content hash by (event time, id tie-break) — the survivor an
    * in-order replay of the input would keep. One shuffle keyed on the
    * content hash; min(struct) aggregates map-side (no per-hash window
    * sort). */
  def exactDedupReplay(docs: DataFrame, idCol: String = "doc_id",
      tsCol: String = "ts", contentCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(tsCol), md5(col(contentCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(struct(col(tsCol), col(idCol))).as("__f"))
      .select(col("content_hash"), col(s"__f.$tsCol").as(tsCol),
        col(s"__f.$idCol").as(idCol))

  /** The txn key under which a writer records its last applied (appId,
    * batchId) — the Delta idempotent-writes design: the stamp commits
    * atomically with the batch's merge, so "was this batch applied"
    * survives any crash. `appId` scopes the counter to one lineage of
    * batch ids (ids restart at 0 for a fresh lineage; a stable app id
    * keeps old stamps from shadowing the new one). */
  private[streaming] def batchKey(appId: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(appId.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    s"graft.batch.$h"
  }

  /** True iff `batchId` (or a later one) of this app already committed. */
  private[streaming] def batchApplied(root: String, appId: String,
      batchId: Long): Boolean =
    graft.sources.SnapshotTable.lastTxn(root, batchKey(appId))
      .exists(_._2.toLong >= batchId)

  /** One keyed upsert batch into a [[graft.sources.SnapshotTable]]: the
    * newest change per key within the batch (max-struct over `tsCol` then
    * the other columns — order independent, ties break to the largest
    * value tuple), MERGEd by `keyCols` with the `(appId, batchId)` stamp
    * riding the same commit, so last write per key wins across batches.
    * An already-applied batch returns without touching the table at all —
    * a replay costs a manifest read, not a merge. */
  def upsertBatch(batch: DataFrame, root: String, keyCols: Seq[String],
      tsCol: String, appId: String, batchId: Long,
      changeCapture: Boolean = false): Unit = {
    if (!batch.isEmpty && !batchApplied(root, appId, batchId)) {
      val keyCs = keyCols.map(col)
      val otherNames = batch.columns.filterNot(keyCols.contains)
      val latest = batch
        .groupBy(keyCs: _*)
        .agg(max(struct(
          (tsCol +: otherNames.filterNot(_ == tsCol)).map(col): _*)).as("__l"))
        .select(keyCs ++ otherNames.map(c => col(s"__l.$c").as(c)): _*)
      graft.sources.SnapshotTable.merge(latest, root, keyCols,
        changeCapture = changeCapture,
        txn = Map(batchKey(appId) -> batchId.toString)): Unit
    }
  }

  /** One partition-overwrite batch (e12): the batch's rows atomically
    * REPLACE the slices (distinct non-null `sliceCol` values) they cover —
    * [[graft.sources.SnapshotTable.replaceWhere]] per batch, the Delta
    * replaceWhere pattern for recompute feeds ("this hour/day arrived
    * again, swap it"). The slice set is collected per batch (bounded: a
    * batch covers few slices by construction).
    *
    * EXACTLY-ONCE twice over: a redelivered batch carries the same slices
    * and the same content, so re-executing it is a no-op on the table
    * CONTENT (idempotent by construction — unlike blind appends); and the
    * `(appId, batchId)` txn stamp makes the replay skip entirely without
    * even re-staging files. `sliceCol` must be non-null in the batch (a
    * NULL slice row cannot satisfy its own replace condition and is
    * refused by replaceWhere's incoming check). */
  def replaceBatch(batch: DataFrame, root: String, sliceCol: String,
      appId: String, batchId: Long, changeCapture: Boolean = false): Unit = {
    if (!batch.isEmpty && !batchApplied(root, appId, batchId)) {
      val S = graft.sources.SnapshotTable
      val stamp = Map(batchKey(appId) -> batchId.toString)
      if (S.latestVersion(root) == 0)
        S.write(batch, root, mode = "overwrite", txn = stamp): Unit
      else {
        val slices = batch.select(col(sliceCol)).distinct()
          .collect().map(_.get(0))
        S.replaceWhere(batch, root, col(sliceCol).isin(slices: _*),
          changeCapture = changeCapture, txn = stamp): Unit
      }
    }
  }

  /** One materialized-view batch (e10): [[upsertBatch]] into the base
    * with row-level capture ON, then fold the base's captured changes
    * into a keyed count+sum summary table
    * ([[graft.sources.IncrementalAgg.foldOnce]]) — base and rollup
    * advance in lockstep, and the rollup's refresh costs O(batch), never
    * O(table). The first batch seeds the summary from the base it just
    * wrote, stamping the initial watermark.
    *
    * EXACTLY-ONCE, end to end: the upsert is skipped when the `(appId,
    * batchId)` stamp says it already committed, and the fold window is
    * derived from the summary's own durable `foldedThrough` watermark (a
    * txn stamp committed atomically with each fold's merge — the Delta
    * SetTransaction pattern). A crash between the base commit and its
    * fold therefore costs nothing: the watermark did not advance, so the
    * NEXT fold's window still contains the orphaned commit's events. A
    * fold that already committed advanced the watermark past its window,
    * so it can never re-apply. StreamingRollupSpec pins the lockstep,
    * replayed-batch, and crash-recovery cases. */
  def rollupBatch(batch: DataFrame, root: String, summaryRoot: String,
      keyCols: Seq[String], tsCol: String, groupCols: Seq[String],
      sumCols: Seq[(String, String)], appId: String, batchId: Long,
      countName: String = "n"): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      upsertBatch(batch, root, keyCols, tsCol, appId, batchId,
        changeCapture = true)
      if (S.lastTxn(summaryRoot, IA.foldedThroughKey).isEmpty)
        IA.seedSummary(spark, root, summaryRoot, groupCols, sumCols,
          countName)
      else
        IA.foldOnce(spark, root, summaryRoot, groupCols, sumCols,
          countName)
      ()
    }
  }

  /** [[rollupBatch]] whose summary ALSO carries an exact COUNT(DISTINCT
    * `distinctCol._1`) per group (e11) — the materialized view with the
    * aggregate a sketch cannot retract. Each batch folds the captured
    * change slice through [[graft.sources.IncrementalAgg
    * .applyChangesWithDistinct]]'s two-level protocol ((group, value)
    * multiplicity detail table + touched-group re-reads), and the
    * exactly-once story extends across all THREE tables because the
    * detail and summary each advance their own `foldedThrough` watermark
    * atomically with their own commit: any crash point either refolds an
    * unfolded window or skips an already-folded one, never double-folds. */
  def rollupDistinctBatch(batch: DataFrame, root: String,
      summaryRoot: String, detailRoot: String, keyCols: Seq[String],
      tsCol: String, groupCols: Seq[String],
      sumCols: Seq[(String, String)], distinctCol: (String, String),
      appId: String, batchId: Long, countName: String = "n"): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val S = graft.sources.SnapshotTable
      val IA = graft.sources.IncrementalAgg
      upsertBatch(batch, root, keyCols, tsCol, appId, batchId,
        changeCapture = true)
      if (S.lastTxn(summaryRoot, IA.foldedThroughKey).isEmpty)
        IA.seedSummaryWithDistinct(spark, root, summaryRoot, detailRoot,
          groupCols, sumCols, distinctCol, countName)
      else
        IA.foldOnceWithDistinct(spark, root, summaryRoot, detailRoot,
          groupCols, sumCols, distinctCol, countName)
      ()
    }
  }
}
