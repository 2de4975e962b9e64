package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables / object-store paths; the
  * single-directory layout here mirrors the `sf*` testdata directories. Like
  * a catalog, [[load]] knows each input's schema before the query runs: the
  * first read of a file in a session infers it (one Spark job), later reads
  * declare it.
  * Every read is still a file-source scan, so Catalyst gets full pushdown
  * (filters, column pruning, partition pruning) into it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    inputKey(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some(key) =>
        val perSession = schemas.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentHashMap[String, StructType])
        Option(perSession.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            perSession.put(key, df.schema)
            df
        }
    }
  }

  /** Parquet schemas inferred by [[load]], per session (weakly, like
    * [[scanParts]]): the inferred types depend on session confs, e.g.
    * `nanosAsLong` turns `events.ts` into a long. A declared schema skips
    * Parquet's footer-reading inference job (~80–110 ms against ~20 ms a
    * load at sf0.001 on 4 cores); the file listing still runs on every read, so the
    * scan, its pushdown and [[inputPartitions]] are as before. */
  private[graft] val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, StructType]])

  /** What a cached schema is valid for: path, length and modification time
    * of every leaf file under `path`, plus the session's parquet read confs.
    * None when `path` does not exist, so a failed read is never cached. */
  private def inputKey(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val key = new StringBuilder
      val files = fs.listFiles(p, true)
      while (files.hasNext) {
        val f = files.next()
        key ++= s"${f.getPath}|${f.getLen}|${f.getModificationTime};"
      }
      spark.conf.getAll.toSeq.sorted.foreach { case (k, v) =>
        if (k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")) key ++= s"$k=$v;"
      }
      Some(key.result())
    }
  }

  /** `df` with a small global sort done in one partition. A global `Sort`
    * plans a range exchange, whose partition bounds cost a sampling job
    * before the shuffle; for a result Spark estimates at most
    * `spark.sql.autoBroadcastJoinThreshold` (the size it would broadcast),
    * one shuffle into a single partition sorted locally is the same rows in
    * the same order (ties keep their map-output order: both sorts are
    * stable), one job fewer. Applies when the analyzed root, through
    * Projects, is a global `Sort`; any other frame is returned as is, and so
    * is a sort whose input already arrives in one partition (a global
    * aggregate or window below it), which plans no exchange at all.
    * `repartition(1)`, not `coalesce(1)`: a coalesce would pull the stage
    * below it (e.g. after [[spread]]) into one task. */
  private[graft] def sortSmallInOnePartition(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // what the physical plan keeps in one partition without an exchange
    def onePartition(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty || onePartition(a.child)
      case w: Window => w.partitionSpec.isEmpty || onePartition(w.child)
      case _: Union | _: Join => p.children.forall(onePartition)
      case _: Project | _: Filter | _: Generate | _: Sort | _: SubqueryAlias =>
        onePartition(p.children.head)
      case _ => false
    }
    def rewrite(p: LogicalPlan): Option[LogicalPlan] = p match {
      case pr: Project => rewrite(pr.child).map(c => pr.copy(child = c))
      case s: Sort if s.global && s.child.stats.sizeInBytes <= limit &&
          !onePartition(s.child) =>
        Some(s.copy(global = false,
          child = Repartition(1, shuffle = true, s.child)))
      case _ => None
    }
    rewrite(df.queryExecution.analyzed).fold(df)(
      org.apache.spark.sql.graftbridge.Bridge.ofRows(df.sparkSession, _))
  }

  /** Partition count `df` would execute with. For a NARROW chain of
    * Project/Filter over ONE unpartitioned file-source relation — the shape
    * of every spread-helper call site — that count is the scan's split
    * count, a pure function of (files, split confs, parallelism), so it is
    * probed ONCE per distinct (paths, confs) per session and cached. The
    * old per-call `df.rdd.getNumPartitions` planned AND code-generated the
    * whole projection on every call (~70 ms warm), a pure planning tax
    * paid ~10 call sites × (warmup + 3 timed passes) per bench run.
    * Anything else falls back to the exact probe: a partitioned relation
    * (a pushed partition filter prunes files, so the split count depends
    * on the plan, not just the paths), and any non-scan input — which also
    * keeps the documented precondition honest (ADVICE r12): under AQE, a
    * probe on an exchange-containing plan executes the upstream stages;
    * the narrow-chain check guarantees the cached path is scan-only.
    * Sessions key the cache weakly, so a stopped session's entries go
    * with it. */
  private[graft] val scanParts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Integer]])
  private[graft] def inputPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case pr: Project => narrow(pr.child)
      case f: Filter => narrow(f.child)
      case a: SubqueryAlias => narrow(a.child)
      case _ => false
    }
    // analyzed, not logical: a bare `spark.read.parquet` frame's logical
    // plan is an unresolved data source, which would always miss the cache
    val plan = df.queryExecution.analyzed
    val cached: Option[Int] =
      if (narrow(plan)) plan.collectLeaves() match {
        case Seq(l: LogicalRelation) => l.relation match {
          case h: HadoopFsRelation if h.partitionSchema.isEmpty =>
            val conf = df.sparkSession.sessionState.conf
            val key = h.location.rootPaths.mkString(",") +
              s"|${conf.filesMaxPartitionBytes}|${conf.filesOpenCostInBytes}" +
              s"|${conf.filesMinPartitionNum}" +
              s"|${df.sparkSession.sparkContext.defaultParallelism}"
            val perSession = scanParts.computeIfAbsent(df.sparkSession,
              _ => new java.util.concurrent.ConcurrentHashMap[String, Integer])
            Some(perSession.computeIfAbsent(key,
              _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue())
          case _ => None
        }
        case _ => None
      } else None
    cached.getOrElse(df.rdd.getNumPartitions)
  }

  /** Spread a scan across all cores for CPU-bound per-row work, but only
    * when the plan would otherwise run on materially fewer partitions than
    * the session parallelism. A single small parquet file arrives as ONE
    * input split, serializing e.g. a 64-hash MinHash signature pass onto
    * one thread, so it gets fanned out; a pre-split production input
    * (partitions × 2 ≥ cores) passes through untouched, so the repartition
    * never becomes a pointless full-data shuffle at scale. Use on a scan or
    * a NARROW projection of one, so the inserted shuffle moves only the
    * columns the downstream work needs and the partition probe is cached;
    * see [[inputPartitions]]. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions(df) * 2 < target) df.repartition(target) else df
  }

  /** Scale-adaptive fan-out for a `groupBy(keys)` whose key space barely
    * collapses (value-level cells ≈ input rows, so map-side partial
    * aggregation buys nothing): when the input arrived as a single local
    * split, hash-repartition it on the GROUP KEYS at the session shuffle
    * partition count — `EnsureRequirements` then recognises the
    * partitioning and the aggregate runs 32-way behind ONE exchange with
    * no single-core partial-agg hash build. On a pre-split production
    * input this is a no-op and the groupBy keeps its normal partial-agg
    * plan (the safe default when keys DO collapse). */
  def spreadForGroupBy(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions(df) * 2 < target)
      df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
    else df
  }

  /** Normalize the events `ts` column to plain TimestampType whatever the
    * parquet generation stored:
    *  - TIMESTAMP(NANOS) reads as a raw long under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → integer DIV to µs
    *    (not double division: ns epochs ~1.7e18 exceed double's mantissa);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ in
    *    a session that infers NTZ (our sessions set
    *    `spark.sql.parquet.inferTimestampNTZ.enabled=false`, so this branch
    *    only fires under a FOREIGN session, e.g. the driver's smoke check)
    *    → cast, which under the UTC session timezone preserves the wall
    *    clock as the same instant unix_micros/epoch_us agree on. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Run INDEPENDENT eager driver-side protocols as concurrent Spark jobs
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially). Results return in INPUT order, so thunk
    * completion order cannot change anything. Each thunk must be
    * deterministic in isolation — overlap changes only WHEN tasks run,
    * never any job's input partitioning or per-partition row order, so
    * every result is bit-identical to the sequential run. */
  private[graft] def concurrently[A](thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, thunks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence(thunks.toList.map(th => Future(th()))), Duration.Inf)
    finally pool.shutdown()
  }
}
