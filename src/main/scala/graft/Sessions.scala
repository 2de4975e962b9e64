package graft

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` posture shared by every main (Bench,
  * Verify, the tools) and the test suite, so the plans the specs check are
  * the plans the bench runs. Idempotent: `getOrCreate` hands back the live
  * session if one exists. */
object Sessions {
  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every core of the
    * host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the testdata stores timestamps as MICROS with isAdjustedToUTC=false;
      // read them as plain TimestampType instead of TIMESTAMP_NTZ so every
      // plan, pushdown and oracle comparison keeps the round-9 types
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // reference semantics: Spark-3/Databricks non-ANSI (bad cast → NULL)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-class cache (static conf, default 100 entries) thrashes
      // on a 300+-query surface: every pass re-runs Janino on every stage.
      // Scale-independent JVM warmup hygiene, not a local[32] tune — the
      // cache is keyed by generated source, so correctness is unaffected.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Whole-stage codegen silently disables for plans wider than 100
      // fields (default spark.sql.codegen.maxFields), dropping the wide
      // moment/correlation aggregates (q17: 144 sums, r76: 136) to the
      // interpreted path. Width of a plan is scale-independent; Janino's
      // own per-method bytecode limit (hugeMethodLimit) still bails out
      // gracefully if a generated method ever gets too big.
      .config("spark.sql.codegen.maxFields", "1024")
      // NOT set: spark.sql.join.preferSortMergeJoin=false was A/B'd over
      // the 60 heaviest queries (OPTIMIZATION_r12.md) — net zero at this
      // scale, and sort-merge is the safer default for 100 TB build sides.
      // fresh warehouse per JVM: bucketed saveAsTable must not land in cwd
      // nor collide with a previous run's in-memory-catalog leftovers
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
