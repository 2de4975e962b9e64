package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process, one client, closed loop: each
  * operation starts only after the previous one returned.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --bench <benchmark dir> --work <scratch dir> --launched <epoch ms>
  * Main --calibrate <data dir> --out <tsv> [--dump <dir>] --bench ... --work ...
  * }}}
  *
  * Prints a context line (run conditions, sample, failures) and then, as the
  * last stdout line, `{"correct", "attempted", "failed", "metrics"}`. */
object Main {

  val families: Seq[String] = Seq("a", "d", "e", "g", "h", "j", "m", "n", "p", "q",
    "r", "s", "t", "u", "w", "x")

  /** Patients in the medical cohort, split 1/2 study, 3/8 control, 1/8 two-point. */
  val patients = 4000

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = Paths.get(a("bench"))
    val work = Paths.get(a("work"))
    val launched = a.get("launched").map(_.toLong).getOrElse(System.currentTimeMillis())
    val loadStart = loadavg()
    val n = Runtime.getRuntime.availableProcessors
    val spark = session(n, work)
    try {
      a.get("calibrate") match {
        case Some(dir) => calibrate(spark, dir, Paths.get(a("out")), a.get("dump"))
        case None =>
          val seed = a("seed").toLong
          val w = new Run(spark, n, bench, work, a("workload"), seed, a("seconds").toDouble,
            a("trace") == "1", launched)
          val res = w.execute()
          val context = Map(
            "workload" -> a("workload"), "seed" -> seed, "trace" -> (a("trace") == "1"),
            "nproc" -> n, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
            "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
            "fail_ratio" -> res.failed.toDouble / res.attempted) ++ res.context
          val line = Json.render(context)
          val results = work.resolveSibling("results")
          val stem = s"${a("workload")}-seed$seed-trace${a("trace")}"
          Files.createDirectories(results)
          Files.write(results.resolve(s"$stem.json"), (line + "\n").getBytes(UTF_8))
          if (a("trace") == "1")
            Files.write(results.resolve(s"$stem-spans.jsonl"), w.spansJsonl.getBytes(UTF_8))
          spark.stop()
          println(line)
          println(Json.render(Map("correct" -> res.correct, "attempted" -> res.attempted,
            "failed" -> res.failed, "metrics" -> res.metrics.map { case (k, (v, u)) =>
              k -> Map("value" -> v, "unit" -> u) })))
      }
    } finally spark.stop()
  }

  def session(n: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$n]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", n.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    .config("spark.sql.codegen.maxFields", "1024")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Run every query twice over `dir`: the first pass warms the session,
    * the second is timed. Writes `name rows digest1 digest2 first_s second_s
    * error` per query (latency of the first and second execution), and with `dump` each second-pass result as Parquet plus
    * `oracle_sql.json`, the layout `tools/compare_oracle.py` reads. */
  def calibrate(spark: SparkSession, dir: String, out: Path, dump: Option[String]): Unit = {
    val tracer = new Tracer(spark, "calibrate")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val first = names.map(q => Surface.run(spark, tracer, q, dir, None))
    val lines = names.zip(first).map { case (q, o1) =>
      val o2 = Surface.run(spark, tracer, q, dir, None)
      dump.filter(_ => o2.ok).foreach { d =>
        spark.createDataFrame(java.util.Arrays.asList(o2.rows: _*), o2.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$d/$q")
      }
      System.err.println(f"[calibrate] $q%-32s ${o2.seconds}%.3f s ${o2.error.getOrElse("")}")
      Seq(q, o2.lines.length, Digest.of(o1.lines), Digest.of(o2.lines), o1.seconds, o2.seconds,
        o1.error.orElse(o2.error).getOrElse("-")).mkString("\t")
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    dump.foreach { d =>
      Files.write(Paths.get(d, "oracle_sql.json"),
        Json.render(graft.SparkEntry.oracleSql).getBytes(UTF_8))
    }
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)], context: Map[String, Any])
}

/** One benchmark run of one workload. */
final class Run(spark: SparkSession, n: Int, bench: Path, work: Path, workload: String,
    seed: Long, seconds: Double, trace: Boolean, launchedMs: Long) {
  import Main._

  private val tracer = new Tracer(spark, s"$workload-seed$seed-trace${if (trace) 1 else 0}")
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private val selfChecks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]

  /** Measured passes: wall seconds, per-operation latencies, the share of
    * wanted CPU time the hypervisor stole meanwhile (a run condition,
    * reported, not applied), and spans. */
  private final case class Pass(wall: Double, ops: Map[String, Double], stolen: Double,
      spans: Seq[Span])
  private val passes = ArrayBuffer.empty[Pass]
  private val launchSteal = Steal.sample()
  private var setupStolen = 0.0

  /** Run timed passes until `seconds` have passed, at least one (exactly
    * one with `once`); traced in trace mode. Returns the set-up time:
    * process launch to the first timed operation. */
  private def loop(once: Boolean)(pass: => (Double, Map[String, Double])): Double = {
    val setup = (System.currentTimeMillis() - launchedMs) / 1e3
    setupStolen = Steal.share(launchSteal, Steal.sample())
    if (trace) tracer.on()
    val t0 = System.nanoTime()
    try do {
      val before = tracer.recorded.size
      val s0 = Steal.sample()
      val (wall, ops) = pass
      passes += Pass(wall, ops, Steal.share(s0, Steal.sample()), tracer.recorded.drop(before))
    } while (!once && (System.nanoTime() - t0) / 1e9 < seconds)
    finally tracer.off()
    setup
  }

  /** What a workload measured: set-up time, `run_s`, the latencies the
    * quantiles describe, and context for the result line. */
  private final case class Measured(setup: Double, run: Double, latencies: Seq[Double],
      extra: Map[String, Any])

  /** Median over the passes of each operation's latency. */
  private def opMedians: Map[String, Double] = passes.flatMap(_.ops.keys).distinct
    .map(k => k -> median(passes.flatMap(_.ops.get(k)).toSeq)).toMap

  /** Median pass wall time. */
  private def passWall: Double = median(passes.map(_.wall).toSeq)

  def execute(): Main.Result = {
    val data = bench.resolve("data")
    val m = workload match {
      case "surface_sf01" => surface(data.resolve("sf0.1"), "sf0.1")
      case "surface_sf0001" => surface(data.resolve("sf0.001"), "sf0.001")
      case "medical_dag" => medical()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val e2e = Map(
      "setup_s" -> ((m.setup, "s")),
      "run_s" -> ((m.run, "s")),
      "query_p50_s" -> ((quantile(m.latencies, 0.5), "s")),
      "query_p90_s" -> ((quantile(m.latencies, 0.9), "s")))
    val metrics = if (trace) perLayer() else e2e
    val correct = failures.isEmpty && selfChecks.values.forall(identity)
    Main.Result(correct, attempted, failures.size.toLong, metrics, Map(
      "passes" -> passes.size, "pass_s" -> passes.map(_.wall), "op_median_s" -> opMedians,
      "stolen_share" -> passes.map(_.stolen), "setup_stolen_share" -> setupStolen,
      "peak_rss_mb" -> peakRssMb(),
      "failures" -> failures.take(20).toSeq, "self_checks" -> selfChecks.toMap,
      "self_time_s" -> tracer.selfTimes) ++ m.extra ++
      (if (trace) Map("end_to_end" -> e2e.map { case (k, v) => k -> v._1 }) else Map.empty))
  }

  // ----------------------------------------------------------- surface

  private def recordQuery(o: Surface.Outcome, what: String): Unit = {
    attempted += 1
    if (!o.ok) failures += s"$what ${o.name}: ${o.error.getOrElse("output mismatch")}"
  }

  /** The fixed stratified sample (`Surface.sample`, one query per family)
    * in a seed-drawn order: an untimed warmup pass, then timed passes.
    * `run_s` is a pass's wall time, the sum of its queries' latencies; the
    * quantiles are over the sample's per-query latencies. */
  private def surface(dir: Path, scale: String): Measured = {
    val expected = Surface.readExpected(bench.resolve(s"expected/$scale.tsv"))
    require(Surface.sample.map(Surface.family) == families, "sample must hold one query per family")
    require(Surface.sample.forall(expected.contains), "sample query without an expected output")
    val sample = new scala.util.Random(seed).shuffle(Surface.sample)
    // untimed warmup pass: first executions (JIT, codegen, one-time layouts)
    sample.foreach(q => recordQuery(Surface.run(spark, tracer, q, dir.toString,
      expected.get(q)), "warmup"))
    var kept: Option[(String, Array[String])] = None
    val setup = loop(once = false) {
      val outs = sample.map(q => Surface.run(spark, tracer, q, dir.toString, expected.get(q)))
      outs.foreach(recordQuery(_, "pass"))
      if (kept.isEmpty) kept = outs.find(o => o.ok && o.lines.nonEmpty &&
        expected(o.name).digest.nonEmpty).map(o => o.name -> o.lines)
      (outs.map(_.seconds).sum, outs.map(o => o.name -> o.seconds).toMap)
    }
    // gate self-check: one flipped cell in a checked result must fail
    kept.foreach { case (q, lines) =>
      val flipped = lines.updated(0, lines(0) + "#")
      selfChecks("flipped_cell_caught") = !Surface.check(expected(q), flipped)
    }
    Measured(setup, passWall, opMedians.values.toSeq, Map("sample" -> sample,
      "sample_size" -> sample.size))
  }

  // ----------------------------------------------------------- medical

  private var rawBytes = 0L

  private def medical(): Measured = {
    def record(results: Seq[graft.pipeline.Runner.StageResult], bad: Seq[String],
        what: String): Unit = {
      attempted += results.size + 1
      results.filterNot(_.ok).foreach(r =>
        failures += s"$what ${r.name}: ${r.error.map(_.toString.take(300)).getOrElse("")}")
      if (bad.nonEmpty) failures += s"$what output check: ${bad.mkString(", ")}"
    }
    // generated three times: the median counts toward set-up time, and the
    // same seed must give byte-identical input every time
    val gens = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val e = Cohort.write(work.resolve(s"raw$i"), seed, patients)
      (e, (System.nanoTime() - t0) / 1e9)
    }
    val expected = gens.head._1
    rawBytes = expected.rawBytes
    selfChecks("same_seed_same_input") = gens.map(_._1.sha256).distinct.size == 1
    // no warmup pass: the DAG is a batch job, run once per session like the
    // reference's pipeline, so its first pass is the one users pay for
    val dag = new MedicalDag(spark, tracer, work.resolve("raw1"), work.resolve("lake"), seed)
    val setup = loop(once = true) {
      val t0 = System.nanoTime()
      val results = tracer.span("dag")(dag.runOnce())
      val wall = (System.nanoTime() - t0) / 1e9
      record(results, dag.check(expected), "pass")
      (wall, results.map(r => r.name -> r.durationMs / 1e3).toMap)
    }
    // gate self-check: one wrong count in a quality report must fail
    val (cell, count) = expected.quality("study").head
    val corrupt = expected.copy(quality = expected.quality.updated("study",
      expected.quality("study").updated(cell, count + 1)))
    selfChecks("flipped_cell_caught") = dag.qualityCheck(corrupt).nonEmpty
    val genS = gens.map(_._2)
    Measured(setup - genS.sum + median(genS), passWall,
      opMedians.values.toSeq, Map("patients" -> patients,
        "input_sha256" -> expected.sha256, "raw_bytes" -> expected.rawBytes,
        "cohort_rows" -> expected.rows))
  }

  // --------------------------------------------------------- per layer

  /** Per-layer metrics: span and counter totals of the passes, averaged
    * per pass. Layers a workload does not touch report 0. `trace.overhead`
    * is the passes' wall over that wall less the tracer's own bookkeeping
    * (listener-bus drains, counter snapshots, span records). */
  private def perLayer(): Map[String, (Double, String)] = {
    val spans = passes.toSeq.flatMap(_.spans)
    val k = passes.size.toDouble
    def total(sel: String => Boolean, key: String): Double =
      spans.filter(s => sel(s.name)).map(_(key)).sum / k
    def secs(sel: String => Boolean): Double =
      spans.filter(s => sel(s.name)).map(_.seconds).sum / k
    val top: String => Boolean =
      if (workload == "medical_dag") _ == "dag" else _.startsWith("query:")
    val mb = 1024.0 * 1024.0
    val wall = secs(top)
    val taskS = total(top, "task_ms") / 1e3
    val stats: String => Boolean = _ == "stage:stats"
    val written = total(top, "output_b")
    val wallAll = passes.map(_.wall).sum
    Map(
      "Tables.schema_jobs" -> ((total(top, "schema_jobs"), "count")),
      "Tables.files_listed" -> ((total(top, "files_listed"), "count")),
      "SparkEntry.construct_s" -> ((secs(_ == "construct"), "s")),
      "SparkEntry.construct_jobs" -> ((total(_ == "construct", "jobs"), "count")),
      "spark.plan_s" -> ((secs(_ == "plan"), "s")),
      "codegen.compiles" -> ((total(top, "codegen_compiles"), "count")),
      "spark.exec_s" -> ((secs(_ == "exec"), "s")),
      "spark.jobs" -> ((total(top, "jobs"), "count")),
      "spark.stages" -> ((total(top, "stages"), "count")),
      "spark.tasks" -> ((total(top, "tasks"), "count")),
      "spark.task_s" -> ((taskS, "s")),
      "spark.shuffle_read_mb" -> ((total(top, "shuffle_read_b") / mb, "MB")),
      "spark.shuffle_write_mb" -> ((total(top, "shuffle_write_b") / mb, "MB")),
      "spark.spill_mb" -> ((total(top, "spill_b") / mb, "MB")),
      "spark.input_mb" -> ((total(top, "input_b") / mb, "MB")),
      "spark.core_util" -> ((taskS / (wall * n), "ratio")),
      "spark.driver_only_s" -> ((wall - total(top, "busy_ms") / 1e3, "s")),
      "spark.gc_s" -> ((total(top, "gc_ms") / 1e3, "s")),
      "medical.clean_s" -> ((secs(Set("stage:cleanStudy", "stage:cleanControl",
        "stage:cleanTwoPoint")), "s")),
      "medical.quality_s" -> ((secs(Set("stage:qualityStudy", "stage:qualityControl",
        "stage:qualityTwoPoint")), "s")),
      "medical.summaries_s" -> ((secs(_ == "stage:summaries"), "s")),
      "medical.stats_s" -> ((secs(stats), "s")),
      "medical.stats_driver_s" -> ((secs(stats) - total(stats, "busy_ms") / 1e3, "s")),
      "medical.rules_s" -> ((secs(_ == "stage:rules"), "s")),
      "medical.ml_s" -> ((secs(_ == "stage:ml"), "s")),
      "sources.read_s" -> ((secs(_ == "sources.read"), "s")),
      "sources.write_s" -> ((secs(_ == "sources.write"), "s")),
      "sources.written_mb" -> ((written / mb, "MB")),
      "sources.write_amp" -> ((if (rawBytes > 0) written / rawBytes else 0.0, "ratio")),
      "jvm.peak_rss_mb" -> ((peakRssMb(), "MB")),
      "trace.overhead" -> ((wallAll / (wallAll - tracer.bookkeepingSeconds), "ratio"))) ++
      families.map(f => s"family.${f}_s" -> ((secs(s =>
        s.startsWith("query:") && Surface.family(s.stripPrefix("query:")) == f), "s")))
  }

  /** Every recorded span, one JSON object per line. */
  def spansJsonl: String = tracer.recorded.map(s => Json.render(Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters))).mkString("\n")
}
