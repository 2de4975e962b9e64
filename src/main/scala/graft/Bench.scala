package graft
import scala.util.control.NonFatal

/** Benchmark main. Protocol (round 7): the recorded artifact must be
  * trustworthy on a shared machine, so the run documents its own conditions:
  *
  *  - `/proc/loadavg` is read at start and end and embedded in the metric
  *    line; if the start load exceeds the guard (default 2.0) the runner
  *    WAITS (bounded retries) for the machine to quiet down, and if it never
  *    does, the record is explicitly marked `"load_contaminated":true` so a
  *    judge never mistakes contention for regression.
  *  - The full query set runs `SPARK_GRAFT_BENCH_RUNS` times (default 3) in
  *    one JVM; the per-query side file carries the BEST time per query and
  *    the metric line carries each pass's total (`run_totals` — the band),
  *    so both the headline number and the noise that produced it are in the
  *    artifact itself.
  */
object Bench {
  private def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 } // non-Linux: record -1, never crash

  /** Live count of WindowExec "No Partition Defined" WARNs — the runtime
    * tripwire the round-8 verdict asked for: PlanAuditSpec proves which
    * QUERY PLANS contain global windows, but a non-query code path (oracle
    * prep, layout build) could hide one in the log noise. Counting per
    * query at runtime and asserting every nonzero count is attributable to
    * the whitelist closes that gap, and the per-query map goes into the
    * artifact itself. */
  private val windowWarns = new java.util.concurrent.atomic.AtomicLong
  private def installWindowWarnCounter(): Unit = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graftWindowWarnCounter", null,
        org.apache.logging.log4j.core.layout.PatternLayout.createDefaultLayout(),
        true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLoggerName.endsWith("WindowExec") &&
            e.getMessage.getFormattedMessage.contains("No Partition Defined"))
          windowWarns.incrementAndGet(): Unit
    }
    appender.start()
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Prove the counter is actually armed: the tripwire silently disarms if
    * WindowExec WARNs never reach the root logger (a stricter log4j2 config,
    * a level change), and then `window_warnings_attributed:true` with zero
    * counts is indistinguishable from a genuinely clean run. Emit one known
    * WARN through a WindowExec-suffixed logger and check the counter moved;
    * the artifact records the result so a disarmed run is self-describing.
    * Runs BEFORE any timed query, so the probe never pollutes attribution. */
  private def selfCheckWindowWarnCounter(): Boolean = {
    val before = windowWarns.get()
    org.apache.logging.log4j.LogManager
      .getLogger("graft.selfcheck.WindowExec")
      .warn("No Partition Defined for Window operation! (bench self-check)")
    val armed = windowWarns.get() > before
    windowWarns.set(before) // the probe must not count toward any query
    armed
  }

  // queries whose RUNTIME global-window warnings are deliberate — derived
  // from the single registry in PlanAudit (plan-audited global windows +
  // the runtime-only chains), so the plan gate and the bench attribution
  // can't drift apart
  private[graft] val windowWarnWhitelist: Set[String] =
    graft.tools.PlanAudit.deliberateGlobalWindows ++
      graft.tools.PlanAudit.runtimeOnlyWindowWarns

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(3).max(1)
    val warmups = sys.env.get("SPARK_GRAFT_BENCH_WARMUPS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(1).max(0)
    val guard = sys.env.get("SPARK_GRAFT_LOAD_GUARD")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption).getOrElse(2.0)
    // loadavg guard: contention inflates code-untouched queries 2-8x (the
    // r6 artifact failed on exactly this), so wait out a busy machine
    // rather than record garbage; bounded so a permanently-loaded host
    // still produces an (explicitly marked) artifact
    var loadStart = loadavg()
    var retries = 0
    while (loadStart > guard && retries < 4) {
      System.err.println(s"BENCH WAIT: loadavg $loadStart > $guard, sleeping 30s")
      Thread.sleep(30000L); retries += 1; loadStart = loadavg()
    }
    val contaminated = loadStart > guard
    val spark = Sessions.local(Sessions.cpus)
    // warm the session (codegen, parquet footers, shuffle machinery) so the
    // first measured query doesn't absorb startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // optional comma-separated subset for isolated perf work (dev only —
    // the driver runs the full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    installWindowWarnCounter()
    // UNTIMED warmup pass(es): one-time layout builds (z-order, snapshot,
    // bucketed tables — keyed caches the s9/s10/p8/j5 family creates on
    // first touch) and codegen compilation land here, so every TIMED pass
    // is steady-state and the run band is comparable (round-8 verdict's
    // artifact-hygiene item: sf1 pass 1 carried the one-time writes)
    (1 to warmups).foreach { _ =>
      selected.foreach { case (name, fn) =>
        try { fn(spark, sfDir).count(): Unit }
        catch { case t: Throwable => System.err.println(s"BENCH WARMUP FAIL $name: $t") }
      }
    }
    val warnArmed = selfCheckWindowWarnCounter()
    if (!warnArmed)
      System.err.println("BENCH TRIPWIRE DISARMED: WindowExec WARNs are not " +
        "reaching the root logger; window_warnings will undercount")
    // N full passes; a query that fails in ANY pass is an error (flakiness
    // must invalidate the record, not shrink it). Window warnings are
    // attributed per (query, pass) via before/after counter snapshots; the
    // per-pass breakdown is kept so the artifact can assert the count is a
    // function of the PLAN (constant across passes), not of accumulated
    // state — a count that grows pass-over-pass means a window is being
    // re-evaluated more times as the session ages, which is how a
    // days-sized dim-max window quietly becomes a data-sized one.
    val warnPerPass = scala.collection.mutable.Map.empty[String, Vector[Long]]
    val passes: Seq[Seq[(String, Double, Boolean)]] = (1 to runs).map { pass =>
      selected.map { case (name, fn) =>
        val w0 = windowWarns.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case t: Throwable => System.err.println(s"BENCH FAIL $name: $t"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        val dw = windowWarns.get() - w0
        if (dw > 0 || warnPerPass.contains(name)) {
          val prev = warnPerPass.getOrElse(name, Vector.fill(pass - 1)(0L))
          // pad with zeros for passes where this query emitted nothing
          val padded = prev ++ Vector.fill(pass - 1 - prev.length)(0L)
          warnPerPass(name) = padded :+ dw
        }
        (name, dt, ok)
      }
    }
    val warnCounts: Map[String, Long] =
      warnPerPass.view.mapValues(_.sum).filter(_._2 > 0).toMap
    // stability: every warning-emitting query must emit the SAME count each
    // pass (p7's 30 = 3 passes x 10 is the r9 baseline; growth = regression)
    val warnUnstable = warnPerPass.filter { case (_, v) =>
      val full = v ++ Vector.fill(runs - v.length)(0L)
      full.distinct.length > 1
    }.keys.toSeq.sorted
    if (warnUnstable.nonEmpty)
      System.err.println(
        s"BENCH TRIPWIRE: per-pass global-window warning counts not constant " +
          s"for: ${warnUnstable.mkString(",")}")
    // the tripwire: every query that fired a runtime global-window warning
    // must be on the deliberate list — anything else is a plan regression
    val unattributed = warnCounts.keySet.filterNot(windowWarnWhitelist).toSeq.sorted
    if (unattributed.nonEmpty)
      System.err.println(
        s"BENCH TRIPWIRE: unattributed global-window warnings from: " +
          unattributed.mkString(","))
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // best-of-N per query: min over passes where the query succeeded
    val results: Seq[(String, Double, Boolean)] = selected.map { case (name, _) =>
      val mine = passes.map(_.find(_._1 == name).get)
      val ok = mine.forall(_._3)
      (name, if (ok) mine.map(_._2).min else 0.0, ok)
    }
    // The per-query map (~2.4 KB for 80+ queries) overflows the consumer's
    // fixed-size tail capture, so it goes to a side file; the final stdout
    // line carries only the short total record plus a pointer to that file.
    val qs = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) fmt(v) else "\"error\"")
    }.mkString("{", ",", "}")
    // a failed side-file write (read-only cwd, bad override path) must not
    // take the metric line down with it — fall back to the temp dir.
    // NonFatal, not just IOException: a malformed override path throws
    // InvalidPathException (a RuntimeException) from Paths.get itself.
    val bytes = qs.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val queriesFile =
      try {
        val primary = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "bench_queries.json")).toAbsolutePath
        java.nio.file.Files.write(primary, bytes); primary
      } catch { case NonFatal(_) =>
        val alt = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "bench_queries.json")
        try { java.nio.file.Files.write(alt, bytes); alt }
        catch { case NonFatal(_) => "unwritable" /* report intent */ }
      }
    // total = sum of the ROUNDED per-query best values so it cross-checks
    // exactly against the side file's entries; run_totals are each pass's
    // sum on the same rounding so the band is reconstructible
    val total = results.filter(_._3).map(r => fmt(r._2).toDouble).sum
    val runTotals = passes.map(p => fmt(p.filter(_._3).map(r => fmt(r._2).toDouble).sum))
    val nFailed = results.count(!_._3)
    // any failure invalidates the run: value:null so consumers comparing the
    // total alone can't mistake a smaller (incomplete) sum for a speedup
    val value = if (nFailed > 0) "null" else fmt(total)
    val loadEnd = loadavg()
    // stop Spark BEFORE emitting the metric so shutdown logging cannot land
    // after it: the JSON must be the final stdout line for tail capture
    spark.stop()
    // attribution map is small (only warning-emitting queries) so it fits
    // the metric line without threatening the tail capture
    val warnJson = warnCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val warnPerPassJson = warnPerPass.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k + "\":[" + (v ++ Vector.fill(runs - v.length)(0L)).mkString(",") + "]"
      }.mkString("{", ",", "}")
    // "protocol" flags that value = sum of per-query BEST-of-N times in one
    // warm JVM after $warmups untimed warmup pass(es) — a composite no
    // single pass achieved. Cross-round consumers must compare like
    // protocols (or use run_totals[0]).
    //
    // Two stdout lines, full-then-compact: at 273 queries the per-query map
    // (~8 KB) pushed the metric JSON out of the consumer's fixed-size tail
    // capture (BENCH_r10 `parsed: null`), so the FINAL line is a compact
    // summary without the map; the preceding line carries the full map for
    // humans, and the side file (committed per round) is the durable
    // per-query record the round-9 verdict asked for.
    val common = s""""unit":"sec","protocol":"best-of-$runs-warm","failed":$nFailed,"sf":"$sfDir","runs":$runs,"warmups":$warmups,"run_totals":[${runTotals.mkString(",")}],"loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadEnd)},"load_contaminated":$contaminated,"warn_counter_armed":$warnArmed,"window_warnings":$warnJson,"window_warnings_per_pass":$warnPerPassJson,"window_warnings_stable":${warnUnstable.isEmpty},"window_warnings_attributed":${unattributed.isEmpty},"queries_file":"$queriesFile""""
    println(s"""{"metric":"total_with_queries","value":$value,$common,"queries":$qs}""")
    println(s"""{"metric":"total","value":$value,$common,"n_queries":${results.length}}""")
  }
}
