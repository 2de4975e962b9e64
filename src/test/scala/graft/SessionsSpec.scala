package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Tests, Bench and Verify share one session posture ([[Sessions.local]]),
  * so the plan-shape specs check the codegen and type settings the bench
  * actually runs. */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries the bench posture") {
    val expected = Map(
      "spark.sql.codegen.maxFields" -> "1024",
      "spark.sql.codegen.cache.maxEntries" -> "8192",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true")
    expected.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  test("no source file but Sessions.scala builds its own SparkSession") {
    val src = Paths.get(sys.props("user.dir"), "src")
    assert(Files.isDirectory(src), s"no source tree at $src")
    val builder = "SparkSession" + ".builder"
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Sessions.scala")
      .filter(p => Files.readString(p).contains(builder))
      .map(p => src.relativize(p).toString).toSeq.sorted
    assert(offenders.isEmpty, s"session built outside Sessions: $offenders")
  }

  test("the benchmark harness builds its session with the Sessions.local confs") {
    // `.config("key", value)` calls of a source file: key → the string
    // literal value, or None when the value is computed
    def configs(rel: String): Map[String, Option[String]] = {
      val p = Paths.get(sys.props("user.dir"), rel)
      assert(Files.isRegularFile(p), s"no source at $p")
      """\.config\("([^"]+)",\s*(?:"([^"]*)"\s*\))?""".r
        .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> Option(m.group(2))).toMap
    }
    val bench = configs("perfbench/src/perfbench/Main.scala")
    assert(bench.keySet == configs("src/main/scala/graft/Sessions.scala").keySet)
    bench.collect { case (k, Some(v)) => k -> v }.foreach { case (k, v) =>
      val live = spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
      assert(live.contains(v), s"$k: perfbench sets $v, Sessions.local(4) has $live")
    }
  }
}
