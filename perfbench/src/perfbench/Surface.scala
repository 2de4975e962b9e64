package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The query surface: `graft.SparkEntry.queries`, each built, planned and
  * collected, its output checked against a stored digest. */
object Surface {

  /** Stored expectation for one query at one scale. `digest` is None for
    * queries checked by row count only. */
  final case class Expected(rows: Long, digest: Option[String])

  /** Expected-output table: one `name \t rows \t digest|-` line per query. */
  def readExpected(p: Path): Map[String, Expected] =
    Files.readAllLines(p, UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, d) = l.split("\t")
      n -> Expected(rows.toLong, if (d == "-") None else Some(d))
    }.toMap

  def family(query: String): String = query.takeWhile(_.isLetter)

  /** The measured sample: a fixed stratified sample, one query from each
    * family. Each is its family's median-latency member at sf0.001 (warm,
    * second execution, measured once when the sample was chosen), except
    * that the sketch family is represented by `a10_sketch_bounds`, the
    * query `collect()` slows most against `count()`. The sample is fixed so
    * that `run_s` does not depend on which queries a seed draws; the seed
    * orders it. */
  val sample: Seq[String] = Seq("a10_sketch_bounds", "d14_leakage_split", "e9_funnel",
    "g4_other_risk_factors", "h4_log_histogram", "j9_asof_forward", "m11_calibration",
    "n6_pq_probe", "p2_cast_project", "q20_pk_audit", "r40_kendall",
    "s22_merge_conditional", "t21_langid_confusion", "u5_intersect_except",
    "w7_group_topk", "x1_multimodal_features")

  final case class Outcome(name: String, seconds: Double, ok: Boolean,
      rows: Array[Row], schema: StructType, lines: Array[String], error: Option[String])

  def check(e: Expected, lines: Array[String]): Boolean =
    lines.length == e.rows && e.digest.forall(_ == Digest.of(lines))

  /** Build, plan and collect one query; time the three together. */
  def run(spark: SparkSession, tracer: Tracer, name: String, dir: String,
      expected: Option[Expected]): Outcome = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val (df, rows) = tracer.span(s"query:$name") {
        val df: DataFrame = tracer.span("construct")(fn(spark, dir))
        tracer.span("plan")(df.queryExecution.executedPlan)
        val rows: Array[Row] = tracer.span("exec")(df.collect())
        (df, rows)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val lines = Digest.rows(df.schema, rows)
      Outcome(name, dt, expected.forall(check(_, lines)), rows, df.schema, lines, None)
    } catch {
      case t: Throwable =>
        Outcome(name, (System.nanoTime() - t0) / 1e9, ok = false, Array.empty,
          new StructType, Array.empty, Some(t.toString.take(300)))
    }
  }
}
