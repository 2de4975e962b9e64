package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Contract guards for the driver interface. */
class SparkEntrySpec extends SparkSpec {

  test("every oracleSql key has a queries entry") {
    val stray = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stray.isEmpty, s"oracle entries without queries: $stray")
  }

  private def registered = SparkEntry.families.flatMap(_.queries)

  test("the rows-only queries are exactly the five declared ones") {
    val rowsOnly = registered.filter(_.oracle == queries.Oracle.RowsOnly).map(_.name)
    assert(rowsOnly.toSet == Set("d2_minhash_neardup", "d3_simhash_neardup",
      "r1_perm_test", "r3_fdr", "r7_permanova"))
  }

  test("no query name is registered twice across families") {
    val twice = registered.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(twice.isEmpty, s"registered twice: $twice")
  }

  test("every family registers only names with its own prefix") {
    val strays = SparkEntry.families.flatMap(f =>
      f.queries.map(_.name).filterNot(_.matches(s"${f.prefix}\\d+_.*")))
    assert(strays.isEmpty, s"names outside their family prefix: $strays")
  }

  /** "File.scala:line: text" of every line under `queries/` that `hit`
    * accepts, skipping the files named in `except`. */
  /** `path:line: text` of every line under `under` (recursively) that `hit`
    * matches, skipping files named in `except`. */
  private def sourceLines(under: String, hit: String => Boolean,
      except: Set[String] = Set.empty) = {
    val dir = Paths.get(sys.props("user.dir"), under)
    assert(Files.isDirectory(dir), s"no sources at $dir")
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .filterNot(p => except(p.getFileName.toString))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"${dir.relativize(p)}:${i + 1}: ${line.trim}"
      })
  }

  private def queryLines(hit: String => Boolean, except: Set[String] = Set.empty) =
    sourceLines("src/main/scala/graft/queries", hit, except)

  test("the range-sharded prefix protocol lives only in ops/ShardLookup.scala") {
    val sites = sourceLines("src/main", _.contains("spark_partition_id"))
    assert(sites.nonEmpty && sites.forall(_.startsWith("scala/graft/ops/ShardLookup.scala:")),
      sites.mkString("\n"))
  }

  test("query files read the vendored tables only through Tables.load") {
    // Tables.load caches each input's schema per session; a bare parquet read
    // would infer it again on every call
    val reads = queryLines(_.contains(".read.parquet("))
    // p7 and p8 read back the layouts they wrote themselves
    val ownLayouts = reads.filter(r => r.startsWith("ProjectionQueries.scala:") &&
      r.endsWith(".read.parquet(root)"))
    assert(ownLayouts.size == 2, s"$ownLayouts")
    assert(reads.diff(ownLayouts).isEmpty,
      s"bare parquet reads: ${reads.diff(ownLayouts).mkString("; ")}")
  }

  test("query files build scratch paths only through Shared.scratch") {
    // a hand-built path keyed by process alone lets one input directory's
    // persisted layout be read back for another
    val sites = queryLines(l => l.contains("java.io.tmpdir") || l.contains("ProcessHandle"),
      except = Set("Shared.scala"))
    assert(sites.isEmpty, s"hand-built scratch paths: ${sites.mkString("; ")}")
  }

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and return rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, fn) =>
      fn(spark, dir).count() == 0
    }.map(_._1)
    // d4/n2-style similarity thresholds may legitimately find nothing at the
    // smallest scale; everything else must produce rows
    val allowedEmpty = Set("d2_minhash_neardup", "d3_simhash_neardup",
      "d4_ngram_jaccard", "n2_ann_lsh")
    assert((empty.toSet -- allowedEmpty).isEmpty,
      s"unexpectedly empty: ${empty.toSet -- allowedEmpty}")
  }
}
