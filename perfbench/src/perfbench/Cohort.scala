package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.types._

/** Seed-fixed synthetic cohorts for the medical DAG, written as the
  * reference's tab-delimited exports. They carry every pathology the
  * cleaning and quality stages exist for: comma decimals, "prawda"/"fałsz"
  * and "tak"/"nie" booleans, 0/1 integers, empty (null) cells, SUV > 70,
  * TBR > 1, out-of-range ages and intervals, and |z| > 3 outliers.
  *
  * The generator counts what it planted, over the rows that survive each
  * cohort's not-null key filter, so the quality reports can be checked
  * exactly. */
object Cohort {

  val studyBools: Seq[String] = Seq("cukrzyca", "zgon", "Ogniskowe gromadzenie znacznika",
    "Nieregularne zarysy", "PecherzykiGazu", "przetokaPachwinowa",
    "Obszar plynowy w okolicy", "Naciek zapalny w okolicy",
    "Skrzeplina w okolicy miejsca podejrzanego o zapalenie",
    "wysiekZatarcieTluszczu", "przetoka ropna", "activeLymphNodes",
    "tetniakRzekomyObraz")
  private val studyInts = Seq("przyczyna - tętniak", "przyczyna - niedrożność",
    "przyczyna - uraz", "przyczyna - inne", "lok - aorta brzuszna",
    "okolica rozwidlenia", "lewe ramie", "prawe ramie", "proteza dodatni", "krew +")

  private def str(names: String*): Seq[StructField] = names.map(StructField(_, StringType))
  private def int(names: String*): Seq[StructField] = names.map(StructField(_, IntegerType))

  val studySchema: StructType = StructType(
    str("Płeć", "Rok urodzenia", "Data badania", "Data operacji",
      "SUV (max) w miejscu zapalenia", "SUV (max) tła", "tumor to background ratio",
      "CRP(6 mcy)", "WBC(6 mcy)", "Podana Aktywnosc", "Glikemia") ++
      str(studyBools: _*) ++ str("Gorączka", "tętniak", "Otyłość") ++
      int(studyInts: _*) ++
      str("uproszczona klasyfikacja", "Rodzaj protezy", "Material",
        "skala5Stopnie", "skala3Stopnie", "imageTypeOurClassification"))

  val controlSchema: StructType = StructType(
    str("data badania 1", "data wszczepienia stentgraftu",
      "ostatnia wizyta pacjenta bez stwierdzonego zakażenia protezy") ++
      int("Rok z peselu") ++
      str("SUV protezy", "tło", "aktywnosc w dniu podania [MBq]",
        "glukoza w dniu podania [mg/dl]") ++
      int("proteza udowo - podkolanowa", "przetoka pachwinowa", "cukrzyca",
        "zarejestrowany zgon", "reoperacje") ++
      str("powód standaryzowany", "stentgraft czy proteza", "typ",
        "skala5Stopnie", "skala3Stopnie", "Płeć"))

  val twoPointSchema: StructType = StructType(
    str("Data badania wcześniejsze", "Data badania późniejsze", "Data operacji",
      "SUV (max) w miejscu zapalenia44", "SUV (max) tła45",
      "SUV (max) w miejscu zapalenia71", "SUV (max) tła72",
      "Podana aktywność badanie wcześniejsze", "Nieregularne zarysy48",
      "PecherzykiGazu49") ++
      int("lokalizacja ogniska podwyższonego gromadzenia33") ++
      str("skala5StopnieStudy1", "skala3StopnieStudy1"))

  /** What the generator planted. `quality` maps report name to
    * (description, column) → exact violation count. */
  final case class Expected(
      rows: Map[String, Long],
      quality: Map[String, Map[(String, String), Long]],
      krewPlus: Long,
      rawBytes: Long,
      sha256: String)

  /** Comma-decimal cell, as the reference's Polish-locale exports write it;
    * `parsed` is the double the cleaning stage will read back. */
  private def comma(v: Double): (String, Double) = {
    val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    (s.replace('.', ','), s.toDouble)
  }

  private final class Tally {
    var krewPlus = 0L
    val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
    def add(desc: String, c: String, hit: Boolean): Unit =
      counts((desc, c)) = counts.getOrElse((desc, c), 0L) + (if (hit) 1 else 0)
    val values = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def value(c: String, v: Option[Double]): Unit =
      v.foreach(values.getOrElseUpdate(c, ArrayBuffer.empty) += _)
    /** |z| > 3 count as Quality.report computes it (population stddev over
      * non-null values). Refuses values within 0.05 of the threshold, where
      * summation order could flip the verdict. */
    def zScore(c: String): Unit = {
      val xs = values.getOrElse(c, ArrayBuffer.empty[Double])
      val mean = xs.sum / xs.size
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.size)
      val zs = xs.map(x => math.abs((x - mean) / sd))
      require(!zs.exists(z => math.abs(z - 3.0) < 0.05), s"borderline z-score in $c")
      counts(("z-score outliers", c)) = zs.count(_ > 3.0).toLong
    }
  }

  private final class Sheet(schema: StructType) {
    val lines = ArrayBuffer(schema.fieldNames.mkString("\t"))
    def row(cells: Seq[Any]): Unit = {
      require(cells.size == schema.size)
      lines += cells.map { case null => ""; case x => x.toString }.mkString("\t")
    }
    def bytes: Array[Byte] = lines.mkString("", "\n", "\n").getBytes(UTF_8)
  }

  /** Write study.tsv, control.tsv and twopoint.tsv under `dir`. */
  def write(dir: Path, seed: Long, patients: Int): Expected = {
    Files.createDirectories(dir)
    val nStudy = patients / 2
    val nControl = patients * 3 / 8
    val nTwo = patients - nStudy - nControl
    val sheets = Seq(
      "study" -> study(new Random(seed * 31 + 1), nStudy),
      "control" -> control(new Random(seed * 31 + 2), nControl),
      "twopoint" -> twoPoint(new Random(seed * 31 + 3), nTwo))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var raw = 0L
    sheets.foreach { case (name, (sheet, _, _)) =>
      val b = sheet.bytes
      Files.write(dir.resolve(s"$name.tsv"), b)
      md.update(b); raw += b.length
    }
    Expected(
      rows = sheets.map { case (n, (_, kept, _)) => n -> kept }.toMap,
      quality = sheets.map { case (n, (_, _, t)) => n -> t.counts.toMap }.toMap,
      krewPlus = sheets.head._2._3.krewPlus, rawBytes = raw,
      sha256 = md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def study(r: Random, n: Int): (Sheet, Long, Tally) = {
    val sheet = new Sheet(studySchema)
    val t = new Tally
    var kept = 0L
    def maybe(p: Double) = r.nextDouble() < p
    (1 to n).foreach { _ =>
      val gender = if (maybe(0.01)) null else if (r.nextBoolean()) "Mężczyzna" else "Kobieta"
      val born = f"19${40 + r.nextInt(40)}%2d-01-15"
      val exam = if (maybe(0.005)) null else f"2021-${1 + r.nextInt(12)}%02d-10"
      val surgery = f"2020-${1 + r.nextInt(12)}%02d-05"
      // imaging signs: focal → irregular → gas bubbles, so the association
      // stage has a planted rule {FocalAccumulation, IrregularBorders} → GasBubbles
      val focal = maybe(0.6)
      val irregular = if (focal) maybe(0.9) else maybe(0.3)
      val gas = if (focal && irregular) maybe(0.9) else maybe(0.2)
      val suv: Option[(String, Double)] =
        if (maybe(0.01)) None
        else if (maybe(0.005)) Some(comma(75 + r.nextDouble() * 20)) // SUV > 70
        else Some(comma(2.0 + r.nextDouble() * 8 + (if (gas) 1.5 else 0.0)))
      val bg = comma(0.5 + r.nextDouble() * 2)
      val tbr = if (maybe(0.01)) comma(2.5 + r.nextDouble()) // TBR > 1, |z| > 3
        else comma(r.nextDouble() * 0.9)
      val crp = if (maybe(0.2)) null else comma(1.0 + r.nextDouble() * 40)._1
      val wbc = comma(4.0 + r.nextDouble() * 8)
      val activity = comma(200 + r.nextDouble() * 150)
      val glucose = comma(70 + r.nextDouble() * 60)
      def prawda(v: Boolean): String = if (maybe(0.02)) null else if (v) "prawda" else "fałsz"
      val bools = studyBools.map {
        case "Ogniskowe gromadzenie znacznika" => prawda(focal)
        case "Nieregularne zarysy" => prawda(irregular)
        case "PecherzykiGazu" => prawda(gas)
        case _ => prawda(r.nextBoolean())
      }
      def tak(): String = if (r.nextBoolean()) "tak" else "nie"
      val ints = studyInts.map(_ => r.nextInt(2))
      sheet.row(Seq(gender, born, exam, surgery, suv.map(_._1).orNull, bg._1, tbr._1,
        crp, wbc._1, activity._1, glucose._1) ++ bools ++ Seq(tak(), tak(), tak()) ++
        ints ++ Seq(
          if (r.nextBoolean()) "ob. nacz. biodrowe" else "aorty piersiowej",
          if (r.nextBoolean()) "StentGraft" else "Proteza",
          Seq("Dakron", "PTFE", "inny")(r.nextInt(3)),
          (1 + r.nextInt(5)).toString, (1 + r.nextInt(3)).toString,
          Seq("A", "B", "C")(r.nextInt(3))))
      if (gender != null) {
        kept += 1
        t.krewPlus += ints.last
        val suvCol = "SUV (max) w miejscu zapalenia"
        t.add("outside range", suvCol, suv.exists(s => s._2 < 0 || s._2 > 70))
        t.add("outside range", "SUV (max) tła", false)
        t.add("outside range", "tumor to background ratio", tbr._2 < 0 || tbr._2 > 1)
        t.add("outside range", "Podana Aktywnosc", false)
        t.add("outside range", "Glikemia", false)
        // months exam - surgery ∈ [1, 24), age at surgery ∈ [490, 972)
        t.add("outside range", "monthsFromSurgeryToExam", false)
        t.add("outside range", "ageInMonthsWhenSurgery", false)
        t.add("null values", "Płeć", false)
        t.add("null values", "Data badania", exam == null)
        t.add("null values", suvCol, suv.isEmpty)
        t.value(suvCol, suv.map(_._2))
        t.value("tumor to background ratio", Some(tbr._2))
      }
    }
    t.zScore("SUV (max) w miejscu zapalenia")
    t.zScore("tumor to background ratio")
    (sheet, kept, t)
  }

  private def control(r: Random, n: Int): (Sheet, Long, Tally) = {
    val sheet = new Sheet(controlSchema)
    val t = new Tally
    var kept = 0L
    def maybe(p: Double) = r.nextDouble() < p
    (1 to n).foreach { _ =>
      val exam = if (maybe(0.01)) null else f"2021-${1 + r.nextInt(12)}%02d-20"
      val implantYear = 2010 + r.nextInt(10)
      val peselYear = if (maybe(0.005)) 1850 else 1930 + r.nextInt(50) // age > 120
      val suv: Option[(String, Double)] =
        if (maybe(0.01)) None
        else if (maybe(0.003)) Some(comma(72 + r.nextDouble() * 18)) // > 70
        else if (maybe(0.005)) Some(comma(40.0)) // in range, |z| > 3
        else Some(comma(1.0 + r.nextDouble() * 3))
      val bg = comma(0.5 + r.nextDouble())
      sheet.row(Seq(exam, s"$implantYear-06-01", f"2022-${1 + r.nextInt(12)}%02d-11",
        peselYear, suv.map(_._1).orNull, bg._1,
        comma(150 + r.nextDouble() * 200)._1, comma(60 + r.nextDouble() * 80)._1,
        r.nextInt(2), r.nextInt(2), r.nextInt(2), r.nextInt(2), r.nextInt(2),
        Seq("kontrola", "inne")(r.nextInt(2)),
        if (r.nextBoolean()) "stentgraft" else "proteza",
        if (r.nextBoolean()) "Y" else "B",
        (1 + r.nextInt(5)).toString, (1 + r.nextInt(3)).toString,
        if (r.nextBoolean()) "Mężczyzna" else "Kobieta"))
      if (exam != null) {
        kept += 1
        t.add("outside range", "SUV protezy", suv.exists(s => s._2 < 0 || s._2 > 70))
        t.add("outside range", "tło", false)
        val age = implantYear - peselYear
        t.add("outside range", "ageAtImplant", age < 0 || age > 120)
        t.add("null values", "data badania 1", false)
        t.add("null values", "SUV protezy", suv.isEmpty)
        t.value("SUV protezy", suv.map(_._2))
      }
    }
    t.zScore("SUV protezy")
    (sheet, kept, t)
  }

  private def twoPoint(r: Random, n: Int): (Sheet, Long, Tally) = {
    val sheet = new Sheet(twoPointSchema)
    val t = new Tally
    var kept = 0L
    def maybe(p: Double) = r.nextDouble() < p
    def prawda(): String = if (maybe(0.02)) null else if (r.nextBoolean()) "prawda" else "fałsz"
    (1 to n).foreach { _ =>
      val earlier = if (maybe(0.02)) null else f"2020-${1 + r.nextInt(12)}%02d-01"
      // a swapped pair puts the later exam first: negative interval
      val swapped = maybe(0.01)
      val later = if (swapped) f"2019-${1 + r.nextInt(12)}%02d-01"
        else f"2021-${1 + r.nextInt(12)}%02d-01"
      val suv44 = if (maybe(0.01)) comma(75 + r.nextDouble() * 20) else comma(2.0 + r.nextDouble() * 6)
      val suv71 = if (maybe(0.005)) comma(75 + r.nextDouble() * 20) else comma(2.0 + r.nextDouble() * 6)
      sheet.row(Seq(earlier, later, f"2019-${1 + r.nextInt(12)}%02d-01",
        suv44._1, comma(0.5 + r.nextDouble())._1, suv71._1, comma(0.5 + r.nextDouble())._1,
        comma(200 + r.nextDouble() * 100)._1, prawda(), prawda(), r.nextInt(2),
        (1 + r.nextInt(5)).toString, (1 + r.nextInt(3)).toString))
      if (earlier != null) {
        kept += 1
        t.add("outside range", "SUV (max) w miejscu zapalenia44", suv44._2 > 70)
        t.add("outside range", "SUV (max) w miejscu zapalenia71", suv71._2 > 70)
        t.add("outside range", "monthsBetweenExams", swapped)
        t.add("null values", "Data badania wcześniejsze", false)
        t.value("SUV (max) w miejscu zapalenia44", Some(suv44._2))
      }
    }
    t.zScore("SUV (max) w miejscu zapalenia44")
    (sheet, kept, t)
  }
}
