package idrbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator for the IDR extract buckets (covid, hts, mmd, vls) and
  * the two dimensions, following the value domains of FIXTURES.md. Alongside
  * the files it computes the expected warehouse outputs ([[IdrTruth]])
  * directly from the rows it wrote, without the library, so the checks
  * compare the program against an independent answer.
  *
  * Planted cases: exact duplicate rows in every extract, duplicate
  * (SiteCode, CCC) groups with differing values in mmd, facts at sites
  * missing from `MFL_Codes` and from `hub_details`, null `EntryPoint` and
  * null keys, `LDL` and >= 1000 viral loads, same-day ties and ccc numbers
  * tested at two facilities.
  */
object IdrGen {

  /** The as-of date the MMD and VLS pipelines are run with. */
  val AsOf: LocalDate = LocalDate.of(2024, 6, 1)

  final case class Size(sites: Int, patients: Int, covid: Int, hts: Int, files: Int)

  val Counties: IndexedSeq[String] = (1 to 47).map(i => f"County $i%02d")

  val EntryPoints: IndexedSeq[String] = IndexedSeq(
    "CCC (comprehensive care center)", "CCC", "OPD (outpatient department)",
    "Out Patient Department(OPD)", "VCT center", "VCT", "Home based HIV testing program",
    "In Patient Department(IPD)", "INPATIENT CARE OR HOSPITALIZATION", "PMTCT ANC",
    "PMTCT MAT", "PMTCT Program", "PMTCT PNC", "OTHER NON-CODED", "mobile VCT program",
    "Tuberculosis treatment program", "OB/GYN department")

  private val S = Kind.Str
  private def strs(names: String*): Seq[Col] = names.map(Col(_, S))

  val covidCols: Seq[Col] = strs(
    "MFL_code", "Facilty_Name", "ccc_number", "phone_number", "id_number",
    "DOB", "ageInYears", "Gender", "visit_date", "Ever_Vaccinated",
    "First_Vaccine", "First_Vaccination_Verified", "first_dose_date",
    "Second_Vaccine", "Second_Vaccination_Verified", "second_dose_date",
    "Final_Vaccination_Status", "Ever_recieved_Booster", "Booster_Vaccine")

  val htsCols: Seq[Col] = strs(
    "SiteCode", "CccNumber", "PatientId", "DOB", "Gender", "ageInYears",
    "EntryPoint", "Consent", "ClientTestedAs", "TestStrategy",
    "TestResult1", "TestResult2", "FinalTestResult", "TestDate",
    "PatientGivenResult", "FacilityLinked", "art_start_date",
    "EverTestedForHiv", "MonthsSinceLastTest", "TbScreening",
    "ClientSelfTested", "CoupleDiscordant", "TestType")

  /** The mmd extract is typed like a server export (the load stringifies it). */
  val mmdCols: Seq[Col] = strs("DOB", "Gender") ++
    Seq(Col("weight", Kind.F64), Col("height", Kind.F64), Col("CCC", S),
      Col("PatientPK", Kind.I64)) ++
    strs("NationalID", "AgeEnrollment", "AgeARTStart", "AgeLastVisit") ++
    Seq(Col("SiteCode", Kind.I64)) ++
    strs("FacilityName", "RegistrationDate", "PatientSource",
      "PreviousARTStartDate", "StartARTAtThisFAcility", "StartARTDate",
      "PreviousARTUse", "PreviousARTPurpose", "PreviousARTRegimen",
      "DateLastUsed", "StartRegimen", "StartRegimenLine", "LastARTDate",
      "LastRegimen", "LastRegimenLine", "ExpectedReturn", "LastVisit",
      "Duration", "ExitDate", "ExitReason", "Date_Created", "Date_Last_Modified")

  val vlsCols: Seq[Col] = strs(
    "Mfl_code", "ccc_number", "Gender", "DOB", "ageInYears",
    "date_test_requested", "date_test_result_received", "lab_test",
    "urgency", "order_reason", "test_result")

  val mflCols: Seq[Col] = Seq(Col("SiteCode", Kind.I64), Col("officialname", S),
    Col("county_name", S), Col("constituency_name", S), Col("sub_county_name", S),
    Col("ward_name", S), Col("lat", Kind.F64), Col("long", Kind.F64))

  val hubCols: Seq[Col] = Seq(Col("MFL_Code", Kind.I64), Col("Hub", S))

  /** A facility of the MFL dimension. */
  final case class Site(code: Long, county: String, hub: Option[String])

  /** Rng stream for one table, independent of the others. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  private def chance(r: SplittableRandom, p: Double): Boolean = r.nextDouble() < p
  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDate =
    from.plusDays(r.nextInt(days).toLong)

  /** The lake: bucket directories and dimension files, plus what the
    * warehouse must contain after a full rebuild. */
  final case class Lake(buckets: Map[String, String], mfl: String, hub: String,
                        sites: IndexedSeq[Site], truth: IdrTruth, bytes: Long)

  def generate(root: Path, seed: Long, size: Size): Lake = {
    // known sites (in MFL); the last 3% have no hub; a tail of MFL-only sites
    // never appears in facts; facts also use unknown codes 90001.. (no MFL)
    val nKnown = size.sites
    // counties in rotation, so every county holds about as many facilities
    // whatever the seed (dashboards read one county at a time)
    val sites = (0 until nKnown + math.max(1, nKnown / 20)).map { i =>
      Site(10001L + i, Counties(i % Counties.size),
        if (i >= nKnown - math.max(1, nKnown * 3 / 100) && i < nKnown) None
        else Some(s"Hub ${i % 17}"))
    }
    val factSites = sites.take(nKnown)
    val unknown = (1 to math.max(1, nKnown / 20)).map(90000L + _)
    def factSite(rr: SplittableRandom): Long =
      if (chance(rr, 0.05)) pick(rr, unknown) else pick(rr, factSites).code
    val inMfl: Set[Long] = sites.map(_.code).toSet
    val withHub: Set[Long] = sites.filter(_.hub.isDefined).map(_.code).toSet

    val files = mutable.LinkedHashMap[String, Seq[Array[Any]]]()

    // ---- covid: distinct rows (unique ccc), 3% exact copies
    val covid = {
      val rr = rng(seed, 2)
      val base = (0 until size.covid).map { i =>
        val site: Any = if (chance(rr, 0.01)) null else factSite(rr).toString
        val first = if (chance(rr, 0.2)) null else pick(rr, IndexedSeq("AstraZeneca", "Pfizer", "Moderna", "J&J"))
        val second = if (chance(rr, 0.4)) null else pick(rr, IndexedSeq("AstraZeneca", "Pfizer", "Moderna"))
        val booster = if (chance(rr, 0.7)) null else pick(rr, IndexedSeq("Pfizer", "Moderna"))
        Array[Any](site, s"Facility $site", f"V$i%08d", f"07${rr.nextInt(100000000)}%08d",
          f"${rr.nextInt(40000000)}%08d", day(rr, LocalDate.of(1950, 1, 1), 20000).toString,
          (18 + rr.nextInt(70)).toString, pick(rr, IndexedSeq("Male", "Female")),
          day(rr, LocalDate.of(2021, 3, 1), 900).toString, pick(rr, IndexedSeq("Yes", "No")),
          first, pick(rr, IndexedSeq("Yes", "No")), day(rr, LocalDate.of(2021, 3, 1), 500).toString,
          second, pick(rr, IndexedSeq("Yes", "No")), day(rr, LocalDate.of(2021, 6, 1), 500).toString,
          pick(rr, IndexedSeq("Fully Vaccinated", "Partially Vaccinated", "Not Vaccinated")),
          pick(rr, IndexedSeq("Yes", "No")), booster)
      }
      base ++ base.filter(_ => chance(rr, 0.03)).map(_.clone())
    }
    files("covid") = covid
    val covidKept = covid.distinctBy(_.toSeq).filter(row => row(0) != null && inMfl(row(0).toString.toLong))
    val covidBooster = covidKept.count(row =>
      row(16) == "Fully Vaccinated" && row(17) == "Yes").toLong

    // ---- hts: distinct rows, every entry point arm, null entry, linkage bands
    val hts = {
      val rr = rng(seed, 3)
      val base = (0 until size.hts).map { i =>
        val entry =
          if (chance(rr, 0.1)) null
          else if (chance(rr, 0.1)) pick(rr, IndexedSeq("Weird Entry", "Community", "School"))
          else pick(rr, EntryPoints)
        val tested = if (chance(rr, 0.02)) None else Some(day(rr, LocalDate.of(2023, 1, 1), 700))
        val art = tested.flatMap { t =>
          val u = rr.nextDouble()
          if (u < 0.25) None
          else if (u < 0.40) Some(t)
          else if (u < 0.65) Some(t.plusDays(1L + rr.nextInt(14)))
          else if (u < 0.85) Some(t.plusDays(15L + rr.nextInt(200)))
          else Some(t.minusDays(1L + rr.nextInt(30)))
        }
        val result = if (chance(rr, 0.3)) "Positive" else "Negative"
        Array[Any](factSite(rr).toString, f"H$i%08d", f"P$i%08d",
          day(rr, LocalDate.of(1950, 1, 1), 20000).toString, pick(rr, IndexedSeq("Male", "Female")),
          (15 + rr.nextInt(60)).toString, entry, pick(rr, IndexedSeq("Yes", "No")),
          pick(rr, IndexedSeq("Individual", "Couple")), pick(rr, IndexedSeq("HP", "NP", "VI")),
          result, result, result, tested.map(_.toString).orNull,
          pick(rr, IndexedSeq("Yes", "No")), if (art.isDefined) "Linked" else null,
          art.map(_.toString).orNull, pick(rr, IndexedSeq("Yes", "No")),
          rr.nextInt(24).toString, pick(rr, IndexedSeq("Yes", "No")),
          pick(rr, IndexedSeq("Yes", "No")), pick(rr, IndexedSeq("Yes", "No")),
          pick(rr, IndexedSeq("Initial", "Repeat")))
      }
      base ++ base.filter(_ => chance(rr, 0.03)).map(_.clone())
    }
    files("hts") = hts
    val htsCounts = {
      val c = Array.fill(6)(0L) // totalPositive, sameDay, 1d-2wk, >2wk, clerical, notLinked
      hts.distinctBy(_.toSeq).filter(row => inMfl(row(0).toString.toLong) && row(12) == "Positive")
        .foreach { row =>
          c(0) += 1
          val days = for (t <- Option(row(13)); a <- Option(row(16)))
            yield LocalDate.parse(a.toString).toEpochDay - LocalDate.parse(t.toString).toEpochDay
          days match {
            case None => c(5) += 1
            case Some(0L) => c(1) += 1
            case Some(d) if d > 0 && d < 15 => c(2) += 1
            case Some(d) if d > 14 => c(3) += 1
            case Some(_) => c(4) += 1
          }
        }
      c.toSeq
    }

    // ---- mmd: one group per (patient, site); 20% of groups carry 2-3 rows
    // with differing values; 3% of patients also appear at a second site
    final case class Patient(ccc: String, home: Long)
    val patients = {
      val rr = rng(seed, 4)
      (0 until size.patients).map(i => Patient(f"C$i%08d", factSite(rr)))
    }
    val mmd = {
      val rr = rng(seed, 5)
      val groups = patients.zipWithIndex.flatMap { case (p, i) =>
        val g = Seq(p.home -> i)
        if (chance(rr, 0.03)) g :+ (pick(rr, factSites).code -> i) else g
      }.distinctBy { case (s, i) => (s, i) }
      val rows = groups.flatMap { case (site, i) =>
        val n = if (chance(rr, 0.8)) 1 else 2 + rr.nextInt(2)
        (0 until n).map { _ =>
          val lastArt = day(rr, LocalDate.of(2023, 6, 1), 360)
          val startArt = day(rr, LocalDate.of(2012, 1, 1), 4000)
          val exitReason =
            if (chance(rr, 0.85)) null else pick(rr, IndexedSeq("Died", "Transfer Out", "LTFU"))
          Array[Any](
            if (chance(rr, 0.02)) "None" else day(rr, LocalDate.of(1950, 1, 1), 20000).toString,
            pick(rr, IndexedSeq("Male", "Female")), 40.0 + rr.nextInt(600) / 10.0,
            140.0 + rr.nextInt(500) / 10.0, patients(i).ccc, i.toLong,
            f"${rr.nextInt(40000000)}%08d", (15 + rr.nextInt(50)).toString,
            (15 + rr.nextInt(50)).toString, (16 + rr.nextInt(50)).toString, site,
            s"Facility $site", day(rr, LocalDate.of(2012, 1, 1), 4000).toString,
            pick(rr, IndexedSeq("OPD", "VCT", "CCC", "PMTCT")),
            if (chance(rr, 0.7)) null else startArt.minusDays(100).toString,
            startArt.toString, startArt.toString, pick(rr, IndexedSeq("Yes", "No")),
            pick(rr, IndexedSeq("PEP", "PMTCT", "ART")), pick(rr, IndexedSeq("AF2E", "AF2B")),
            if (chance(rr, 0.8)) null else startArt.minusDays(30).toString,
            pick(rr, IndexedSeq("TDF+3TC+DTG", "AZT+3TC+NVP", "ABC+3TC+DTG")),
            pick(rr, IndexedSeq("First line", "Second line", "Third line", "Other")),
            lastArt.toString, pick(rr, IndexedSeq("TDF+3TC+DTG", "AZT+3TC+NVP")),
            pick(rr, IndexedSeq("First line", "Second line", "Third line", "Other")),
            lastArt.plusDays(30L + rr.nextInt(330)).toString, lastArt.toString,
            pick(rr, IndexedSeq("30", "60", "90", "180")),
            if (exitReason == null) null else lastArt.plusDays(10).toString, exitReason,
            s"${startArt} 08:00:00", s"${lastArt} 17:30:00")
        }
      }
      rows ++ rows.filter(_ => chance(rr, 0.03)).map(_.clone())
    }
    files("mmd") = mmd
    // art_mmd: one row per distinct (SiteCode, CCC) at a site in MFL and hub
    val artKeys: IndexedSeq[(Long, String)] = mmd
      .map(row => (row(10).asInstanceOf[Long], row(4).asInstanceOf[String]))
      .distinct.filter { case (s, _) => inMfl(s) && withHub(s) }.sorted

    // ---- vls: 0-4 tests per patient; cross-facility ccc, same-day ties
    val vls = {
      val rr = rng(seed, 6)
      val base = patients.flatMap { p =>
        val n = rr.nextInt(5)
        var last: Option[LocalDate] = None
        (0 until n).map { _ =>
          val received = last.filter(_ => chance(rr, 0.08))
            .getOrElse(day(rr, LocalDate.of(2022, 6, 1), 730))
          last = Some(received)
          val mfl: Any =
            if (chance(rr, 0.02)) null
            else if (chance(rr, 0.06)) pick(rr, factSites).code.toString
            else p.home.toString
          val result: Any = {
            val u = rr.nextDouble()
            if (u < 0.05) null
            else if (u < 0.35) "LDL"
            else if (u < 0.7) (20 + rr.nextInt(980)).toString
            else (1000 + rr.nextInt(200000)).toString
          }
          Array[Any](mfl, if (chance(rr, 0.01)) null else p.ccc,
            pick(rr, IndexedSeq("Male", "Female")),
            day(rr, LocalDate.of(1950, 1, 1), 20000).toString, (15 + rr.nextInt(60)).toString,
            received.minusDays(rr.nextInt(15).toLong).toString, received.toString,
            if (chance(rr, 0.85)) "VIRAL LOAD" else "CD4",
            pick(rr, IndexedSeq("Routine", "Urgent")),
            pick(rr, IndexedSeq("Baseline", "Routine VL", "Confirmation")), result)
        }
      }
      base ++ base.filter(_ => chance(rr, 0.03)).map(_.clone())
    }
    files("vls") = vls
    // vls: per (Mfl_code, ccc) group its latest result date, joined on ccc
    // alone with every viral-load row of that date (the reference's quirk)
    val vlsKeyRows: Map[(String, String), Int] = {
      val vl = vls.distinctBy(_.toSeq)
        .filter(row => row(0) != null && row(1) != null && row(7) == "VIRAL LOAD")
      val latest = vl.groupBy(row => (row(0).toString, row(1).toString))
        .map { case (k, rows) => k -> rows.map(_(6).toString).max }
      val byCccDate = vl.groupBy(row => (row(1).toString, row(6).toString)).map { case (k, v) => k -> v.size }
      latest.map { case (k @ (_, ccc), d) => k -> byCccDate.getOrElse((ccc, d), 0) }
        .filter(_._2 > 0)
    }

    val bucketDirs = Seq("covid" -> covidCols, "hts" -> htsCols, "mmd" -> mmdCols, "vls" -> vlsCols)
      .map { case (name, cols) =>
        val dir = root.resolve(s"lake/$name")
        val rows = files(name)
        val per = (rows.length + size.files - 1) / size.files
        rows.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, f) =>
          ParquetOut.write(dir.resolve(f"part-$f%05d.parquet"), cols, chunk)
        }
        name -> dir.toString
      }.toMap
    val mflPath = root.resolve("lake/dims/MFL_Codes.parquet")
    ParquetOut.write(mflPath, mflCols, sites.map { s =>
      Array[Any](s.code, s"Facility ${s.code}", s.county, s"${s.county} Constituency",
        s"${s.county} Sub ${s.code % 5}", s"Ward ${s.code % 11}",
        -1.0 + (s.code % 100) / 50.0, 36.0 + (s.code % 100) / 40.0)
    })
    val hubPath = root.resolve("lake/dims/hub_details.parquet")
    ParquetOut.write(hubPath, hubCols,
      sites.flatMap(s => s.hub.map(h => Array[Any](s.code, h))))

    val truth = IdrTruth(
      covidRows = covidKept.size.toLong, covidBooster = covidBooster, htsCounts = htsCounts,
      artKeys = artKeys, vlsKeyRows = vlsKeyRows)
    Lake(bucketDirs, mflPath.toString, hubPath.toString, sites, truth,
      Files.walk(root.resolve("lake")).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum)
  }
}

/** One day's landed delta for the `incremental_day` workload: updated and
  * new patients for `art_mmd` and `vls`, shaped like the warehouse tables
  * (their schemas are read from the base warehouse, so the delta follows
  * whatever columns the program produces). Each row carries a marker value
  * the final-state check looks for: `PatientPK` for `art_mmd`,
  * `vl_order_reason` for `vls`.
  */
final case class IdrDelta(
    day: Int,
    artCols: Seq[Col], artRows: Seq[Array[Any]], artMarks: Map[(Long, String), Long],
    vlsCols: Seq[Col], vlsRows: Seq[Array[Any]], vlsMarks: Map[(String, String), String])

object IdrDelta {
  import org.apache.spark.sql.types._

  /** Art markers start above every generated PatientPK. */
  val ArtMarkBase = 1000000000L

  private def kind(t: DataType): Kind = t match {
    case StringType => Kind.Str
    case IntegerType => Kind.I32
    case LongType => Kind.I64
    case DoubleType => Kind.F64
    case DateType => Kind.Date
    case TimestampType => Kind.Ts
    case other => throw new IllegalArgumentException(s"delta: unsupported column type $other")
  }

  private def filler(r: SplittableRandom, t: DataType, day: Int): Any = t match {
    case StringType => s"d$day-${r.nextInt(1000)}"
    case IntegerType => r.nextInt(1000)
    case LongType => r.nextInt(1000).toLong
    case DoubleType => r.nextInt(100000) / 100.0
    case DateType => IdrGen.AsOf.minusDays(r.nextInt(700).toLong)
    case TimestampType => java.time.Instant.ofEpochSecond(1700000000L + r.nextInt(10000000))
    case _ => null
  }

  def generate(seed: Long, day: Int, artSchema: StructType, vlsSchema: StructType,
               artKeys: IndexedSeq[(Long, String)], vlsKeys: IndexedSeq[(String, String)],
               sites: IndexedSeq[IdrGen.Site], updates: Int, inserts: Int): IdrDelta = {
    val r = IdrGen.rng(seed, 1000L + day)
    val byCode = sites.map(s => s.code -> s).toMap
    val hubSites = sites.filter(_.hub.isDefined)
    def sample[K](keys: IndexedSeq[K], n: Int): Seq[K] = {
      val picked = mutable.LinkedHashSet[K]()
      while (picked.size < math.min(n, keys.size)) picked += keys(r.nextInt(keys.size))
      picked.toSeq
    }
    val art = sample(artKeys, updates) ++
      (0 until inserts).map(k => (hubSites(r.nextInt(hubSites.size)).code, f"N$day%04d-$k%05d"))
    val vls = sample(vlsKeys, updates) ++
      (0 until inserts).map(k => (hubSites(r.nextInt(hubSites.size)).code.toString, f"N$day%04d-$k%05d"))
    val artMarks = art.zipWithIndex.map { case (k, i) => k -> (ArtMarkBase * day + i) }.toMap
    val vlsMarks = vls.zipWithIndex.map { case (k, i) => k -> s"delta-$day-$i" }.toMap
    val artRows = art.map { case key @ (site, ccc) =>
      val s = byCode(site)
      artSchema.fields.map { f =>
        f.name match {
          case "SiteCode" => site
          case "PatientID" => ccc
          case "PatientPK" => artMarks(key)
          case "county_name" => s.county
          case "Hub" => s.hub.orNull
          case "CurrentOnTreatment" => if (r.nextInt(4) == 0) "NO" else "Yes"
          case "Gender" => if (r.nextBoolean()) "Male" else "Female"
          case _ => filler(r, f.dataType, day)
        }
      }
    }
    val vlsRows = vls.map { case key @ (site, ccc) =>
      vlsSchema.fields.map { f =>
        f.name match {
          case "SiteCode" => site
          case "ccc_number" => ccc
          case "vl_order_reason" => vlsMarks(key)
          case "vl_test_result" => if (r.nextBoolean()) "LDL" else (20 + r.nextInt(5000)).toString
          case "Gender" => if (r.nextBoolean()) "Male" else "Female"
          case _ => filler(r, f.dataType, day)
        }
      }
    }
    IdrDelta(day,
      artSchema.fields.map(f => Col(f.name, kind(f.dataType))).toSeq, artRows, artMarks,
      vlsSchema.fields.map(f => Col(f.name, kind(f.dataType))).toSeq, vlsRows, vlsMarks)
  }
}

/** Expected warehouse contents after a full rebuild of one generated lake. */
final case class IdrTruth(
    covidRows: Long,
    covidBooster: Long,
    htsCounts: Seq[Long],
    artKeys: IndexedSeq[(Long, String)],
    vlsKeyRows: Map[(String, String), Int]) {
  def artRows: Long = artKeys.size.toLong
  def vlsRows: Long = vlsKeyRows.values.map(_.toLong).sum
}
