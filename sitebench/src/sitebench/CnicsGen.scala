package sitebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.CnicsInputs

/** Size of a generated CNICS site. `patients` are in the "uw" cohort in
  * both versions; `hotPatients` of them hold `hotLabs` labs each, the
  * rest draw skewed (geometric) child counts. */
final case class SiteSpec(patients: Int, hotPatients: Int, hotLabs: Int)

/** The eight CNICS tables of one version, as row lists. */
final case class SiteTables(patient: Seq[Row], demographic: Seq[Row], diagnosis: Seq[Row],
    medication: Seq[Row], lab: Seq[Row], pro: Seq[Row], proDb: Seq[Row], crosswalk: Seq[Row])

/** A seeded two-version CNICS site and its closed-form expectations.
  *
  * Versions A and B differ on about 1% of the cohort ("touched"
  * patients). Each touched patient flips the sex on its first
  * demographic row (a Patient update) and, per child type, owns one
  * A-only row, one B-only row and one row whose content differs
  * between versions — so a sync in either direction inserts, updates
  * and deletes exactly `touched` children of every type. On top of
  * that one patient moves from another site into the cohort (A→B) and
  * one leaves it; the leaver's Patient DELETE cascades to its
  * children, which therefore never show in the child audit.
  */
final class CnicsSite(val spec: SiteSpec, seed: Long) {
  import CnicsGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val n = spec.patients
  private val otherSite = math.max(2, n / 20)
  // patient index layout: [0, hot) hot, [hot, n) ordinary cohort,
  // [n, n + otherSite) another site; `joiner` sits at index n
  private val hot = spec.hotPatients
  val joiner: Int = n
  val touched: Seq[Int] = {
    val pool = (hot until n).toArray
    for (i <- pool.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t
    }
    pool.take(math.max(1, n / 100) + 1).toSeq
  }
  val leaver: Int = touched.last
  private val touchedSet = touched.init.toSet
  val delta: Int = touchedSet.size

  // version-independent draws, fixed here so A and B share them
  private final case class Child(id: String, name: String, historical: Option[String], day: Int)
  private final case class Pat(demo: Seq[(Option[String], Option[String], Option[String])],
      sessions: Int, proMrn: Option[String], xwalk: Option[(Option[String], Int)],
      dx: Seq[Child], med: Seq[Child], lab: Seq[Child])

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def geometric(mean: Double): Int = {
    var k = 0
    while (rnd.nextDouble() < mean / (mean + 1)) k += 1
    k
  }
  private def children(prefix: String, i: Int, count: Int, names: Seq[String]): Seq[Child] =
    (0 until count).map { k =>
      val r = rnd.nextDouble()
      // ~5% historical and ~8% outside the site's filter: both stay out
      // of the assembled source in both versions
      val hist = if (r < 0.05) Some("Yes") else if (r < 0.5) Some("No") else None
      val name = if (rnd.nextDouble() < 0.08) "Unlisted " + prefix else pick(names)
      Child(s"$prefix$i-$k", name, hist, rnd.nextInt(3000))
    }

  private val pats: IndexedSeq[Pat] = (0 until n + otherSite).map { i =>
    val demos = (0 until (if (rnd.nextDouble() < 0.2) 2 else 1)).map { _ =>
      (Option(pick(Sexes)), Option(pick(Races)), Option(pick(Seq("Yes", "No"))))
    }
    val xw = if (rnd.nextDouble() < 0.3)
      Some((if (rnd.nextDouble() < 0.5) Some(s"U$i") else None, rnd.nextInt(2) + 1))
    else None
    val labs = if (i < hot) spec.hotLabs else geometric(4.0)
    Pat(demos, if (rnd.nextDouble() < 0.5) rnd.nextInt(3) + 1 else 0,
      if (rnd.nextDouble() < 0.7) Some(s"M$i") else None, xw,
      children("dx", i, geometric(2.0), DxNames),
      children("med", i, geometric(2.0), MedNames),
      children("lab", i, labs, LabNames))
  }

  private def inCohort(i: Int, v: Char): Boolean =
    if (i == joiner) v == 'B' else if (i == leaver) v == 'A' else i < n

  private def passes(c: Child): Boolean =
    !c.historical.contains("Yes") && !c.name.startsWith("Unlisted")

  /** Rows of every table for version `v` ('A' or 'B'). */
  def tables(v: Char): SiteTables = {
    val patient, demographic, diagnosis, medication, lab, pro, proDb, crosswalk =
      Seq.newBuilder[Row]
    var demoId = 0L
    var xwOrder = 0L
    for (i <- pats.indices) {
      val p = pats(i)
      val pid = i + 1L
      val spid = f"p$i%06d"
      patient += Row(pid, spid.getBytes("UTF-8"), if (inCohort(i, v)) "uw" else "sea")
      p.demo.zipWithIndex.foreach { case ((sex, race, hisp), k) =>
        demoId += 1
        val s = if (k == 0 && touchedSet(i)) Some(if (v == 'A') "Female" else "Male") else sex
        demographic += Row(demoId, pid, s.orNull, race.orNull, hisp.orNull)
      }
      (0 until p.sessions).foreach { k =>
        val sid = s"s$i-$k"
        pro += Row(pid, sid)
        proDb += Row(sid, 900000L + i, p.proMrn.orNull)
      }
      p.xwalk.foreach { case (umrn, dupRows) =>
        (0 until dupRows).foreach { k =>
          xwOrder += 1
          crosswalk += Row(s"H$i-$k", umrn.orNull, spid, xwOrder)
        }
      }
      def date(day: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2015, 1, 1).plusDays(day))
      val deltaRows = if (touchedSet(i)) Seq("a" -> (v == 'A'), "b" -> (v == 'B'), "v" -> true)
        .collect { case (tag, true) => tag } else Nil
      p.dx.foreach { c =>
        diagnosis += Row(pid, c.id.getBytes("UTF-8"), date(c.day), DxSources(c.day % DxSources.size), c.name, c.historical.orNull)
      }
      deltaRows.foreach { tag =>
        val day = if (tag == "v" && v == 'B') 2 else 1
        diagnosis += Row(pid, s"dx$i-$tag".getBytes("UTF-8"), date(day), DxSources.head, DxNames.head, null)
      }
      p.med.foreach { c =>
        medication += Row(pid, c.id.getBytes("UTF-8"), c.name, date(c.day),
          if (c.day % 3 == 0) date(c.day + 90) else null, null, c.historical.orNull)
      }
      deltaRows.foreach { tag =>
        val end = if (tag == "v" && v == 'B') date(400) else null
        medication += Row(pid, s"med$i-$tag".getBytes("UTF-8"), MedNames.head, date(10), end, null, null)
      }
      p.lab.foreach { c =>
        lab += Row(pid, c.id, c.name, LabResults(c.day % LabResults.size),
          if (c.day % 4 == 0) null else "mg/dL", date(c.day), "4", "6", c.historical.orNull)
      }
      deltaRows.foreach { tag =>
        val result = if (tag == "v" && v == 'B') "6.1" else "5.4"
        lab += Row(pid, s"lab$i-$tag", LabNames.head, result, "%", date(20), "4", "6", null)
      }
    }
    SiteTables(patient.result(), demographic.result(), diagnosis.result(), medication.result(),
      lab.result(), pro.result(), proDb.result(), crosswalk.result())
  }

  private def childCount(i: Int, kind: String): Long = {
    val p = pats(i)
    (kind match { case "dx" => p.dx; case "med" => p.med; case _ => p.lab }).count(passes).toLong
  }

  /** Resources per type a store holds after syncing version `v`. */
  def expectedRows(v: Char): Map[String, Long] = {
    val cohort = pats.indices.filter(inCohort(_, v))
    // each touched patient holds its versioned row and its own-version row
    Types.map { case (rt, kind) =>
      rt -> (if (rt == "Patient") cohort.size.toLong
        else cohort.map(childCount(_, kind)).sum + 2L * delta)
    }.toMap
  }

  /** The 12-counter audit of a sync into version `to` from the other
    * one. An incremental sync updates only changed resources; a full
    * sync re-PUTs every resource the store already holds. */
  def expectedAudit(to: Char, incremental: Boolean): Map[(String, String), Long] = {
    val entering = if (to == 'B') joiner else leaver
    val rows = expectedRows(to)
    Types.flatMap { case (rt, kind) =>
      val ins = if (rt == "Patient") 1L else delta + childCount(entering, kind)
      val upd = if (incremental) delta.toLong else rows(rt) - ins
      val del = if (rt == "Patient") 1L else delta.toLong
      Seq((rt, "insert") -> ins, (rt, "update") -> upd, (rt, "delete") -> del)
    }.toMap
  }

  /** Keys an incremental sync into version `to` finds dirty, per
    * type: every changed key plus the leaver's children, which the
    * manifest remembers although the Patient cascade already removed
    * them from the store. */
  def expectedDirty(to: Char): Map[String, Long] = {
    val leaving = if (to == 'B') leaver else joiner
    val audit = expectedAudit(to, incremental = true)
    Types.map { case (rt, kind) =>
      val changed = Seq("insert", "update", "delete").map(a => audit((rt, a))).sum
      rt -> (changed + (if (rt == "Patient") 0L else childCount(leaving, kind)))
    }.toMap
  }
}

object CnicsGen {
  val Types: Seq[(String, String)] = Seq(
    "Patient" -> "patient", "Condition" -> "dx", "MedicationRequest" -> "med", "Observation" -> "lab")

  val Sexes = Seq("Female", "Male", "Intersex")
  val Races = Seq("Asian", "Black", "White", "Multiracial", "Other", "American Indian")
  val DxNames = Seq("J44.1", "491.21", "Hepatitis C", "Pneumonia", "B20", "V08")
  val DxSources = Seq("Verified clinical diagnosis", "Data collected at CNICS site", "Source unknown")
  val MedNames = Seq("Aspirin  81mg", "Truvada", "Biktarvy", "Metformin", "Atorvastatin")
  val LabNames = Seq("Hemoglobin A1C", "CD4", "HIV viral load", "Creatinine", "Rapid HIV")
  val LabResults = Seq("7", "+5", "0", "5.4", "1e3", "-0.5", "4-6", "<7.0", ">=5", "positive")

  private def inList(col: String, xs: Seq[String]) =
    s"$col in (${xs.map(x => s"'$x'").mkString(", ")})"

  private val schemas: Seq[(String, StructType)] = Seq(
    "patient" -> "PatientId long, SitePatientId binary, Site string",
    "demographic" -> "DemographicId long, PatientId long, Sex string, Race string, Hispanic string",
    "diagnosis" -> ("PatientId long, DiagnosisId binary, DiagnosisDate date, DiagnosisSource string, " +
      "DiagnosisName string, Historical string"),
    "medication" -> ("PatientId long, MedicationId binary, MedicationName string, StartDate date, " +
      "EndDate date, EndType string, Historical string"),
    "lab" -> ("PatientId long, LabId string, TestName string, Result string, Units string, " +
      "TestDate date, ReferenceLow string, ReferenceHigh string, Historical string"),
    "pro" -> "PatientId long, SessionId string",
    "proDb" -> "SessionID string, PatientID long, MRN string",
    "crosswalk" -> "hmrn string, umrn string, SitePatientId string, __order long"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Write one version's eight tables as parquet under `dir`. */
  def write(spark: SparkSession, t: SiteTables, dir: String): Unit = {
    val rows = Seq(t.patient, t.demographic, t.diagnosis, t.medication, t.lab, t.pro, t.proDb, t.crosswalk)
    schemas.zip(rows).foreach { case ((name, schema), rs) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
  }

  val tableNames: Seq[String] = schemas.map(_._1)

  /** The pipeline inputs over the parquet tables of one version. */
  def inputs(spark: SparkSession, dir: String): CnicsInputs = {
    def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    CnicsInputs(t("patient"), t("demographic"), t("diagnosis"), t("medication"), t("lab"),
      t("pro"), t("proDb"), t("crosswalk"),
      conditionsFilter = inList("DiagnosisName", DxNames),
      medicationsFilter = inList("MedicationName", MedNames),
      observationsFilter = inList("TestName", LabNames),
      standardDiagnoses = Seq("Hepatitis C", "Pneumonia"))
  }
}
