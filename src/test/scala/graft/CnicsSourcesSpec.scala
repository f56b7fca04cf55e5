package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CnicsCsv

/** A5/A6/A9 source coverage: the bundled code-list fixtures, written
  * in the reference files' quoting, plus the reference's own code-list
  * files when they are present (read-only inputs, exactly as the
  * reference consumes them). */
class CnicsSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("A5: standard diagnosis/medication code lists load quote-stripped") {
    val dx = CnicsCsv.loadCodeList(spark,
      CnicsCsv.bundledCodeList("standard_diagnosis_codes.csv"))
    // file order, quotes stripped, embedded commas inside one value
    assert(dx === Seq("Anemia", "Asthma", "Cardiomyopathy", "Chronic kidney disease, stage 3",
      "Diabetes mellitus, type 2", "Hepatitis B", "Hepatitis C", "Hypertension",
      "Lymphoma, non-Hodgkin", "Pneumonia", "Stroke", "Tuberculosis"))
    val med = CnicsCsv.loadCodeList(spark,
      CnicsCsv.bundledCodeList("standard_medication_codes.csv"))
    // duplicates are kept in place; inner double spaces survive
    assert(med === Seq("Abacavir", "Aspirin  81mg", "Dolutegravir",
      "Efavirenz/emtricitabine/tenofovir", "Lamivudine", "Raltegravir",
      "Tenofovir disoproxil fumarate, 300 mg", "Zidovudine", "Lamivudine", "Emtricitabine"))
    assert(med.distinct.length === 9)
  }

  test("A5 reference files: the shipped lists hold 641 and 773 names (unverified when absent)") {
    def shipped(path: String): Seq[String] = {
      assume(new java.io.File(path).exists(), s"unverified: $path is absent")
      CnicsCsv.loadCodeList(spark, path)
    }
    val dx = shipped(
      "/root/reference/CNICS_Standard_Diagnosis_Codes_20210419.csv")
    assert(dx.length === 641)
    assert(dx.forall(s => !s.startsWith("\"") && !s.endsWith("\"")))
    val med = shipped(
      "/root/reference/CNICS_Standard_Medication_Codes_20210419.csv")
    assert(med.length === 773)
  }

  test("A6: crosswalk CSV honors header, NULL literals, row order") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
    val f = tmp.resolve("xwalk.csv")
    java.nio.file.Files.writeString(f,
      "hmrn,umrn,SitePatientId\nH1,NULL,p1\nNULL,U2,p2\nH3,U3,p1\nH9,U9,NULL\n")
    val df = CnicsCsv.loadCrosswalk(spark, f.toString)
    val rows = df.orderBy("__order").collect()
    // row with SitePatientId='NULL' is skipped (py:298)
    assert(rows.length === 3)
    // umrn 'NULL' → absent (py:302-303); hmrn kept VERBATIM (py:301)
    assert(rows(0).getString(0) === "H1" && rows(0).isNullAt(1))
    assert(rows(1).getString(0) === "NULL" && rows(1).getString(1) === "U2")
    // last-wins for p1 resolved downstream via __order (pipeline test)
    assert(rows(2).getAs[Long]("__order") > rows(0).getAs[Long]("__order"))
  }

  test("A9/B4: patient-id list file round-trips with quote escaping") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ids").toString + "/ids"
    val df = Seq(("uw", "p-1"), ("uw", "o'brien")).toDF("site", "id")
    CnicsCsv.writePatientIdList(df, "site", "id", tmp)
    val back = CnicsCsv.readPatientIdList(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === Set(("uw", "p-1"), ("uw", "o'brien")))
  }
}
