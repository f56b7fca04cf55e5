package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.CnicsFixtures
import graft.pipeline.CnicsPipeline
import graft.sinks.{FhirFixtureServer, HttpFhirStore, InMemoryFhirStore}

/** Contracts of the incremental sync that the registry rows
  * (`cnics_incremental_audit`, `cnics_incremental_full_audit`) cannot
  * see: end-state equivalence with a from-scratch full run, byte-level
  * zero-touch in the steady state, the manifest swap's crash heal, and
  * the overlapped job's ordering and failure policy. */
class CnicsIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mdir() =
    java.nio.file.Files.createTempDirectory("graft_inc").toString

  private def changedInputs = {
    import spark.implicits._
    val base = CnicsFixtures.demo(spark)
    base.copy(
      patient = base.patient.filter(col("PatientId") =!= 2L),
      demographic = Seq(
        (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
        (11L, 1L, Some("Male"), Some("White"), Some("No")),
        (13L, 3L, Some("Male"), Some("Black"), Some("No"))
      ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
  }

  test("incremental end state equals a from-scratch full run, bodies included") {
    val dir = mdir()
    val incStore = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), incStore, "uw")
      .runPatientsIncremental(dir)
    new CnicsPipeline(spark, changedInputs, incStore, "uw")
      .runPatientsIncremental(dir)

    val fullStore = new InMemoryFhirStore
    new CnicsPipeline(spark, changedInputs, fullStore, "uw").runPatients()

    val incPatients = incStore.data.filter(_._1._1 == "Patient")
    val fullPatients = fullStore.data.filter(_._1._1 == "Patient")
    assert(incPatients == fullPatients) // same keys AND same JSON bodies
  }

  test("steady state: second incremental run writes nothing at all") {
    val dir = mdir()
    val store = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw")
      .runPatientsIncremental(dir)
    val before = store.data.toMap
    val r2 = new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw")
      .runPatientsIncremental(dir)
    assert(r2.values.sum === 0L)
    assert(store.data.toMap === before) // not even a no-op re-PUT
  }

  test("all-type incremental end state equals a from-scratch full run, bodies included") {
    val dir = mdir()
    val incStore = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), incStore, "uw")
      .runIncremental(dir)
    new CnicsPipeline(spark, changedInputs, incStore, "uw")
      .runIncremental(dir)

    val fullStore = new InMemoryFhirStore
    new CnicsPipeline(spark, changedInputs, fullStore, "uw").run()
    assert(incStore.data.toMap === fullStore.data.toMap) // every type, every body
  }

  test("streaming key-sync end state equals the batch full run, bodies included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = new InMemoryFhirStore
    val mem = MemoryStream[String]
    val q = graft.streaming.CnicsStreams.patientSync(
      mem.toDF().toDF("site_pat_id"), CnicsFixtures.demo(spark), store, "uw")
    try {
      mem.addData("uw-001"); q.processAllAvailable()
      mem.addData("uw-002", "no-such-key"); q.processAllAvailable()
    } finally q.stop()

    val full = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), full, "uw").runPatients()
    assert(store.data.filter(_._1._1 == "Patient")
      === full.data.filter(_._1._1 == "Patient"))
  }

  test("parquet store cascades Patient deletes to children, matching the in-memory double") {
    import spark.implicits._
    val pq = new graft.sinks.ParquetFhirStore(
      java.nio.file.Files.createTempDirectory("graft_pqcascade").toString)
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), pq, "uw").run()
    assert(pq.snapshot(spark, "Condition").count() === 2L)
    assert(pq.snapshot(spark, "Observation").count() === 3L)

    // uw-002 leaves the cohort; the targeted run deletes the patient and
    // the cascade must take dx-3 and lab-3 with it
    val dropped = CnicsFixtures.demo(spark)
    val changed = dropped.copy(
      patient = dropped.patient.filter(col("PatientId") =!= 2L))
    val audit = new CnicsPipeline(spark, changed, pq, "uw")
      .runForKeys(Seq("uw-002").toDF("site_pat_id"))
    assert(audit(("Patient", "delete")) === 1L)

    assert(pq.snapshot(spark, "Patient").count() === 1L)
    val condKeys = pq.snapshot(spark, "Condition")
      .collect().map(_.getString(0)).toSet
    assert(condKeys === Set("dx-1"))
    val obsKeys = pq.snapshot(spark, "Observation")
      .collect().map(_.getString(0)).toSet
    assert(obsKeys === Set("lab-1", "lab-2"))
  }

  test("E5 dup keys stay dirty: the manifest must not advance an errored key") {
    // a store whose Patient snapshot duplicates uw-001 (the E5 shape:
    // two store resources sharing one business key)
    val store = new InMemoryFhirStore {
      override def snapshot(spark: org.apache.spark.sql.SparkSession,
          resourceType: String,
          identifierSystem: Option[String] = None): org.apache.spark.sql.DataFrame = {
        val s = super.snapshot(spark, resourceType, identifierSystem)
        if (resourceType == "Patient")
          s.union(s.filter(col("key") === "uw-001"))
        else s
      }
    }
    val dir = mdir()
    val base = CnicsFixtures.demo(spark)
    val r1 = new CnicsPipeline(spark, base, store, "uw")
      .runPatientsIncremental(dir) // empty store: clean insert run
    assert(r1.get("error").isEmpty && r1("insert") === 2L)

    // uw-001's content changes -> dirty -> the dup'd snapshot aborts it
    import spark.implicits._
    val changed = base.copy(demographic = Seq(
      (10L, 1L, Some("Male"), Some("Asian"), Some("Yes")),
      (11L, 1L, Some("Male"), Some("White"), Some("No")),
      (12L, 2L, None: Option[String], None: Option[String], None: Option[String]),
      (13L, 3L, Some("Male"), Some("Black"), Some("No"))
    ).toDF("DemographicId", "PatientId", "Sex", "Race", "Hispanic"))
    val r2 = new CnicsPipeline(spark, changed, store, "uw")
      .runPatientsIncremental(dir)
    assert(r2("error") === 1L && r2.getOrElse("update", 0L) === 0L)

    // SAME inputs again: the errored key must still be dirty — a
    // manifest that advanced its hash would report 0 and mask the
    // store corruption forever
    val r3 = new CnicsPipeline(spark, changed, store, "uw")
      .runPatientsIncremental(dir)
    assert(r3.get("error").contains(1L),
      s"errored key was masked by the manifest: $r3")
  }

  test("JobRunner.runIncremental: two-site shared store, second pass is all-zero") {
    val store = new InMemoryFhirStore
    val roots = scala.collection.mutable.Map[String, String]()
    def manifestFor(site: String, db: String) =
      roots.getOrElseUpdate(s"$site/$db", mdir())
    val cfg = "[JobList]\nJob_1 = \"uw,sea:cnics:\"\n"
    def once() = graft.pipeline.JobRunner.runIncremental(spark, cfg,
      (_, _) => CnicsFixtures.demo(spark), (_, _) => store, manifestFor)
    val first = once()
    assert(first.map(_.site) === Seq("uw", "sea"))
    assert(first.find(_.site == "uw").get.audit(("Patient", "insert")) === 2L)
    assert(first.find(_.site == "sea").get.audit(("Patient", "insert")) === 1L)
    // neither site deleted the other's patients (site-scoped snapshots)
    assert(store.data.keys.count(_._1 == "Patient") === 3)
    val second = once()
    assert(second.flatMap(_.audit.values).sum === 0L)
  }

  test("a swap crashed between renames heals from the bak manifest") {
    val dir = mdir()
    val store = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw")
      .runPatientsIncremental(dir)
    // simulate the crash window: live renamed to bak, new tmp never landed
    val live = new java.io.File(s"$dir/manifest")
    val bak = new java.io.File(s"$dir/.manifest.bak")
    assert(live.renameTo(bak))
    val r = new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw")
      .runPatientsIncremental(dir)
    // healed prev manifest -> still a zero-action steady state, not a
    // full re-sync of every key
    assert(r.values.sum === 0L)
    assert(live.exists() && !bak.exists())
  }

  /** Runs every task on its own thread at once and waits for all;
    * rethrows the first failure. */
  private def concurrently(tasks: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = tasks.map(t => pool.submit(() => { start.await(); t() }))
      start.countDown()
      futures.foreach(_.get())
    } finally { pool.shutdown(); () }
  }

  test("InMemoryFhirStore: concurrent applies on distinct types and a snapshot end as in sequence") {
    import spark.implicits._
    val types = Seq("Condition", "MedicationRequest", "Observation")
    // local relations: collect() runs on the driver without a job, so
    // the three map updates start together and overlap
    val actions = types.map { rt =>
      rt -> (1 to 100000).map(i => (s"$rt-$i", s"id-$rt-$i", s"""{"n":$i}""", "insert"))
        .toDF("key", "id", "json", "merge_action")
    }
    val sequential = new InMemoryFhirStore
    actions.foreach { case (rt, df) => sequential.applyActions(rt, df) }
    // a lost update needs the writers to interleave, so try several rounds
    val diverged = (1 to 5).count { _ =>
      val parallel = new InMemoryFhirStore
      concurrently(actions.map { case (rt, df) => () => parallel.applyActions(rt, df) } :+
        (() => parallel.snapshot(spark, "Condition").count()))
      parallel.data.toMap != sequential.data.toMap
    }
    assert(diverged === 0, s"of 5 concurrent rounds, $diverged left another end state")
  }

  test("strict-reference store: the overlapped job equals the per-type calls in sequence") {
    // uw-001 joins the cohort with its children while uw-002 leaves:
    // the Patient apply must land (PUT and cascade) before any child
    val demo = CnicsFixtures.demo(spark)
    val before = demo.copy(patient = demo.patient.filter(col("PatientId") =!= 1L))
    val after = demo.copy(patient = demo.patient.filter(col("PatientId") =!= 2L))
    val servers = Seq.fill(2)(new FhirFixtureServer(strictReferences = true))
    try {
      val Seq(overlapped, sequential) = servers.map(srv =>
        (new HttpFhirStore(s"http://localhost:${srv.start()}", maxRetries = 2), mdir()))
      def overlappedSync(in: graft.pipeline.CnicsInputs) =
        new CnicsPipeline(spark, in, overlapped._1, "uw").runIncremental(overlapped._2)
      def sequentialSync(in: graft.pipeline.CnicsInputs) =
        CnicsPipeline.ResourceTypes.map { case (name, _) =>
          new CnicsPipeline(spark, in, sequential._1, "uw").runIncremental(sequential._2, Set(name))
        }.reduce(_ ++ _)
      assert(overlappedSync(before) === sequentialSync(before))
      val delta = overlappedSync(after)
      assert(delta === sequentialSync(after))
      assert(delta.filter(_._2 > 0L) === Map(("Patient", "insert") -> 1L,
        ("Patient", "delete") -> 1L, ("Condition", "insert") -> 1L,
        ("MedicationRequest", "insert") -> 1L, ("Observation", "insert") -> 2L))
      assert(servers.map(_.refRejects.get) === Seq(0, 0))
      assert(servers(0).data === servers(1).data)
    } finally servers.foreach(_.stop())
  }

  test("a failed child apply: the other passes finish, its manifest stays put, a re-run converges") {
    import scala.jdk.CollectionConverters._
    val down = new java.util.concurrent.atomic.AtomicBoolean(true)
    val store = new InMemoryFhirStore {
      override def applyActions(resourceType: String,
          actions: org.apache.spark.sql.DataFrame): Map[String, Long] =
        if (resourceType == "Observation" && down.get)
          throw new IllegalStateException("Observation sink down")
        else super.applyActions(resourceType, actions)
    }
    val dir = mdir()
    val err = intercept[IllegalStateException](
      new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw").runIncremental(dir))
    assert(err.getMessage === "Observation sink down")
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith(CnicsPipeline.SyncThreadPrefix)))
    def manifest(rt: String) = new java.io.File(s"$dir/$rt/manifest").exists()
    assert(Seq("Patient", "Condition", "MedicationRequest").forall(manifest))
    assert(!manifest("Observation"))
    assert(store.data.keys.count(_._1 == "Condition") === 2)
    assert(store.data.keys.count(_._1 == "Observation") === 0)

    down.set(false)
    val r = new CnicsPipeline(spark, CnicsFixtures.demo(spark), store, "uw").runIncremental(dir)
    assert(r.filter(_._2 > 0L) === Map(("Observation", "insert") -> 3L))
    val full = new InMemoryFhirStore
    new CnicsPipeline(spark, CnicsFixtures.demo(spark), full, "uw").run()
    assert(store.data.toMap === full.data.toMap)
  }
}
