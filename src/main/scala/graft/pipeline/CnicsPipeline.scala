package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.FhirResources
import graft.operators.Merge
import graft.sinks.FhirStore

/** The reference's job, re-expressed as one declarative DAG per
  * (site, resourceType) — SURVEY.md §3.
  *
  * Where the reference loops patient-by-patient issuing 6 SQL queries
  * and ≥4 HTTP round-trips each (N+1), this pipeline:
  *  - assembles the cohort with joins (fan-out join D3);
  *  - takes the first demographic row per patient with a window (E2);
  *  - aggregates session ids / PRO identifiers per patient (E3/D9,
  *    deterministic first-seen order by sorted SessionId);
  *  - builds resources as nested structs (one narrow projection);
  *  - reconciles against the store snapshot with a full-outer merge
  *    keyed on the business identifier (D4/F12);
  *  - hands insert/update/delete sets to the sink (B1/B2).
  *
  * Ids are deterministic client-assigned (`cnics-<site>-<key>`), which
  * removes the reference's store-assigned-id sequential barrier
  * (SURVEY.md §3.2): children derive subject references without
  * waiting for write-backs.
  */
final case class CnicsInputs(
    patient: DataFrame,
    demographic: DataFrame,
    diagnosis: DataFrame,
    medication: DataFrame,
    lab: DataFrame,
    pro: DataFrame,       // ProAltered: (PatientId, SessionId)
    proDb: DataFrame,     // PRO db join: (SessionID, PatientID, MRN)
    crosswalk: DataFrame, // (hmrn, umrn, SitePatientId, __order) — last wins
    conditionsFilter: String,
    medicationsFilter: String,
    observationsFilter: String,
    standardDiagnoses: Seq[String])

/** @param debugDir when set, every reconcile dumps its full action
  *   frame — (key, id, merge_action, json) per resource — to
  *   `<debugDir>/<resourceType>` parquet before the sink applies it.
  *   This is the distributed form of the reference's per-resource
  *   debug logging (`debug_logger.debug(...)`, cnics_to_fhir.py:527,
  *   627, 710, 895): at scale a driver log line per row is the
  *   bottleneck, a partitioned parquet audit trail is not, and it is
  *   queryable afterwards (which the log never was). */
class CnicsPipeline(spark: SparkSession, in: CnicsInputs, store: FhirStore, site: String,
    debugDir: Option[String] = None) {

  private val siteLower = site.toLowerCase
  private def emptyStrArr = array().cast("array<string>")

  /** C1 — (Historical <> 'Yes' OR Historical IS NULL), cnics:121/138/154. */
  private def historicalFilter: Column =
    coalesce(col("Historical") =!= "Yes", lit(true))

  /** Cohort: Patient ⋈ Demographic restricted to site (A2), distinct
    * on the patient key (the reference may enqueue duplicates when a
    * patient has several demographic rows — idempotent either way). */
  def cohort(limit: Int = Int.MaxValue): DataFrame =
    in.patient
      .filter(col("Site") === site)
      .join(in.demographic.select("PatientId").distinct(), Seq("PatientId"))
      .select(col("PatientId"), col("SitePatientId").cast("string").as("site_pat_id"))
      .distinct()
      .limit(limit)

  /** G3 — the reference's commented `order by rand()` cohort sampling
    * (cnics_to_fhir.py:264), seeded for reproducibility: a random-but-
    * deterministic n-patient cohort. rand(seed) is stable for a fixed
    * partitioning, which cohort() pins via its distinct() shuffle. */
  def cohortSample(n: Int, seed: Long = 42L): DataFrame =
    cohort().orderBy(rand(seed), col("site_pat_id")).limit(n)

  /** E2 — first demographic row per patient by DemographicId. */
  def demoFirst: DataFrame =
    in.demographic
      .withColumn("__rn", row_number().over(
        Window.partitionBy("PatientId").orderBy(col("DemographicId"))))
      .filter(col("__rn") === 1)
      .select(col("PatientId"), col("Race"), col("Hispanic"), col("Sex"))

  /** STRICT first-seen mode (D9/E4): when the `pro` / `proDb` inputs
    * carry an `__arrival` column (the row order of the source extract),
    * identifier order reproduces the reference's cursor order
    * byte-for-byte (`cnics_to_fhir.py:410-420`). Without it, order is
    * pinned to sorted SessionId — deterministic, documented divergence
    * (the reference itself inherits undefined DB order, G4). */
  private def strictPro: Boolean = in.pro.columns.contains("__arrival")

  /** Distinct sessions per patient with their first-seen order key. */
  private def sessionsOrdered: DataFrame =
    if (strictPro)
      in.pro.groupBy("PatientId", "SessionId")
        .agg(lpad(min(col("__arrival")).cast("string"), 19, "0").as("__sess_ord"))
    else
      in.pro.select("PatientId", "SessionId").distinct()
        .withColumn("__sess_ord", col("SessionId"))

  /** A4/E3 — distinct session ids per patient, deterministic order. */
  def sessionsPerPatient: DataFrame =
    sessionsOrdered
      .groupBy("PatientId")
      .agg(expr("transform(array_sort(collect_list(struct(__sess_ord, SessionId)))," +
        " s -> s.SessionId)").as("session_ids"))

  /** D9/E4 — PRO-db fallback identifiers: first-seen-order distinct
    * PatientIDs and MRNs across the patient's sessions. */
  def proFallback: DataFrame = {
    val db0 = in.proDb
      .withColumnRenamed("SessionID", "SessionId")
      .withColumnRenamed("PatientID", "pro_pat_id") // avoid case-insensitive clash
    val db = if (db0.columns.contains("__arrival"))
      db0.withColumn("__db_ord", lpad(col("__arrival").cast("string"), 19, "0"))
        .drop("__arrival")
    else db0.withColumn("__db_ord", lit(""))
    sessionsOrdered
      .join(db, Seq("SessionId"))
      .groupBy("PatientId")
      .agg(
        expr("array_distinct(transform(array_sort(" +
          "collect_list(IF(pro_pat_id IS NOT NULL, struct(__sess_ord, __db_ord, pro_pat_id), NULL))" +
          "), s -> s.pro_pat_id))").as("pro_pat_ids"),
        expr("array_distinct(transform(array_sort(" +
          "collect_list(IF(MRN IS NOT NULL, struct(__sess_ord, __db_ord, MRN), NULL))" +
          "), s -> s.MRN))").as("pro_mrns"))
  }

  /** A6 — crosswalk with PER-FIELD last-wins merge on SitePatientId
    * (cnics_to_fhir.py:296-304): hmrn is overwritten by every duplicate
    * row, umrn only by rows whose umrn is present — so a later
    * duplicate with a NULL umrn keeps the earlier umrn. One map-side
    * combinable aggregation (max_by ignores null ordering keys). */
  def crosswalkLastWins: DataFrame = CnicsPipeline.crosswalkLastWins(in.crosswalk)

  /** Assembled patient resources: (PatientId, key, id, json). */
  def patientResources(limit: Int = Int.MaxValue): DataFrame = {
    val base = cohort(limit)
      .join(demoFirst, Seq("PatientId"), "left")
      .join(sessionsPerPatient, Seq("PatientId"), "left")
      .join(broadcast(crosswalkLastWins), Seq("site_pat_id"), "left")
      .join(proFallback, Seq("PatientId"), "left")
      .withColumn("session_ids", coalesce(col("session_ids"), emptyStrArr))
      .withColumn("in_crosswalk", coalesce(col("in_crosswalk"), lit(false)))
      .withColumn("pro_pat_ids",
        coalesce(col("pro_pat_ids"), array().cast("array<long>")))
      .withColumn("pro_mrns", coalesce(col("pro_mrns"), emptyStrArr))
    base.select(
      col("PatientId"),
      col("site_pat_id").as("key"),
      concat(lit(s"cnics-$siteLower-"), col("site_pat_id")).as("id"),
      to_json(FhirResources.patient(
        lit(siteLower), col("site_pat_id"), col("session_ids"),
        col("in_crosswalk"), col("hmrn"), col("umrn"),
        col("pro_pat_ids"), col("pro_mrns"),
        col("Race"), col("Hispanic"), col("Sex"))).as("json"))
  }

  /** Generic reconcile+write for one resource type. Child types pass
    * the cohort's subject ids so the store side is the distributed
    * per-subject snapshot (A7) — never a full-store driver pager — and
    * so store∖source deletes are scoped to this cohort's subjects
    * (resources owned by other sites/cohorts are untouchable). */
  private def reconcile(resourceType: String, source0: DataFrame,
      subjects: Option[DataFrame] = None,
      identifierSystem: Option[String] = None,
      keyScope: Option[DataFrame] = None): Map[String, Long] =
    reconcileDetail(resourceType, source0, subjects, identifierSystem, keyScope)._1

  /** [[reconcile]] plus the E5 dup-key values (error-channel-sized;
    * the incremental pass must keep those keys OUT of its manifest or
    * the error would be masked forever — see incrementalPass). */
  private def reconcileDetail(resourceType: String, source0: DataFrame,
      subjects: Option[DataFrame] = None,
      identifierSystem: Option[String] = None,
      keyScope: Option[DataFrame] = None,
      applySink: Option[DataFrame => Map[String, Long]] = None): (Map[String, Long], Seq[String]) = {
    // Incremental mode: both sides of the merge are key-scoped to the
    // dirty set, so unchanged keys are invisible to the classify —
    // neither writable nor deletable. Semi joins keep the scope frame
    // un-duplicated; Catalyst broadcasts it when dimension-sized.
    val source = keyScope
      .map(ks => source0.join(ks, Seq("key"), "left_semi"))
      .getOrElse(source0)
    // persisted: the dup-key scan below and the merge both read it, and
    // for HTTP stores recomputing means re-fetching the whole snapshot.
    // With a keyScope (and no subject scope) the store read itself is
    // key-targeted — snapshotForKeys costs O(dirty) on an HTTP wire
    // instead of a full scoped page walk.
    val snapAll = (subjects match {
      case Some(subj) =>
        val snap = store.snapshotForSubjects(spark, resourceType, subj)
        keyScope.map(ks => snap.join(ks, Seq("key"), "left_semi")).getOrElse(snap)
      case None => keyScope
        .map(ks => store.snapshotForKeys(spark, resourceType, ks, identifierSystem))
        .getOrElse(store.snapshot(spark, resourceType, identifierSystem))
    }).filter(col("key").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // E5 — multiple store resources sharing one business key: the
      // reference aborts that row ("Multiple patient resources",
      // cnics_to_fhir.py:359, 906-908). Route the key out of the merge
      // entirely (no write, no delete) and surface an `error` counter.
      val dupKeys = snapAll.groupBy("key").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select("key")
      // error-channel-sized by construction (only keys the store holds
      // twice); collected once so the incremental manifest can exclude
      // them and callers can count them without a second job. CAPPED:
      // a misconfigured store that duplicates a large fraction of its
      // keys would otherwise turn this into an unbounded driver
      // collect feeding a huge isin() literal tree — past the cap the
      // run fails loudly (the store needs repair, not a bigger merge).
      val dupKeyRows = dupKeys.limit(CnicsPipeline.MaxDupKeys + 1).collect()
      require(dupKeyRows.length <= CnicsPipeline.MaxDupKeys,
        s"$resourceType store holds > ${CnicsPipeline.MaxDupKeys} duplicated business keys — " +
          "this is store corruption at scale, not an error channel; repair " +
          "the store before syncing")
      val dupKeyValues = dupKeyRows.map(_.getString(0)).toSeq
      val nDup = dupKeyValues.size.toLong
      val (snap, src) =
        if (nDup == 0) (snapAll, source)
        else (snapAll.join(broadcast(dupKeys), Seq("key"), "left_anti"),
          source.join(broadcast(dupKeys), Seq("key"), "left_anti"))
      val classified = Merge.classify(src, snap, Seq("key"))
        .withColumn("id", coalesce(col(Merge.StoreIdCol), col("id")))
        .withColumnRenamed(Merge.ActionCol, "merge_action")
      // B-side debug channel (reference parity, see class doc): the
      // exact frame handed to the sink, persisted for inspection.
      // When the dump runs, the classify join is materialized ONCE
      // (localCheckpoint) so the sink pass doesn't recompute the
      // source scan + snapshot join a second time.
      val actions = debugDir match {
        case None => classified
        case Some(dir) =>
          val pinned = classified.localCheckpoint(true)
          pinned.select("key", "id", "merge_action", "json")
            .write.mode("overwrite").parquet(s"$dir/$resourceType")
          pinned
      }
      // applySink (runTransactional's deferral hook): the WRITE is
      // handed elsewhere; reads/classify above ran normally
      val counts = applySink
        .getOrElse((df: DataFrame) => store.applyActions(resourceType, df))
        .apply(actions.select("key", "id", "json", "merge_action"))
      (if (nDup > 0) counts + ("error" -> nDup) else counts, dupKeyValues)
    } finally { snapAll.unpersist(); () }
  }

  /** Subject resource ids of the cohort (the `Patient/<id>` targets). */
  private def cohortSubjects(ids: DataFrame): DataFrame =
    ids.select(concat(lit(s"cnics-$siteLower-"), col("site_pat_id")).as("subject_id"))

  private def childSource(detail: DataFrame, nameCol: String, iniFilter: String,
      cohortIds: DataFrame): DataFrame =
    detail
      .filter(historicalFilter && length(col(nameCol)) > 0 && expr(iniFilter))
      .join(cohortIds, Seq("PatientId"))

  /** This site's site-patient-id identifier system — the Patient
    * snapshot scope (cnics_to_fhir.py:322: one site's reconcile may
    * only see, and therefore only delete, its OWN patients on a
    * shared multi-site store). */
  def sitePatientIdSystem: String =
    s"https://cnics.cirg.washington.edu/site-patient-id/$siteLower"

  def runPatients(limit: Int = Int.MaxValue): Map[String, Long] =
    reconcile("Patient", patientResources(limit),
      identifierSystem = Some(sitePatientIdSystem))

  /** Targeted Patient sync for an explicit dirty-key set — the
    * CDC-driven sibling of [[runPatientsIncremental]] (which derives
    * its own dirty set by hashing the full assembly). Here the CALLER
    * knows which site-patient ids changed (a Debezium-style CDC feed,
    * or [[graft.streaming.CnicsStreams.patientSync]] micro-batches),
    * so the ASSEMBLY itself is scoped: the patient table semi-joins
    * the keys before the demographic/session/crosswalk/PRO fan-out,
    * and a 10-key delta assembles 10 patients — not the site. Wire
    * cost and assembly cost are both O(batch). A scoped key whose
    * cohort row vanished still DELETEs (the key-scoped reconcile sees
    * it store-side only). `keys`: one column of site-patient ids. */
  def runPatientsForKeys(keys: DataFrame): Map[String, Long] = {
    val ks = dirtyKeys(keys)
    scopedTo(ks).reconcile("Patient", scopedTo(ks).patientResources(),
      identifierSystem = Some(sitePatientIdSystem),
      keyScope = Some(ks.select(col("site_pat_id").as("key"))))
  }

  /** The requested resource types, in [[CnicsPipeline.ResourceTypes]]
    * order (Patient first). */
  private def requested(resourceList: Set[String]): Seq[String] =
    CnicsPipeline.ResourceTypes.collect { case (name, rt) if resourceList(name) => rt }

  /** The audit fold every multi-type entry point shares: per-type
    * counts to the 12-counter map (insert/update/delete always present;
    * the E5 error channel only when duplicates were routed out). */
  private def auditOf(counts: Seq[(String, Map[String, Long])]): Map[(String, String), Long] =
    counts.flatMap { case (rt, c) =>
      Seq("insert", "update", "delete").map(a => (rt, a) -> c.getOrElse(a, 0L)) ++
        c.get("error").map(n => (rt, "error") -> n)
    }.toMap

  /** One type's full (non-incremental) reconcile. */
  private def fullPass(resourceType: String, limit: Int): Map[String, Long] = resourceType match {
    case "Patient" => runPatients(limit)
    case "Condition" => runConditions(limit)
    case "MedicationRequest" => runMedications(limit)
    case "Observation" => runObservations(limit)
  }

  /** The full targeted job for a dirty-key set — every resource type,
    * not just Patient. Children ride the scoped pipeline's OWN
    * subject-scoped reconcile ([[reconcile]] `subjects`): the child
    * snapshot fetches only the scoped cohort's subjects, so child
    * deletes are bounded to the dirty patients exactly like the full
    * run bounds them to the cohort. Children of a patient that LEFT
    * the cohort are not reachable through the child pass (no cohort
    * row → no subject) — they are removed by the Patient DELETE's
    * `?_cascade=delete` (reference parity, cnics_to_fhir.py:333). */
  def runForKeys(keys: DataFrame,
      resourceList: Set[String] = CnicsPipeline.AllResources): Map[(String, String), Long] = {
    val scoped = scopedTo(dirtyKeys(keys))
    auditOf(requested(resourceList).map {
      case "Patient" => "Patient" -> runPatientsForKeys(keys)
      case rt => rt -> scoped.fullPass(rt, Int.MaxValue)
    })
  }

  private def dirtyKeys(keys: DataFrame): DataFrame =
    keys.select(col(keys.columns.head).cast("string").as("site_pat_id"))
      .distinct()

  /** A pipeline whose INPUTS are semi-join-scoped to the dirty keys —
    * the patient table first, then every per-patient table by the
    * scoped PatientIds — so assembly cost is O(batch). The detail
    * tables (diagnosis/medication/lab) are left as-is: their child
    * pipelines already start from the scoped cohort join
    * ([[childSource]]), which prunes them to the scoped patients. */
  private def scopedTo(ks: DataFrame): CnicsPipeline = {
    val pat = in.patient.join(ks.withColumnRenamed("site_pat_id", "__k"),
      col("SitePatientId").cast("string") === col("__k"), "left_semi")
    val ids = pat.select("PatientId").distinct()
    new CnicsPipeline(spark, in.copy(
        patient = pat,
        demographic = in.demographic.join(ids, Seq("PatientId"), "left_semi"),
        pro = in.pro.join(ids, Seq("PatientId"), "left_semi"),
        crosswalk = in.crosswalk.join(
          ks.withColumnRenamed("site_pat_id", "SitePatientId"),
          Seq("SitePatientId"), "left_semi")),
      store, site, debugDir)
  }

  /** Incremental Patient run (extension; see [[Merge.manifestDiff]]).
    *
    * The source is still assembled in full — one declarative scan, the
    * cheap part — but only keys whose assembled JSON differs from the
    * previous run's `(key, hash)` manifest reach the merge and the
    * store wire: unchanged patients cost zero HTTP round-trips AND
    * zero store-snapshot scope (the scoped HTTP snapshot fetches only
    * the dirty keys' pages). A key that left the cohort is remembered
    * by the manifest and still DELETEs. This deliberately diverges
    * from the reference's PUT-always steady state (every run re-PUTs
    * every patient, cnics_to_fhir.py:548-584) — at a 10⁸-patient site
    * the steady-state delta is ~0, and re-PUTting the world every
    * night IS the bottleneck.
    *
    * Crash contract: the manifest swings (tmp dir + atomic rename)
    * only after the store apply returns, so a crash mid-apply leaves
    * the previous manifest and the next run re-finds the same dirty
    * keys; PUT-with-id upserts and DELETEs replay idempotently. */
  def runPatientsIncremental(manifestDir: String,
      limit: Int = Int.MaxValue): Map[String, Long] = {
    val plan = planIncremental("Patient", patientResources(limit),
      Some(sitePatientIdSystem), manifestDir)
    try applyIncremental(plan)._2 finally plan.release()
  }

  /** The full incremental job: every resource type through its own
    * (key, hash) manifest under `manifestDir/<Type>`. The child
    * passes differ structurally from the full run: instead of the
    * subject-scoped snapshot (O(cohort) reads) they use the
    * KEY-TARGETED snapshot with their site-scoped identifier system
    * (`.../{diagnosis,medication,lab}/site-record-id/<site>`), so a
    * K-row delta costs O(K) store reads AND writes. A child row that
    * vanished from the source — including because its patient left
    * the cohort — is remembered by the manifest and deletes
    * explicitly, which converges to the same end state as the Patient
    * cascade (the two paths are idempotent against each other).
    *
    * Order: each type is planned ([[planIncremental]]: assembly,
    * manifest read, diff, dirty set) and then applied
    * ([[applyIncremental]]: key-scoped reconcile, manifest swing).
    *  1. The plans of every requested type run concurrently. They read
    *     only the source tables and the type's own manifest, never the
    *     store, so they cannot observe each other.
    *  2. The Patient apply runs alone. Its `?_cascade=delete` must
    *     reach the store before a child's key-targeted snapshot reads
    *     it, or cascaded children would be classified (and counted) as
    *     explicit child deletes; and a new patient must exist before
    *     its children are PUT, because strict-reference stores reject a
    *     child whose subject is missing.
    *  3. The child applies run concurrently: each touches only its own
    *     type in the store and its own manifest.
    * Concurrent phases run on threads created for this call (see
    * [[CnicsPipeline.inParallel]]); the call returns only after every
    * task has ended. A failed plan or Patient apply stops the run
    * before any later apply; a failed child apply lets the other child
    * applies finish. Either way the first failure, in type order, is
    * rethrown.
    *
    * Crash contract (unchanged by the overlap): a type's manifest
    * swings only after its own apply returns, so a type whose apply
    * failed or never ran keeps its previous manifest and the next run
    * re-finds its dirty keys.
    *
    * Blind spot by design: clean keys are never read, so store-side
    * corruption of an UNCHANGED key (another writer, a restored
    * backup) stays invisible until that key next changes. Run the
    * full job periodically as an integrity sweep — the incremental
    * mode replaces the nightly re-PUT, not the audit. */
  def runIncremental(manifestDir: String,
      resourceList: Set[String] = CnicsPipeline.AllResources,
      limit: Int = Int.MaxValue): Map[(String, String), Long] = {
    // sources are built on the caller's thread, which also forces the
    // shared cohortIds cut here, once: TrieMap.getOrElseUpdate may
    // evaluate its body twice when threads race on a missing key
    val sources = requested(resourceList).map(rt => rt -> incrementalSource(rt, limit))
    val plans = CnicsPipeline.inParallel(sources.map { case (rt, (cur, system)) =>
      () => planIncremental(rt, cur, Some(system), s"$manifestDir/$rt")
    })
    try {
      val (parent, children) = plans.map(_.get).partition(_.resourceType == "Patient")
      auditOf(parent.map(applyIncremental) ++
        CnicsPipeline.inParallel(children.map(p => () => applyIncremental(p))).map(_.get))
    } finally plans.foreach(_.foreach(_.release()))
  }

  /** The assembled frame one incremental pass diffs, and the
    * identifier system its key-targeted store read is qualified by. */
  private def incrementalSource(resourceType: String, limit: Int): (DataFrame, String) = {
    def childSystem(kind: String) =
      s"https://cnics.cirg.washington.edu/$kind/site-record-id/$siteLower"
    resourceType match {
      case "Patient" => (patientResources(limit), sitePatientIdSystem)
      case "Condition" => (conditionResources(cohortIds(limit)), childSystem("diagnosis"))
      case "MedicationRequest" =>
        (medicationResources(cohortIds(limit)), childSystem("medication"))
      case "Observation" => (observationResources(cohortIds(limit)), childSystem("lab"))
    }
  }

  /** Plan half of a manifest-diffed pass: persist the assembled `cur`,
    * heal and read the type's previous manifest, diff, and persist and
    * materialize the dirty-key set (the key-targeted snapshot and the
    * classify's source semi-join both read it, so it is computed once).
    * Reads the source and the manifest only, never the store. */
  private def planIncremental(resourceType: String, cur0: DataFrame,
      identifierSystem: Option[String], manifestDir: String): CnicsPipeline.IncrementalPlan = {
    val (fsys, live, bak) = manifestPaths(manifestDir)
    // heal a swap crashed between its two renames (live gone, bak
    // holds the previous manifest): restore bak rather than letting
    // an empty prev force a full re-sync
    if (!fsys.exists(live) && fsys.exists(bak)) {
      fsys.rename(bak, live); ()
    }
    val prev =
      if (fsys.exists(live)) spark.read.parquet(live.toString)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__h",
            org.apache.spark.sql.types.LongType))))
    val cur = cur0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dirty, manifest) = Merge.manifestDiff(cur, "key", "json", prev)
    val plan = CnicsPipeline.IncrementalPlan(resourceType, cur,
      dirty.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      manifest, identifierSystem, manifestDir)
    try { plan.dirty.count(); plan }
    catch { case e: Throwable => plan.release(); throw e }
  }

  /** Apply half: reconcile with both sides key-scoped to the plan's
    * dirty set, then swing the manifest (tmp write + bak swap) — only
    * after the store apply succeeded, so a crash mid-apply leaves the
    * previous manifest and the next run re-finds the same dirty keys
    * (PUT/DELETE replay idempotently). The caller releases the plan. */
  private def applyIncremental(p: CnicsPipeline.IncrementalPlan): (String, Map[String, Long]) = {
    val (counts, dupKeys) = reconcileDetail(p.resourceType, p.cur,
      identifierSystem = p.identifierSystem, keyScope = Some(p.dirty))
    // E5 dup keys were routed OUT of the merge unapplied: advancing
    // their manifest hash would mask the error forever (the key would
    // read clean next run while the store keeps the duplicate data).
    // Keep them out of the manifest so they stay dirty and the error
    // re-surfaces every run until fixed — same steady-state behavior
    // as the full PUT-always run.
    val manifest = if (dupKeys.isEmpty) p.manifest
      else p.manifest.filter(!col("key").isin(dupKeys: _*))
    // apply succeeded -> swing the manifest (write fully, then swap)
    val (fsys, live, bak) = manifestPaths(p.manifestDir)
    val tmp = new org.apache.hadoop.fs.Path(s"${p.manifestDir}/.manifest.tmp")
    manifest.write.mode("overwrite").parquet(tmp.toString)
    if (fsys.exists(live) && !fsys.rename(live, bak))
      throw new IllegalStateException(s"manifest bak rename failed: $live")
    if (!fsys.rename(tmp, live))
      throw new IllegalStateException(s"manifest swap failed: $live")
    fsys.delete(bak, true)
    p.resourceType -> counts
  }

  /** A manifest directory's file system, live manifest and swap backup. */
  private def manifestPaths(manifestDir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val live = new org.apache.hadoop.fs.Path(s"$manifestDir/manifest")
    (live.getFileSystem(spark.sparkContext.hadoopConfiguration), live,
      new org.apache.hadoop.fs.Path(s"$manifestDir/.manifest.bak"))
  }

  private def conditionResources(ids: DataFrame): DataFrame =
    childSource(in.diagnosis, "DiagnosisName", in.conditionsFilter, ids)
      .withColumn("key", col("DiagnosisId").cast("string"))
      .select(col("key"),
        concat(lit(s"cnics-dx-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.condition(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("DiagnosisId").cast("string"), col("DiagnosisDate"),
          col("DiagnosisSource"), col("DiagnosisName"),
          col("DiagnosisName").isin(in.standardDiagnoses: _*))).as("json"))

  /** The cohort-id frame every child pass joins against, materialized
    * ONCE (localCheckpoint): it feeds both the fan-out join and the
    * subject scope, so the cut halves the cohort assembly work — and,
    * critically for skew, it puts a REAL shuffle boundary under the
    * fan-out join. Without it the cohort side arrives pre-partitioned
    * by PatientId from its own upstream join, the whole right side
    * fuses into the join stage, and AQE's OptimizeSkewedJoin (which
    * requires BOTH join children to be ENSURE_REQUIREMENTS shuffle
    * stages) can never split a hot patient's partition — the
    * one-patient-many-labs skew would serialize on one task at scale
    * (CnicsSkewSoak pins both the fused-plan refusal and the
    * checkpointed plan's skew=true split). Cohort-sized storage, the
    * N+1-removal frame — bounded and small next to the detail side.
    * Memoized per limit so a full run()'s three child passes share ONE
    * materialization (inputs are immutable per pipeline instance);
    * blocks are reclaimed by the ContextCleaner with the instance. */
  private val cohortIdsCache =
    scala.collection.concurrent.TrieMap.empty[Int, DataFrame]
  private def cohortIds(limit: Int): DataFrame =
    cohortIdsCache.getOrElseUpdate(limit,
      cohort(limit).select("PatientId", "site_pat_id").localCheckpoint(true))

  def runConditions(limit: Int = Int.MaxValue): Map[String, Long] = {
    val ids = cohortIds(limit)
    reconcile("Condition", conditionResources(ids), Some(cohortSubjects(ids)))
  }

  private def medicationResources(ids: DataFrame): DataFrame =
    childSource(in.medication, "MedicationName", in.medicationsFilter, ids)
      .withColumn("key", col("MedicationId").cast("string"))
      .select(col("key"),
        concat(lit(s"cnics-med-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.medicationRequest(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("MedicationId").cast("string"), col("MedicationName"),
          col("StartDate"), col("EndDate"), col("EndType"))).as("json"))

  def runMedications(limit: Int = Int.MaxValue): Map[String, Long] = {
    val ids = cohortIds(limit)
    reconcile("MedicationRequest", medicationResources(ids), Some(cohortSubjects(ids)))
  }

  private def observationResources(ids: DataFrame): DataFrame =
    childSource(in.lab, "TestName", in.observationsFilter, ids)
      .withColumn("key", col("LabId")) // LabId is already a string (§1.4)
      .select(col("key"),
        concat(lit(s"cnics-lab-$siteLower-"), col("key")).as("id"),
        to_json(FhirResources.observation(
          lit(siteLower),
          concat(lit(s"cnics-$siteLower-"), col("site_pat_id")),
          col("LabId"), col("TestName"), col("TestDate"),
          col("Result"), col("Units"), col("ReferenceLow"), col("ReferenceHigh"))).as("json"))

  def runObservations(limit: Int = Int.MaxValue): Map[String, Long] = {
    val ids = cohortIds(limit)
    reconcile("Observation", observationResources(ids), Some(cohortSubjects(ids)))
  }

  /** Full job for one site: returns the reference's 12-counter audit
    * (E1: {Patient, Condition, MedicationRequest, Observation} ×
    * {inserted, updated, deleted}). */
  def run(resourceList: Set[String] = CnicsPipeline.AllResources,
      limit: Int = Int.MaxValue): Map[(String, String), Long] =
    auditOf(requested(resourceList).map(rt => rt -> fullPass(rt, limit)))

  /** SINGLE-STAGE transactional job (r15 verdict #7 — SURVEY §3.2's
    * flagged option, opt-in beside [[run]]): the four reconciles run
    * their reads and classifies exactly as in [[run]], but every
    * WRITE defers into one union frame that
    * [[graft.sinks.FhirStore.applyActionsMixed]] applies in a single
    * pass — on [[graft.sinks.HttpFhirStore]], one distributed job of
    * mixed-type transaction Bundles co-partitioned on the subject with
    * parent-first ordering, so the parent→child stage barrier the
    * sequential [[run]] imposes is GONE from the job DAG. Legal
    * because ids are client-assigned (children reference
    * `Patient/<deterministic id>` — no store-returned id feeds a later
    * stage). End state == [[run]]'s (oracle-pinned by
    * `cnics_http_tx_audit` against a strict-referential-integrity
    * fixture server). Audit shape is [[run]]'s 12-counter map. */
  def runTransactional(limit: Int = Int.MaxValue): Map[(String, String), Long] = {
    val ids = cohortIds(limit)
    val deferred = scala.collection.mutable.ListBuffer.empty[(String, DataFrame)]
    def defer(rt: String): DataFrame => Map[String, Long] = { df =>
      // materialized NOW (eager checkpoint): the reconcile unpersists
      // its snapshot when it returns, and the deferred frame must
      // survive that
      deferred += ((rt, df.localCheckpoint(true)))
      Map.empty
    }
    var audit = Map[(String, String), Long]()
    def errs(rt: String, counts: Map[String, Long]): Unit =
      counts.get("error").foreach { n => audit += ((rt, "error") -> n) }
    errs("Patient", reconcileDetail("Patient", patientResources(limit),
      identifierSystem = Some(sitePatientIdSystem),
      applySink = Some(defer("Patient")))._1)
    errs("Condition", reconcileDetail("Condition", conditionResources(ids),
      Some(cohortSubjects(ids)), applySink = Some(defer("Condition")))._1)
    errs("MedicationRequest", reconcileDetail("MedicationRequest",
      medicationResources(ids), Some(cohortSubjects(ids)),
      applySink = Some(defer("MedicationRequest")))._1)
    errs("Observation", reconcileDetail("Observation",
      observationResources(ids), Some(cohortSubjects(ids)),
      applySink = Some(defer("Observation")))._1)
    val union = deferred.map { case (rt, df) =>
      df.select(lit(rt).as("resource_type"),
        col("key"), col("id"), col("json"), col("merge_action"))
    }.reduce(_.unionByName(_))
    val written = store.applyActionsMixed(union)
    // zero-filled 12-counter audit (the run() shape), plus any errors
    deferred.map(_._1).foreach { rt =>
      Seq("insert", "update", "delete").foreach { a =>
        audit += ((rt, a) -> written.getOrElse((rt, a), 0L))
      }
    }
    audit
  }
}

object CnicsPipeline {
  /** E5 dup-key error-channel bound: above this the duplicate set is
    * store corruption, not an error channel (see reconcileDetail). */
  val MaxDupKeys: Int = 10000

  /** `resourceList` names and the resource types they select, in apply
    * order: Patient first, because children reference it. */
  val ResourceTypes: Seq[(String, String)] = Seq("patients" -> "Patient",
    "conditions" -> "Condition", "medicationrequests" -> "MedicationRequest",
    "observations" -> "Observation")

  val AllResources: Set[String] = ResourceTypes.map(_._1).toSet

  /** A planned incremental pass (see [[CnicsPipeline.runIncremental]]):
    * the persisted assembly, its persisted dirty-key set and the
    * manifest to swing in once the apply has returned. */
  private final case class IncrementalPlan(resourceType: String, cur: DataFrame,
      dirty: DataFrame, manifest: DataFrame, identifierSystem: Option[String],
      manifestDir: String) {
    def release(): Unit = { dirty.unpersist(); cur.unpersist(); () }
  }

  /** Name prefix of the threads [[inParallel]] creates. */
  val SyncThreadPrefix = "cnics-sync-"

  /** Runs `tasks` concurrently, one thread each, and returns every
    * outcome in task order once all of them have ended; a single task
    * runs on the caller. The threads are created for this call on the
    * caller's thread, so Spark's inheritable local properties (job
    * group, SQL execution id) start out as the caller's — a shared
    * pool's threads would carry whatever was set when they were made.
    * Every thread is joined before this returns. */
  private def inParallel[A](tasks: Seq[() => A]): Seq[scala.util.Try[A]] =
    if (tasks.size <= 1) tasks.map(t => scala.util.Try(t()))
    else {
      val out = Array.fill[scala.util.Try[A]](tasks.size)(
        scala.util.Failure(new IllegalStateException("sync task died")))
      val threads = tasks.zipWithIndex.map { case (t, i) =>
        new Thread(() => out(i) = scala.util.Try(t()), SyncThreadPrefix + i)
      }
      try threads.foreach(_.start())
      finally threads.foreach(t => if (t.getState != Thread.State.NEW) t.join())
      out.toSeq
    }

  /** A6 — the per-field last-wins crosswalk merge on SitePatientId
    * (cnics_to_fhir.py:296-304): hmrn is overwritten by every
    * duplicate row, umrn only by rows whose umrn is present — so a
    * later duplicate with a NULL umrn keeps the earlier umrn. One
    * map-side combinable aggregation (max_by ignores null ordering
    * keys). Static so the driver-visible `a6_crosswalk_lastwins` row
    * gates THIS code, not a copy. */
  def crosswalkLastWins(crosswalk: DataFrame): DataFrame =
    crosswalk
      .groupBy(col("SitePatientId").as("site_pat_id"))
      .agg(
        max_by(col("hmrn"), col("__order")).as("hmrn"),
        max_by(col("umrn"), when(col("umrn").isNotNull, col("__order"))).as("umrn"))
      .withColumn("in_crosswalk", lit(true))
}
