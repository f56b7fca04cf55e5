package graft.queries

import org.apache.spark.sql.functions._
import graft.model.CnicsFixtures
import graft.pipeline.CnicsPipeline
import graft.sources.CnicsCsv

/** Driver-visible rows for the source/sink operators that were
  * previously ScalaTest-only because no DuckDB oracle can SEE them
  * (HTTP wire behavior, CSV file semantics, text-file round-trips —
  * round-9 verdict: "10 of 54 carry no driver CORRECTNESS row").
  * Each query here EXECUTES the real source/sink path and emits its
  * deterministic observable outcome as rows against a literal-VALUES
  * oracle — the same pattern the `cnics_e2e_audit` pack established.
  */
object SourceSinkQueries {

  val defs: Seq[QueryDef] = Seq(

    // ── B1/B2/A7/F14 over the REAL HTTP wire: the full pipeline runs
    //    TWICE against an in-JVM FHIR server through HttpFhirStore —
    //    executor-side transaction-Bundle POSTs, `_summary=count` +
    //    offset paging, the identifier-system-scoped Patient snapshot
    //    and the per-subject child snapshots all speak actual HTTP.
    //    The server 500s the FIRST bundle POST, so run 1's insert
    //    counters also prove the bounded-retry wrapper recovered
    //    (rejected=1, audit unchanged). Run 2 must re-read everything
    //    it wrote through GET paging and classify it all as updates
    //    (the reference's PUT-always semantics). ──
    QueryDef(
      "cnics_http_e2e_audit",
      "pipeline twice over live HTTP (bundle sink + paged snapshot): insert run with one 500-retry, then all-update reconcile",
      (s, _) => {
        import s.implicits._
        val srv = new graft.sinks.FhirFixtureServer(failFirstPost = true)
        val port = srv.start()
        try {
          val store = new graft.sinks.HttpFhirStore(
            s"http://localhost:$port", maxRetries = 3)
          val first = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").run()
          val second = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").run()
          val rows =
            first.toSeq.map { case ((rt, a), n) => ("run1", rt, a, n) } ++
            second.toSeq.map { case ((rt, a), n) => ("run2", rt, a, n) } :+
            (("http", "Bundle", "rejected_once", srv.rejectedPosts.get().toLong)) :+
            (("store", "Patient", "count", srv.count("Patient")))
          rows.toDF("phase", "resource_type", "action", "n")
        } finally srv.stop()
      },
      Some("""SELECT * FROM (VALUES
             | ('run1', 'Patient', 'insert', CAST(2 AS BIGINT)), ('run1', 'Patient', 'update', 0), ('run1', 'Patient', 'delete', 0),
             | ('run1', 'Condition', 'insert', 2), ('run1', 'Condition', 'update', 0), ('run1', 'Condition', 'delete', 0),
             | ('run1', 'MedicationRequest', 'insert', 1), ('run1', 'MedicationRequest', 'update', 0), ('run1', 'MedicationRequest', 'delete', 0),
             | ('run1', 'Observation', 'insert', 3), ('run1', 'Observation', 'update', 0), ('run1', 'Observation', 'delete', 0),
             | ('run2', 'Patient', 'insert', 0), ('run2', 'Patient', 'update', 2), ('run2', 'Patient', 'delete', 0),
             | ('run2', 'Condition', 'insert', 0), ('run2', 'Condition', 'update', 2), ('run2', 'Condition', 'delete', 0),
             | ('run2', 'MedicationRequest', 'insert', 0), ('run2', 'MedicationRequest', 'update', 1), ('run2', 'MedicationRequest', 'delete', 0),
             | ('run2', 'Observation', 'insert', 0), ('run2', 'Observation', 'update', 3), ('run2', 'Observation', 'delete', 0),
             | ('http', 'Bundle', 'rejected_once', 1),
             | ('store', 'Patient', 'count', 2)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── The reference's AIDBOX store flavor (cnics_to_fhir.py:196-213)
    //    over the real wire: the fixture server requires a client-
    //    credentials bearer token on every call. Pinned as data: a
    //    wrong secret aborts the job at store construction (the
    //    reference quit()s), an unauthenticated store fails LOUDLY on
    //    its first read (never a silently-empty snapshot — that would
    //    reconcile the whole store away), and the correctly-authed
    //    pipeline runs end to end with exactly ONE token fetch (JVM-
    //    cached across every executor-side snapshot/bundle request). ──
    QueryDef(
      "cnics_http_auth_audit",
      "aidbox-flavor OAuth e2e: client-credentials token + bearer pipeline; wrong/absent creds fail loudly",
      (s, _) => {
        import s.implicits._
        val srv = new graft.sinks.FhirFixtureServer(authSecret = Some("s3cret"))
        val port = srv.start()
        try {
          val base = s"http://localhost:$port"
          def authFor(secret: String) = new graft.sinks.ClientCredentialsAuth(
            s"$base/auth/token", "client-cnics-crud", secret, maxRetries = 2)
          // wrong secret: the construction-time token fetch aborts
          val wrongAborted =
            try { new graft.sinks.HttpFhirStore(base, auth = Some(authFor("wrong"))); 0L }
            catch { case _: IllegalStateException => 1L }
          // absent auth: the first read 401s loudly (count + cursor
          // fallback = 2 unauthorized hits), never an empty frame
          val bare = new graft.sinks.HttpFhirStore(base, maxRetries = 2)
          val bareFailedLoud =
            try { bare.snapshot(s, "Patient").count(); 0L }
            catch { case _: IllegalStateException => 1L }
          val store = new graft.sinks.HttpFhirStore(base,
            auth = Some(authFor("s3cret")))
          val audit = new CnicsPipeline(s, CnicsFixtures.demo(s), store, "uw").run()
          val rows = audit.toSeq.map { case ((rt, a), n) => ("run", rt, a, n) } ++ Seq(
            ("auth", "token", "fetched", srv.tokenFetches.get().toLong),
            ("auth", "token", "rejected", srv.tokenRejects.get().toLong),
            ("auth", "request", "unauthorized", srv.unauthorized.get().toLong),
            ("auth", "job", "wrong_secret_aborted", wrongAborted),
            ("auth", "job", "unauthenticated_failed_loud", bareFailedLoud),
            ("store", "Patient", "count", srv.count("Patient")))
          rows.toDF("phase", "resource_type", "action", "n")
        } finally srv.stop()
      },
      Some("""SELECT * FROM (VALUES
             | ('run', 'Patient', 'insert', CAST(2 AS BIGINT)), ('run', 'Patient', 'update', 0), ('run', 'Patient', 'delete', 0),
             | ('run', 'Condition', 'insert', 2), ('run', 'Condition', 'update', 0), ('run', 'Condition', 'delete', 0),
             | ('run', 'MedicationRequest', 'insert', 1), ('run', 'MedicationRequest', 'update', 0), ('run', 'MedicationRequest', 'delete', 0),
             | ('run', 'Observation', 'insert', 3), ('run', 'Observation', 'update', 0), ('run', 'Observation', 'delete', 0),
             | ('auth', 'token', 'fetched', 1),
             | ('auth', 'token', 'rejected', 1),
             | ('auth', 'request', 'unauthorized', 2),
             | ('auth', 'job', 'wrong_secret_aborted', 1),
             | ('auth', 'job', 'unauthenticated_failed_loud', 1),
             | ('store', 'Patient', 'count', 2)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── SINGLE-STAGE transaction write (r15 verdict #7, SURVEY §3.2's
    //    flagged option): the pipeline's four resource types land in
    //    ONE distributed write job of MIXED-type transaction Bundles
    //    (subject-co-partitioned, parent-first within partitions) —
    //    the parent→child stage barrier gone — against a fixture
    //    server that ENFORCES referential integrity (a PUT whose
    //    subject resolves neither in store nor bundle 400s the whole
    //    bundle atomically). Pinned: tx run 1 inserts / run 2 updates
    //    exactly like the two-stage run, end state byte-equal to a
    //    control server written by the two-stage path, ZERO pipeline
    //    bundles rejected, and a hand-built orphan-child probe bundle
    //    IS rejected (the strict gate is real) without landing. ──
    QueryDef(
      "cnics_http_tx_audit",
      "one-stage mixed-type transaction write == two-stage run on a strict-referential-integrity server",
      (s, _) => {
        import s.implicits._
        val srvT = new graft.sinks.FhirFixtureServer(strictReferences = true)
        val portT = srvT.start()
        val srvC = new graft.sinks.FhirFixtureServer()
        val portC = srvC.start()
        try {
          val storeT = new graft.sinks.HttpFhirStore(s"http://localhost:$portT", maxRetries = 2)
          val tx1 = new CnicsPipeline(s, CnicsFixtures.demo(s), storeT, "uw").runTransactional()
          val tx2 = new CnicsPipeline(s, CnicsFixtures.demo(s), storeT, "uw").runTransactional()
          val pipelineRejects = srvT.refRejects.get().toLong
          val storeC = new graft.sinks.HttpFhirStore(s"http://localhost:$portC", maxRetries = 2)
          new CnicsPipeline(s, CnicsFixtures.demo(s), storeC, "uw").run()
          val endStateEqual = if (srvT.data.equals(srvC.data)) 1L else 0L
          // negative probe: an orphan child PUT must 400 atomically
          val badBundle =
            """{"resourceType":"Bundle","type":"transaction","entry":[
              |{"resource":{"resourceType":"Condition","id":"bad-1",
              |  "subject":{"reference":"Patient/nope"}},
              | "request":{"method":"PUT","url":"Condition/bad-1"}}]}""".stripMargin
          val c = java.net.http.HttpClient.newHttpClient()
          val resp = c.send(
            java.net.http.HttpRequest.newBuilder(
                java.net.URI.create(s"http://localhost:$portT"))
              .header("Content-Type", "application/fhir+json")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(badBundle))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          val probe400 = if (resp.statusCode() == 400) 1L else 0L
          val probeNotStored =
            if (srvT.data.containsKey("/Condition/bad-1")) 0L else 1L
          val rows =
            tx1.toSeq.map { case ((rt, a), n) => ("tx1", rt, a, n) } ++
            tx2.toSeq.map { case ((rt, a), n) => ("tx2", rt, a, n) } ++ Seq(
            ("tx", "store", "end_state_equal", endStateEqual),
            ("tx", "ref", "pipeline_bundles_rejected", pipelineRejects),
            ("tx", "ref", "bad_probe_400", probe400),
            ("tx", "ref", "bad_probe_not_stored", probeNotStored),
            ("store", "Patient", "count", srvT.count("Patient")))
          rows.toDF("phase", "resource_type", "action", "n")
        } finally { srvT.stop(); srvC.stop() }
      },
      Some("""SELECT * FROM (VALUES
             | ('tx1', 'Patient', 'insert', CAST(2 AS BIGINT)), ('tx1', 'Patient', 'update', 0), ('tx1', 'Patient', 'delete', 0),
             | ('tx1', 'Condition', 'insert', 2), ('tx1', 'Condition', 'update', 0), ('tx1', 'Condition', 'delete', 0),
             | ('tx1', 'MedicationRequest', 'insert', 1), ('tx1', 'MedicationRequest', 'update', 0), ('tx1', 'MedicationRequest', 'delete', 0),
             | ('tx1', 'Observation', 'insert', 3), ('tx1', 'Observation', 'update', 0), ('tx1', 'Observation', 'delete', 0),
             | ('tx2', 'Patient', 'insert', 0), ('tx2', 'Patient', 'update', 2), ('tx2', 'Patient', 'delete', 0),
             | ('tx2', 'Condition', 'insert', 0), ('tx2', 'Condition', 'update', 2), ('tx2', 'Condition', 'delete', 0),
             | ('tx2', 'MedicationRequest', 'insert', 0), ('tx2', 'MedicationRequest', 'update', 1), ('tx2', 'MedicationRequest', 'delete', 0),
             | ('tx2', 'Observation', 'insert', 0), ('tx2', 'Observation', 'update', 3), ('tx2', 'Observation', 'delete', 0),
             | ('tx', 'store', 'end_state_equal', 1),
             | ('tx', 'ref', 'pipeline_bundles_rejected', 0),
             | ('tx', 'ref', 'bad_probe_400', 1),
             | ('tx', 'ref', 'bad_probe_not_stored', 1),
             | ('store', 'Patient', 'count', 2)
             |) t(phase, resource_type, action, n)""".stripMargin)),

    // ── A5: standard-code CSV lists, loaded by the quote-stripping
    //    single-column reader the pipeline uses (cnics_to_fhir.py:
    //    190-193). Reads the bundled hand-written fixtures, quoted like
    //    the reference's files: 12 diagnosis names (two with embedded
    //    commas) and 10 medication rows with one duplicate, which the
    //    reader keeps (n_codes 10, n_distinct 9). The shipped reference
    //    lists (641 / 773 names) are checked by CnicsSourcesSpec when
    //    present. ──
    QueryDef(
      "a5_codelist_stats",
      "standard diagnosis/medication CSV code lists: row and distinct counts",
      (s, _) => {
        import s.implicits._
        val dx = CnicsCsv.loadCodeList(s,
          CnicsCsv.bundledCodeList("standard_diagnosis_codes.csv"))
        val med = CnicsCsv.loadCodeList(s,
          CnicsCsv.bundledCodeList("standard_medication_codes.csv"))
        Seq(
          ("diagnosis", dx.size.toLong, dx.distinct.size.toLong),
          ("medication", med.size.toLong, med.distinct.size.toLong)
        ).toDF("list_name", "n_codes", "n_distinct")
      },
      Some("""SELECT * FROM (VALUES
             | ('diagnosis', CAST(12 AS BIGINT), CAST(12 AS BIGINT)),
             | ('medication', CAST(10 AS BIGINT), CAST(9 AS BIGINT))
             |) t(list_name, n_codes, n_distinct)""".stripMargin)),

    // ── A6: crosswalk CSV semantics end-to-end — header row, literal
    //    'NULL' SitePatientId rows skipped (py:298), literal 'NULL'
    //    umrn treated as absent (py:302-303) while hmrn is taken
    //    VERBATIM (py:301), then the per-field last-wins merge: a
    //    later duplicate overwrites hmrn unconditionally but umrn only
    //    when present. ──
    QueryDef(
      "a6_crosswalk_lastwins",
      "crosswalk CSV load + per-field last-wins merge incl. literal-NULL quirks",
      (s, _) => {
        val tmp = java.nio.file.Paths.get(QueryDef.tempStoreDir("graft_xwalk"))
        val f = tmp.resolve("xwalk.csv")
        java.nio.file.Files.writeString(f,
          "hmrn,umrn,SitePatientId\nH1,U1,p1\nNULL,U2,p2\nH3,NULL,p1\nH9,U9,NULL\n")
        CnicsPipeline.crosswalkLastWins(CnicsCsv.loadCrosswalk(s, f.toString))
          .select("site_pat_id", "hmrn", "umrn") // the production merge itself
      },
      // p1: hmrn last-wins -> H3; the later NULL umrn keeps U1.
      // p2: literal-'NULL' hmrn emitted verbatim. The SitePatientId
      // 'NULL' row never loads.
      Some("""SELECT * FROM (VALUES
             | ('p1', 'H3', 'U1'),
             | ('p2', 'NULL', 'U2')
             |) t(site_pat_id, hmrn, umrn)""".stripMargin)),

    // ── A9/B4: the `site:id` patient-list text file round-trip
    //    (cnics_to_fhir.py:268-286) — quote escaping out and back,
    //    plus the reference's split(':')[1] truncation bug for ids
    //    containing a colon (bug-compatible by design). ──
    QueryDef(
      "a9_idlist_roundtrip",
      "patient-id list file write+read: quote escaping and the colon-truncation quirk",
      (s, _) => {
        import s.implicits._
        val tmp = QueryDef.tempStoreDir("graft_ids") + "/ids"
        val src = Seq(("uw", "p-1"), ("uw", "o'brien"), ("sea", "a:b"))
          .toDF("site", "id")
        CnicsCsv.writePatientIdList(src, "site", "id", tmp)
        CnicsCsv.readPatientIdList(s, tmp)
      },
      Some("""SELECT * FROM (VALUES
             | ('uw', 'p-1'),
             | ('uw', 'o''brien'),
             | ('sea', 'a')
             |) t(site, site_pat_id)""".stripMargin)),

    // ── A3/D2/D9/E4: the PRO-db fallback identifiers — first-seen-
    //    order distinct PatientIDs and MRNs across a patient's
    //    sessions (ordered dedup through the session join; NULL MRNs
    //    dropped, duplicates collapsed, order by session then
    //    arrival). Emitted as comma-joined lists so the ordered-set
    //    contract itself is the pinned value. ──
    QueryDef(
      "a3_pro_fallback_identifiers",
      "PRO fallback: ordered distinct pro patient-ids and MRNs per patient",
      (s, _) => {
        new CnicsPipeline(s, CnicsFixtures.demo(s),
            new graft.sinks.InMemoryFhirStore, "uw")
          .proFallback
          .select(col("PatientId"),
            array_join(transform(col("pro_pat_ids"),
              x => x.cast("string")), ",").as("pro_pat_ids"),
            array_join(col("pro_mrns"), ",").as("pro_mrns"))
      },
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), '900,901', 'MRN-A,MRN-B')
             |) t(PatientId, pro_pat_ids, pro_mrns)""".stripMargin))
  )
}
