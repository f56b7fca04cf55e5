package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pluggable FHIR resource store (SURVEY.md §2 A7/B1/B2).
  *
  * `snapshot` answers "what does the store currently hold" as a
  * (key, id) frame keyed on the business identifier — the right-hand
  * side of the reconcile merge. `applyActions` performs the writes.
  *
  * Contract for `actions`: columns `key` (business identifier value),
  * `id` (target resource id), `json` (serialized resource, null for
  * deletes), `merge_action` in {insert, update, delete}.
  */
trait FhirStore {
  /** Store snapshot, optionally scoped to resources carrying an
    * identifier under `identifierSystem` — the reference's site-scoped
    * Patient GET (`?identifier=<system>|`, cnics_to_fhir.py:322-326).
    * Scoping is a correctness requirement on a SHARED multi-site
    * store: the reconcile's delete set is store∖source, and an
    * unscoped snapshot would classify every other site's patients as
    * deletable orphans. */
  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame

  /** Snapshot of a child resource type restricted to the given subject
    * resources — the distributed twin of the reference's per-patient
    * child GETs (`cnics_to_fhir.py:543-546, 640-643, 723-726`).
    * `subjectIds` is a one-column frame of subject resource ids (the
    * `Patient/<id>` target without the type prefix). Scoping matters
    * for correctness, not just scale: the reconcile's delete set is
    * store∖source, and only store entries belonging to the cohort's
    * subjects are legitimately deletable. */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame

  /** Key-targeted snapshot: only the given business keys are looked
    * up — the read half of an incremental sync, where a dirty set of
    * K keys must cost O(K) on the wire, not O(store). `keys` is a
    * one-column frame of identifier values; `identifierSystem`
    * qualifies them (FHIR token `system|value`), which a shared
    * multi-site store REQUIRES — raw values collide across sites.
    * Default: the scoped full snapshot semi-joined to the keys (right
    * for scan-based stores, where the scan IS the fan-out); the HTTP
    * store overrides with batched token-OR searches. */
  def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String] = None): DataFrame =
    snapshot(spark, resourceType, identifierSystem)
      .join(keys.select(col(keys.columns.head).cast("string").as("key")),
        Seq("key"), "left_semi")

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long]

  /** Mixed-type SINGLE-STAGE write (r15 verdict #7): `actions` carries
    * every resource type of the job at once — (resource_type, key, id,
    * json, merge_action) — and the store applies them in one pass,
    * returning counts keyed (resource_type, action). Client-assigned
    * ids make this legal: children reference `Patient/<deterministic
    * id>`, so no store-returned id feeds a later stage.
    *
    * Default (scan-based stores without a transaction endpoint):
    * per-type [[applyActions]] in parent-first order — same end state,
    * still sequential per type. [[HttpFhirStore]] overrides with true
    * mixed-type transaction Bundles (ONE distributed write job, the
    * parent→child stage barrier gone). The distinct-type collect is a
    * ≤#resource-types driver read, not a data collect. */
  def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] = {
    val types = actions.select("resource_type").distinct()
      .collect().map(_.getString(0))
    types.sortBy(t => (if (t == "Patient") 0 else 1, t)).flatMap { rt =>
      applyActions(rt, actions.filter(col("resource_type") === rt)
        .select("key", "id", "json", "merge_action"))
        .map { case (a, n) => (rt, a) -> n }
    }.toMap
  }
}

object FhirStore {
  val snapshotSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("id", StringType)))
}

/** Driver-local store double for tests and goldens. Deterministic and
  * synchronous; the `collect()` here is test-harness plumbing, not the
  * data plane (the production sink is HttpFhirStore's partition-wise
  * writer). Thread-safe: every read and write of `data` holds its
  * monitor, because [[graft.pipeline.CnicsPipeline.runIncremental]]
  * applies the child types concurrently. Spark jobs (the action and
  * subject collects) run outside the lock. */
class InMemoryFhirStore extends FhirStore with Serializable {
  // (resourceType, key) -> (id, json); guarded by its own monitor
  val data: scala.collection.mutable.Map[(String, String), (String, String)] =
    scala.collection.mutable.Map()

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def hasSystem(json: String, sys: String): Boolean = {
      val ids = mapper.readTree(json).path("identifier")
      var found = false
      ids.forEach(n => if (n.path("system").asText("") == sys) found = true)
      found
    }
    val rows = data.synchronized {
      data.collect { case ((rt, key), (id, json)) if rt == resourceType &&
          identifierSystem.forall(hasSystem(json, _)) =>
        Row(key, id)
      }.toSeq
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FhirStore.snapshotSchema)
  }

  /** Subject-scoped snapshot: filters stored resources on their
    * serialized `subject.reference`. Driver-side like the rest of the
    * double (test-harness plumbing, not the data plane). */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val wanted = subjectIds.collect().map(r => "Patient/" + r.get(0).toString).toSet
    val rows = data.synchronized {
      data.collect { case ((rt, key), (id, json)) if rt == resourceType &&
          wanted.contains(mapper.readTree(json).path("subject").path("reference").asText("")) =>
        Row(key, id)
      }.toSeq
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FhirStore.snapshotSchema)
  }

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val rows = actions.select("key", "id", "json", "merge_action").collect()
    data.synchronized {
      rows.foreach { r =>
        val (key, id, json, act) = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        act match {
          case "delete" => data.remove((resourceType, key)); ()
          case _ => data((resourceType, key)) = (id, json)
        }
      }
      // HAPI cascade parity: the HTTP sink sends `?_cascade=delete` on
      // Patient deletes (cnics_to_fhir.py:333), so the double removes the
      // deleted patients' children too — all three store implementations
      // agree on the end state. One scan for the whole delete batch, not
      // one per deleted row.
      if (resourceType == "Patient") {
        val deletedRefs = rows.collect {
          case r if r.getString(3) == "delete" => s"Patient/${r.getString(1)}"
        }.toSet
        if (deletedRefs.nonEmpty) {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val doomed = data.collect { case (k, (_, j))
              if deletedRefs.contains(mapper.readTree(j).path("subject")
                .path("reference").asText("")) => k }.toSeq
          doomed.foreach(data.remove)
        }
      }
    }
    rows.groupBy(_.getString(3)).map { case (k, v) => k -> v.length.toLong }
  }
}

/** Parquet-backed store: the lakehouse form of the reconcile target.
  * Resources live as (key, id, json) rows in one parquet directory per
  * resource type; `snapshot` is a plain distributed scan (no paging at
  * all — the scan parallelism IS the fan-out), and `applyActions`
  * rewrites the directory copy-on-write: survivors (minus deletes)
  * plus upserts, written to a fresh version directory and swapped in.
  * Every operation is a Spark job over the full cluster; the driver
  * only moves directory pointers. Idempotent by construction — actions
  * keyed on the business identifier, PUT-semantics like the HTTP sink. */
class ParquetFhirStore(baseDir: String) extends FhirStore with Serializable {
  private def dir(rt: String) = s"$baseDir/$rt"

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    val d = new java.io.File(dir(resourceType))
    if (!d.exists())
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)
    val base = spark.read.parquet(d.toString)
    identifierSystem match {
      case None => base.select("key", "id")
      case Some(sys) =>
        // any identifier under the system qualifies (FHIR token search
        // semantics of `identifier=<system>|`): parse just the
        // identifier systems out of the stored JSON — a narrow
        // projection, scanned distributed like the rest of the snapshot
        base
          .withColumn("__ids", expr(
            "from_json(json, 'STRUCT<identifier: ARRAY<STRUCT<system: STRING>>>')"))
          .filter(exists(col("__ids.identifier"), i => i("system") === lit(sys)))
          .select("key", "id")
    }
  }

  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    val d = new java.io.File(dir(resourceType))
    if (!d.exists())
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)
    val idCol = subjectIds.columns.head
    val subj = subjectIds.select(
      concat(lit("Patient/"), col(idCol).cast("string")).as("__subj"))
    spark.read.parquet(d.toString)
      .withColumn("__subj", get_json_object(col("json"), "$.subject.reference"))
      .join(broadcast(subj), Seq("__subj"), "left_semi")
      .select("key", "id")
  }

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val spark = actions.sparkSession
    val acts = actions.select("key", "id", "json", "merge_action")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = acts.groupBy("merge_action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = new java.io.File(dir(resourceType))
    val current =
      if (d.exists()) spark.read.parquet(d.toString).select("key", "id", "json")
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("key", StringType), StructField("id", StringType),
          StructField("json", StringType))))
    // copy-on-write: survivors (keys not touched by any action) + upserts
    val touched = acts.select("key").distinct()
    val survivors = current.join(touched, Seq("key"), "left_anti")
    val upserts = acts.filter(col("merge_action") =!= "delete")
      .select("key", "id", "json")
    val next = survivors.unionByName(upserts)
    // HAPI cascade parity with the HTTP sink's `?_cascade=delete`
    // (cnics_to_fhir.py:333): Patient deletes take their children in
    // every sibling resource dir with them — one anti-join rewrite per
    // child type against the broadcast-sized deleted-subject set.
    // Children rewrite BEFORE the Patient dir swaps: a crash between
    // the two then leaves the deleted patients still in the store, so
    // the next run re-classifies the delete and re-fires the cascade
    // (idempotent no-op on the already-rewritten children). The
    // reverse order would orphan children permanently — the departed
    // patient has no cohort subject, so no later child reconcile can
    // reach them and the Patient delete never re-fires.
    if (resourceType == "Patient") {
      val deletedRefs = acts.filter(col("merge_action") === "delete")
        .select(concat(lit("Patient/"), col("id")).as("__subj"))
      if (!deletedRefs.isEmpty) {
        val root = new java.io.File(baseDir)
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName != "Patient" &&
            !f.getName.contains(".v") && !f.getName.endsWith(".bak"))
          .foreach { child =>
            val cur = spark.read.parquet(child.toString).select("key", "id", "json")
            val kept = cur
              .withColumn("__subj", get_json_object(col("json"), "$.subject.reference"))
              .join(broadcast(deletedRefs), Seq("__subj"), "left_anti")
              .select("key", "id", "json")
            swapIn(child.getName, kept)
          }
      }
    }
    swapIn(resourceType, next)
    acts.unpersist(blocking = false)
    counts
  }

  /** Copy-on-write swap: write `next` to a versioned tmp dir, then
    * bak-swap it into place (atomic-enough for a local filesystem;
    * object stores would commit a manifest instead). */
  private def swapIn(resourceType: String, next: DataFrame): Unit = {
    val tmp = dir(resourceType) + ".v" + System.nanoTime()
    next.write.mode("overwrite").parquet(tmp)
    val old = dir(resourceType)
    val bak = old + ".bak"
    if (new java.io.File(old).exists()) {
      new java.io.File(old).renameTo(new java.io.File(bak)); ()
    }
    new java.io.File(tmp).renameTo(new java.io.File(old))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bak))
    ()
  }
}

/** Client-credentials OAuth for auth-fronted FHIR stores — the
  * reference's `aidbox` store flavor (cnics_to_fhir.py:196-213): one
  * POST `?grant_type=client_credentials&client_id=…&client_secret=…`
  * to the auth endpoint (credentials as URL params over an empty body —
  * the reference's `requests.post(params=…)` wire shape), the
  * `access_token` parsed from the JSON reply, and `Authorization:
  * Bearer <token>` on every subsequent store call. A failed fetch
  * THROWS — the reference `quit()`s ("Unable to query FHIR server for
  * auth token"); a 4xx is a credential problem and fails immediately
  * (retrying cannot fix it), 5xx/connect errors get the store's
  * bounded-retry treatment.
  *
  * Scale shape: tokens cache PER JVM (companion map keyed on
  * (url, client, secret)), so the driver fetches once at store
  * construction (fail-fast, before any pipeline work) and each
  * executor JVM fetches once on first use instead of once per task;
  * a 401 mid-run triggers ONE bounded [[refresh]] (tokens expire)
  * before the request is failed for real. */
final class ClientCredentialsAuth(tokenUrl: String, clientId: String,
    clientSecret: String, maxRetries: Int = 5) extends Serializable {
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  private def key = (tokenUrl, clientId, clientSecret)

  def token(c: HttpClient): String =
    ClientCredentialsAuth.cache.computeIfAbsent(key, _ => fetch(c))

  /** Drop the cached token and fetch a fresh one — the 401 path. */
  def refresh(c: HttpClient): String = {
    val t = fetch(c)
    ClientCredentialsAuth.cache.put(key, t)
    t
  }

  private def fetch(c: HttpClient): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // Deliberate wire-parity tradeoff (cnics_to_fhir.py:196-213): the
    // reference sends the credentials as URL params over an empty
    // body, and the Aidbox endpoint it talks to expects exactly that —
    // but query strings are commonly logged by proxies/servers, so the
    // secret can land in access logs. An RFC 6749 §2.3.1 form body is
    // the hardening move if the server ever accepts it.
    val u = s"$tokenUrl?grant_type=client_credentials" +
      s"&client_id=${enc(clientId)}&client_secret=${enc(clientSecret)}"
    val req = HttpRequest.newBuilder(java.net.URI.create(u))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.noBody()).build()
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxRetries) {
      try {
        val r = c.send(req, HttpResponse.BodyHandlers.ofString())
        if (r.statusCode() < 400) {
          val tok = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(r.body()).path("access_token").asText(null)
          if (tok != null && tok.nonEmpty) return tok
          last = new IllegalStateException(
            s"auth reply from $tokenUrl carries no access_token")
        } else if (r.statusCode() < 500) {
          throw new IllegalStateException(
            s"unable to fetch FHIR auth token: HTTP ${r.statusCode()} from $tokenUrl")
        } else last = new RuntimeException(s"HTTP ${r.statusCode()}")
      } catch {
        case e: IllegalStateException => throw e
        case e: Throwable => last = e
      }
      attempt += 1
      Thread.sleep(200L * attempt)
    }
    throw new IllegalStateException(
      s"unable to fetch FHIR auth token from $tokenUrl", last)
  }
}

object ClientCredentialsAuth {
  // ConcurrentHashMap.computeIfAbsent, not TrieMap.getOrElseUpdate:
  // the latter may evaluate the fetch MORE THAN ONCE under a
  // concurrent first use (ADVICE r15 — an executor thundering herd
  // would fire duplicate token POSTs and break the "one fetch per
  // JVM" pin); computeIfAbsent runs the mapping function at most once
  // per key, with racers blocking on the winner.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), String]()
}

/** HTTP-backed store: the production sink/source.
  *
  * Scale design (vs the reference's single-threaded driver loop with
  * one request per row, cnics_to_fhir.py:339-354):
  *  - writes run on executors via `mapPartitions` with one pooled
  *    `HttpClient` per partition and bounded retries;
  *  - PUT-with-id upserts (client-assigned deterministic ids) make
  *    retries idempotent — no conditional-create dance needed;
  *  - snapshots of per-subject child resources fan out per partition
  *    (the distributed twin of the reference's per-patient GETs);
  *  - full-store snapshots fan page offsets out across executors
  *    (`?_count/_offset` after one `_summary=count` sizing call); for
  *    stores with no search total the fallback walks a slim
  *    `_elements=id` cursor (ids only on the driver) and fans the
  *    resource fetch out as `?_id=a,b,c` shard batches.
  *  - `auth` (the reference's `aidbox` flavor) puts `Authorization:
  *    Bearer` on every request, driver- and executor-side; the token
  *    is fetched ONCE at construction so wrong credentials abort the
  *    job before any pipeline work (the reference's quit()), and an
  *    unauthorized response is ALWAYS a loud failure — a swallowed
  *    401 would parse as an EMPTY store and make the reconcile
  *    classify every source row as insertable and every store row as
  *    a deletable orphan.
  * Driver never touches row data.
  */
class HttpFhirStore(baseUrl: String, maxRetries: Int = 5, bundleSize: Int = 100,
    pageSize: Int = 1000, idBatch: Int = 100,
    auth: Option[ClientCredentialsAuth] = None)
    extends FhirStore with Serializable {

  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.net.URI

  private def client(): HttpClient = HttpClient.newHttpClient()

  // fail-fast at job start (cnics_to_fhir.py:211-213): bad credentials
  // must abort before any pipeline work, not 401 mid-reconcile
  auth.foreach(_.token(client()))

  /** Bounded-retry send. The request is supplied as a BUILDER thunk so
    * each attempt can re-stamp the Authorization header — after a 401
    * triggers the single bounded token refresh, the retried request
    * must carry the NEW token, which an immutable prebuilt request
    * cannot. 401/403 semantics: one refresh when auth is configured,
    * then loud failure (never returned to a caller that would parse
    * the error body as an empty page). */
  private def send(c: HttpClient, mk: () => HttpRequest.Builder): HttpResponse[String] = {
    var attempt = 0
    var refreshed = false
    var last: Throwable = null
    while (attempt < maxRetries) {
      val b = mk()
      auth.foreach(a => b.header("Authorization", "Bearer " + a.token(c)))
      try {
        val r = c.send(b.build(), HttpResponse.BodyHandlers.ofString())
        if (r.statusCode() == 401 && auth.isDefined && !refreshed) {
          auth.get.refresh(c)
          refreshed = true
          last = new IllegalStateException(s"HTTP 401 (token refreshed once)")
        } else if (r.statusCode() == 401 || r.statusCode() == 403)
          throw new IllegalStateException(
            s"unauthorized (HTTP ${r.statusCode()}) from $baseUrl — " +
              (if (auth.isDefined) "token refresh did not help"
               else "store requires auth but none is configured"))
        else if (r.statusCode() < 500) return r
        else last = new RuntimeException(s"HTTP ${r.statusCode()}")
      } catch {
        case e: IllegalStateException => throw e
        case e: Throwable => last = e
      }
      attempt += 1
      Thread.sleep(200L * attempt)
    }
    throw last
  }

  /** Full-store snapshot, distributed: one driver `?_summary=count`
    * round-trip sizes the store, then page OFFSETS are partitioned
    * across executors and each partition fetches its
    * `?_count=N&_offset=k` pages with a pooled client — snapshot time
    * scales with executors, not store size. Servers without a search
    * total fall back to the sequential cursor pager (`link: next`),
    * which cannot be parallelized. Like any paged scan of a live store,
    * the snapshot is best-effort under concurrent mutation — identical
    * to the reference's one-shot search (cnics_to_fhir.py:215-217),
    * which also reads a moving store without isolation. */
  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val c = client()
    // FHIR token search `identifier=<system>|` — any identifier under
    // the system, any value (the reference's site scope, py:322). The
    // server applies the filter, so pages carry only in-scope rows.
    val idq = identifierSystem.map(s => "&identifier=" +
      java.net.URLEncoder.encode(s + "|", "UTF-8")).getOrElse("")
    val total: Long =
      try {
        val r = send(c, () => HttpRequest.newBuilder(
          URI.create(s"$baseUrl/$resourceType?_summary=count&_format=json$idq")).GET())
        val t = mapper.readTree(r.body()).path("total")
        if (t.isNumber) t.asLong() else -1L
      } catch { case _: Throwable => -1L }
    if (total < 0L) return snapshotCursor(spark, resourceType, idq)
    if (total == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)

    val ps = math.max(1, pageSize)
    val offsets = 0L.until(total, ps.toLong)
    val url = baseUrl
    import spark.implicits._
    spark.createDataset(offsets)
      .repartition(math.min(offsets.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { offs =>
        val pc = HttpClient.newHttpClient()
        val pm = new com.fasterxml.jackson.databind.ObjectMapper()
        offs.flatMap { off =>
          // _sort=_id: FHIR leaves search result order UNSPECIFIED
          // without an explicit sort, and offset pages of an unordered
          // search may drop or duplicate rows across pages even on a
          // static store. Pinning the order is a requirement of this
          // parallel pager; servers that cannot sort should take the
          // sequential cursor fallback instead.
          val r = send(pc, () => HttpRequest.newBuilder(URI.create(
            s"$url/$resourceType?_count=$ps&_offset=$off&_sort=_id&_format=json$idq")).GET())
          val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
          pm.readTree(r.body()).path("entry").forEach { e =>
            val res = e.path("resource")
            val key = res.path("identifier").path(0).path("value").asText(null)
            val id = res.path("id").asText(null)
            if (key != null && id != null) out += ((key, id))
          }
          out
        }
      }.toDF("key", "id")
  }

  /** Keyspace-sharded fallback for stores that report no search total.
    *
    * The `link: next` walk itself cannot be parallelized — each page URL
    * comes from the previous response — so it is split into two phases:
    *
    *  1. a slim driver cursor walks the ID INDEX (`_elements=id`), so
    *     the driver accumulates only resource-id strings — per-row
    *     metadata (~16 bytes), never resource bodies. Servers that
    *     ignore `_elements` just send fatter pages; ids are still all
    *     the driver keeps.
    *  2. the ids fan out across executors, and each partition bulk-
    *     fetches its shard with standard `?_id=a,b,c` token-OR searches
    *     (`idBatch` ids per request, pooled client).
    *
    * The resource fetch — the real byte cost — is distributed over >1
    * partition exactly like the offset pager; only the O(n)·16-byte id
    * walk stays sequential. Reference behavior this replaces: the
    * driver-buffered one-shot search of `cnics_to_fhir.py:215-217`. */
  private def snapshotCursor(spark: SparkSession, resourceType: String,
      idq: String = ""): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val c = client()
    val ids = scala.collection.mutable.ArrayBuffer[String]()
    // the id walk carries the identifier-system scope; the `?_id=`
    // shard fetches below need no re-scoping (their ids came from it)
    var url = s"$baseUrl/$resourceType?_elements=id&_count=${math.max(1, pageSize)}&_format=json$idq"
    while (url != null) {
      val r = send(c, () => HttpRequest.newBuilder(URI.create(url)).GET())
      val root = mapper.readTree(r.body())
      root.path("entry").forEach { e =>
        val id = e.path("resource").path("id").asText(null)
        if (id != null) ids += id
      }
      url = null
      root.path("link").forEach { l =>
        if (l.path("relation").asText() == "next") url = l.path("url").asText()
      }
    }
    if (ids.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)
    val base = baseUrl
    val rt = resourceType
    val bsz = math.max(1, idBatch)
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (ids.size + bsz - 1) / bsz))
    import spark.implicits._
    spark.createDataset(ids.toSeq)
      .repartition(nParts)
      .mapPartitions { part =>
        val pc = HttpClient.newHttpClient()
        val pm = new com.fasterxml.jackson.databind.ObjectMapper()
        part.grouped(bsz).flatMap { g =>
          val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
          // a server may cap _count below the requested batch size (the
          // FHIR spec lets it override the client's count), so each
          // shard fetch follows link:next like every other pager here —
          // otherwise entries past the first page vanish silently
          var u = s"$base/$rt?_id=${g.mkString(",")}&_count=${g.size}&_format=json"
          while (u != null) {
            val r = send(pc, () => HttpRequest.newBuilder(URI.create(u)).GET())
            val root = pm.readTree(r.body())
            root.path("entry").forEach { e =>
              val res = e.path("resource")
              val key = res.path("identifier").path(0).path("value").asText(null)
              val id = res.path("id").asText(null)
              if (key != null && id != null) out += ((key, id))
            }
            u = null
            root.path("link").forEach { l =>
              if (l.path("relation").asText() == "next") u = l.path("url").asText()
            }
          }
          out
        }
      }.toDF("key", "id")
  }

  /** Distributed per-subject child snapshot: the cohort's subject ids
    * fan out across executors via `mapPartitions`; each partition runs
    * one pooled client issuing paged `?subject=Patient/<id>` searches
    * and emits (key, id) rows. No driver-side buffering — the store
    * page loop runs where the rows land, and the snapshot scales with
    * cohort partitions instead of total store size. */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    val url = baseUrl
    import spark.implicits._
    val idCol = subjectIds.columns.head
    subjectIds.select(col(idCol).cast("string")).as[String]
      .mapPartitions { sids =>
        val c = HttpClient.newHttpClient()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        sids.flatMap { sid =>
          val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
          var u = s"$url/$resourceType?subject=Patient/$sid&_count=1000&_format=json"
          while (u != null) {
            val r = send(c, () => HttpRequest.newBuilder(URI.create(u)).GET())
            val root = mapper.readTree(r.body())
            root.path("entry").forEach { e =>
              val res = e.path("resource")
              val key = res.path("identifier").path(0).path("value").asText(null)
              val id = res.path("id").asText(null)
              if (key != null && id != null) out += ((key, id))
            }
            u = null
            root.path("link").forEach { l =>
              if (l.path("relation").asText() == "next") u = l.path("url").asText()
            }
          }
          out
        }
      }.toDF("key", "id")
  }

  /** Key-targeted snapshot over the wire: the dirty keys fan out
    * across executors and each partition looks its shard up with
    * system-qualified token-OR searches
    * (`?identifier=sys|a,sys|b,...`, `idBatch` tokens per request,
    * link-next paging per request) — the incremental-sync read path,
    * O(dirty) HTTP cost instead of a full scoped-store page walk.
    * System qualification is mandatory on shared stores: raw values
    * collide across sites (two sites both have a patient "001"). */
  override def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String] = None): DataFrame = {
    val url = baseUrl
    val batchN = math.max(1, idBatch)
    val sysPrefix = identifierSystem.map(_ + "|").getOrElse("")
    import spark.implicits._
    val keyCol = keys.columns.head
    keys.select(col(keyCol).cast("string")).distinct().as[String]
      .mapPartitions { ks =>
        val c = HttpClient.newHttpClient()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        ks.grouped(batchN).flatMap { batch =>
          val tokens = batch
            .map(v => java.net.URLEncoder.encode(sysPrefix + v, "UTF-8"))
            .mkString(",")
          val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
          var u = s"$url/$resourceType?identifier=$tokens&_count=1000&_format=json"
          while (u != null) {
            val r = send(c, () => HttpRequest.newBuilder(URI.create(u)).GET())
            val root = mapper.readTree(r.body())
            root.path("entry").forEach { e =>
              val res = e.path("resource")
              val key = res.path("identifier").path(0).path("value").asText(null)
              val id = res.path("id").asText(null)
              if (key != null && id != null) out += ((key, id))
            }
            u = null
            root.path("link").forEach { l =>
              if (l.path("relation").asText() == "next") u = l.path("url").asText()
            }
          }
          out
        }
      }.toDF("key", "id")
  }

  /** Executor-side writes; returns action counts.
    *
    * Rows are batched into FHIR `transaction` Bundles of `bundleSize`
    * entries POSTed to the store base — N rows cost ⌈N/bundleSize⌉
    * HTTP round-trips instead of N (the scale form of the reference's
    * keep-alive session, cnics_to_fhir.py:246-247). Entries are
    * PUT-with-id upserts / DELETEs, so a failed bundle retries
    * idempotently as a whole. */
  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val url = baseUrl
    val retries = maxRetries
    val bsz = math.max(1, bundleSize)
    val bearer = auth // local capture: the write closure ships no `this`
    import org.apache.spark.sql.Encoders
    val counts = actions.select("key", "id", "json", "merge_action")
      .mapPartitions { rows =>
        val c = HttpClient.newHttpClient()
        val byAction = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        rows.grouped(bsz).foreach { batch =>
          val sb = new StringBuilder("""{"resourceType":"Bundle","type":"transaction","entry":[""")
          var first = true
          batch.foreach { r =>
            val (id, json, act) = (r.getString(1), r.getString(2), r.getString(3))
            if (!first) sb.append(',')
            first = false
            // Patient deletes cascade to the patient's child resources
            // (reference parity: cnics_to_fhir.py:333 appends
            // `?_cascade=delete`) — without it, a HAPI store with
            // referential integrity rejects the delete, and with it off
            // the children silently orphan.
            val cascade = if (resourceType == "Patient") "?_cascade=delete" else ""
            if (act == "delete")
              sb.append(s"""{"request":{"method":"DELETE","url":"$resourceType/$id$cascade"}}""")
            else
              sb.append(s"""{"resource":$json,"request":{"method":"PUT","url":"$resourceType/$id"}}""")
          }
          sb.append("]}")
          var attempt = 0
          var done = false
          var refreshed = false
          var last: Throwable = null
          while (!done && attempt < retries) {
            // built per attempt: a 401-triggered token refresh must
            // re-stamp the Authorization header on the retried bundle
            val b = HttpRequest.newBuilder(URI.create(url))
              .header("Content-Type", "application/fhir+json;charset=utf-8")
              .POST(HttpRequest.BodyPublishers.ofString(sb.toString))
            bearer.foreach(a => b.header("Authorization", "Bearer " + a.token(c)))
            try {
              val resp = c.send(b.build(), HttpResponse.BodyHandlers.ofString())
              if (resp.statusCode() < 400) done = true
              else if (resp.statusCode() == 401 && bearer.isDefined && !refreshed) {
                bearer.get.refresh(c)
                refreshed = true
                last = new RuntimeException("HTTP 401 (token refreshed once)")
              } else last = new RuntimeException(
                s"HTTP ${resp.statusCode()} for bundle of ${batch.size} $resourceType")
            } catch { case e: Throwable => last = e }
            if (!done) { attempt += 1; Thread.sleep(200L * attempt) }
          }
          if (!done) throw last
          batch.foreach(r => byAction(r.getString(3)) += 1L)
        }
        byAction.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    counts.groupBy("_1").agg(sum("_2").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** TRUE single-stage mixed-type write (r15 verdict #7, SURVEY §3.2's
    * flagged design): every resource type's actions land in ONE
    * distributed write job of mixed-type transaction Bundles — the
    * parent→child stage barrier the per-type [[applyActions]]
    * sequencing imposes is gone from the job DAG.
    *
    * What makes it sound on a server WITH referential integrity:
    *  - client-assigned deterministic ids (children reference
    *    `Patient/<id>` literally — no store-returned id dependency,
    *    no urn:uuid indirection needed for PUT-with-id entries;
    *    urn:uuid is the POST-create variant of the same design);
    *  - rows CO-PARTITION on their subject (`subject.reference`,
    *    a Patient row grouping with its own children), so a parent
    *    and its children land in one partition;
    *  - within a partition rows sort (subject, parent-first), so a
    *    child's Patient entry rides the SAME bundle or an EARLIER one
    *    of that partition — and bundles post sequentially per
    *    partition, so by the time a child-bearing bundle arrives its
    *    parent is either in it or already committed. The strict-
    *    reference fixture server 400s any violation, making the
    *    ordering a tested contract (`cnics_http_tx_audit`).
    *
    * Patient DELETEs keep `?_cascade=delete` (reference parity);
    * orphan-child DELETEs may race the cascade across partitions, but
    * deletes are idempotent and target disjoint end states. */
  override def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] = {
    val url = baseUrl
    val retries = maxRetries
    val bsz = math.max(1, bundleSize)
    val bearer = auth // local capture: the write closure ships no `this`
    import org.apache.spark.sql.Encoders
    val counts = actions
      .withColumn("subject_key", coalesce(
        get_json_object(col("json"), "$.subject.reference"),
        concat(lit("Patient/"), col("id"))))
      .withColumn("type_rank",
        when(col("resource_type") === "Patient", 0).otherwise(1))
      .repartition(col("subject_key"))
      .sortWithinPartitions(col("subject_key"), col("type_rank"), col("id"))
      .select("resource_type", "id", "json", "merge_action")
      .mapPartitions { rows =>
        val c = HttpClient.newHttpClient()
        val byAction = scala.collection.mutable
          .Map[(String, String), Long]().withDefaultValue(0L)
        rows.grouped(bsz).foreach { batch =>
          val sb = new StringBuilder("""{"resourceType":"Bundle","type":"transaction","entry":[""")
          var first = true
          batch.foreach { r =>
            val (rt, id, json, act) =
              (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
            if (!first) sb.append(',')
            first = false
            val cascade = if (rt == "Patient") "?_cascade=delete" else ""
            if (act == "delete")
              sb.append(s"""{"request":{"method":"DELETE","url":"$rt/$id$cascade"}}""")
            else
              sb.append(s"""{"resource":$json,"request":{"method":"PUT","url":"$rt/$id"}}""")
          }
          sb.append("]}")
          var attempt = 0
          var done = false
          var refreshed = false
          var last: Throwable = null
          while (!done && attempt < retries) {
            val b = HttpRequest.newBuilder(URI.create(url))
              .header("Content-Type", "application/fhir+json;charset=utf-8")
              .POST(HttpRequest.BodyPublishers.ofString(sb.toString))
            bearer.foreach(a => b.header("Authorization", "Bearer " + a.token(c)))
            try {
              val resp = c.send(b.build(), HttpResponse.BodyHandlers.ofString())
              if (resp.statusCode() < 400) done = true
              else if (resp.statusCode() == 401 && bearer.isDefined && !refreshed) {
                bearer.get.refresh(c)
                refreshed = true
                last = new RuntimeException("HTTP 401 (token refreshed once)")
              } else last = new RuntimeException(
                s"HTTP ${resp.statusCode()} for mixed bundle of ${batch.size}")
            } catch { case e: Throwable => last = e }
            if (!done) { attempt += 1; Thread.sleep(200L * attempt) }
          }
          if (!done) throw last
          batch.foreach(r => byAction((r.getString(0), r.getString(3))) += 1L)
        }
        byAction.iterator.map { case ((rt, a), n) => (rt, a, n) }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
    counts.groupBy("_1", "_2").agg(sum("_3").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }
}

object HttpFhirStore {
  /** The reference's store-flavor dispatch (cnics_to_fhir.py:195-213):
    * `FhirStore=hapi` → unauthenticated `HapiFhirUrl`; `FhirStore=
    * aidbox` → `AidboxFhirUrl` behind client-credentials auth against
    * `AidboxAuthUrl`, with the reference's fixed client id
    * (`client-cnics-crud`, py:204) and the secret from secrets.ini
    * `[FHIR] AidboxAuthPw`. Settings values are quote-stripped by
    * [[graft.config.IniConfig]] exactly like the reference's
    * `.strip('"')`. Construction fail-fasts on the token fetch (the
    * reference `quit()`s). */
  def fromSettings(settingsText: String, secretsText: String): HttpFhirStore = {
    val opt = graft.config.IniConfig.parse(settingsText)
      .getOrElse("Options", Map.empty)
    def req(k: String): String =
      opt.getOrElse(k, sys.error(s"settings [Options] missing $k"))
    req("FhirStore") match {
      case "hapi" => new HttpFhirStore(req("HapiFhirUrl"))
      case "aidbox" =>
        val secret = graft.config.IniConfig.parse(secretsText)
          .getOrElse("FHIR", Map.empty)
          .getOrElse("AidboxAuthPw", sys.error("secrets [FHIR] missing AidboxAuthPw"))
        new HttpFhirStore(req("AidboxFhirUrl"),
          auth = Some(new ClientCredentialsAuth(
            req("AidboxAuthUrl"), "client-cnics-crud", secret)))
      case other => sys.error(s"unknown FhirStore flavor '$other' (hapi|aidbox)")
    }
  }
}
