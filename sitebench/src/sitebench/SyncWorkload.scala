package sitebench

import org.apache.spark.sql.functions._
import graft.pipeline.CnicsPipeline
import graft.sinks.{FhirFixtureServer, FhirStore, HttpFhirStore, ParquetFhirStore}

/** The two sync workloads. `full_sync` runs `CnicsPipeline.run()`
  * against a ParquetFhirStore; `delta_sync_http` runs
  * `CnicsPipeline.runIncremental` against an HttpFhirStore talking to
  * the in-process FhirFixtureServer. Measured syncs alternate between
  * the generated versions A and B, so every sync does the same work.
  *
  * Every sync is gated: its 12-counter audit must equal the generator's
  * closed form, the store's end state (rows and a (key, json) digest
  * per type) must equal that of a cold sync of the same version, and on
  * HTTP the wire counts must stay inside their closed form. */
final class SyncWorkload(ctx: Ctx, http: Boolean) {
  import SiteBench._
  private val spark = ctx.spark
  private val res = ctx.res
  private val tr = ctx.tr
  private val work = ctx.args.work
  private val site = new CnicsSite(if (http) HttpSite else FullSyncSite, ctx.args.seed)
  private val types = CnicsGen.Types.map(_._1)
  private val resourceLists = Map("Patient" -> "patients", "Condition" -> "conditions",
    "MedicationRequest" -> "medicationrequests", "Observation" -> "observations")
  private val partitions = spark.sparkContext.defaultParallelism
  private val dirs = scala.collection.mutable.Map[Char, String]()
  // HttpFhirStore defaults
  private val BundleSize = 100L
  private val IdBatch = 100L

  /** What the syncs run against: a store plus, on HTTP, the fixture
    * server behind it and the manifest directory. */
  private final case class Target(store: FhirStore, server: Option[FhirFixtureServer],
      port: Int, manifests: String, base: String)

  /** One gated sync: wall seconds and the fixture server's request counts. */
  private final case class Obs(secs: Double, posts: Long, gets: Long)

  /** Per type: (rows, xor of row hashes, sum of the hashes' low words). */
  private type State = Map[String, (Long, Long, Long)]

  private def pipeline(v: Char, store: FhirStore) =
    new CnicsPipeline(spark, CnicsGen.inputs(spark, dirs(v)), store, Site)

  /** The store's end state, digested like [[SourceCapture]] does. */
  private def state(t: Target): State = {
    val rows = t.server match {
      case Some(srv) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val out = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
        srv.data.forEach { (path, json) =>
          val key = mapper.readTree(json).path("identifier").path(0).path("value").asText("")
          out += ((path.split("/")(1), key, json))
        }
        import spark.implicits._
        out.toSeq.toDF("rt", "key", "json")
      case None =>
        types.filter(rt => new java.io.File(s"${t.base}/$rt").exists())
          .map(rt => spark.read.parquet(s"${t.base}/$rt").select(lit(rt).as("rt"), col("key"), col("json")))
          .reduceOption(_ unionByName _)
          .getOrElse(spark.emptyDataFrame.select(lit("").as("rt"), lit("").as("key"), lit("").as("json")))
    }
    val got = SourceCapture.digest(rows).toMap
    types.map(rt => rt -> got.getOrElse(rt, (0L, 0L, 0L))).toMap
  }

  private def newTarget(k: Int): Target = {
    val base = s"$work/store$k"
    if (http) {
      val srv = new FhirFixtureServer()
      val port = srv.start()
      Target(new HttpFhirStore(s"http://localhost:$port"), Some(srv), port, s"$work/manifest$k", base)
    } else Target(new ParquetFhirStore(base), None, 0, "", base)
  }

  private def wire(t: Target): (Long, Long) =
    t.server.map(s => (s.posts.get().toLong, s.gets.get().toLong)).getOrElse((0L, 0L))

  private def syncOnce(v: Char, t: Target): Map[(String, String), Long] =
    if (http) pipeline(v, t.store).runIncremental(t.manifests)
    else pipeline(v, t.store).run()

  /** Traced sync: the per-type calls run() / runIncremental() make,
    * each in its own span, against the span-recording store wrapper. */
  private def syncTraced(v: Char, t: Target): Map[(String, String), Long] = {
    val store = new TracingStore(t.store, tr)
    val p = pipeline(v, store)
    try types.flatMap { rt =>
      val counts = tr.span(s"pipeline.reconcile.$rt") {
        if (http) p.runIncremental(t.manifests, resourceList = Set(resourceLists(rt)))
          .collect { case ((`rt`, a), n) => a -> n }
        else rt match {
          case "Patient" => p.runPatients()
          case "Condition" => p.runConditions()
          case "MedicationRequest" => p.runMedications()
          case _ => p.runObservations()
        }
      }
      Seq("insert", "update", "delete").map(a => (rt, a) -> counts.getOrElse(a, 0L)) ++
        counts.get("error").map(n => (rt, "error") -> n)
    }.toMap
    finally store.release()
  }

  private def ceilDiv(a: Long, b: Long) = (a + b - 1) / b

  /** Closed-form wire cost of an incremental sync into `to`, as
    * ((POST lo, hi), (GET lo, hi)): per type ⌈changed/bundleSize⌉
    * POSTs and ⌈dirty/idBatch⌉ GETs, each plus at most one partial
    * batch per partition. */
  private def wireBounds(to: Char): ((Long, Long), (Long, Long)) = {
    val audit = site.expectedAudit(to, incremental = http)
    val dirty = site.expectedDirty(to)
    def bounds(n: Seq[Long], batch: Long) = (n.filter(_ > 0).map(ceilDiv(_, batch)).sum,
      n.filter(_ > 0).map(ceilDiv(_, batch) + partitions).sum)
    val changed = types.map(rt => Seq("insert", "update", "delete").map(a => audit((rt, a))).sum)
    (bounds(changed, BundleSize), bounds(types.map(dirty), IdBatch))
  }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(what)

  private def gatedSync(name: String, to: Char, t: Target, expected: Map[Char, State],
      traced: Boolean): Option[Obs] = res.op(name) {
    val (p0, g0) = wire(t)
    val (audit, secs) = timed {
      if (traced) tr.span("sync")(syncTraced(to, t)) else syncOnce(to, t)
    }
    val (p1, g1) = wire(t)
    val want = site.expectedAudit(to, incremental = http)
    check(audit == want, s"audit into $to: got $audit want $want")
    val got = state(t)
    check(got == expected(to), s"end state after sync into $to: got $got want ${expected(to)}")
    if (http) {
      val ((pLo, pHi), (gLo, gHi)) = wireBounds(to)
      check(p1 - p0 >= pLo && p1 - p0 <= pHi, s"POSTs ${p1 - p0} outside [$pLo, $pHi]")
      check(g1 - g0 >= gLo && g1 - g0 <= gHi, s"GETs ${g1 - g0} outside [$gLo, $gHi]")
    }
    Obs(secs, p1 - p0, g1 - g0)
  }

  def run(): Unit = {
    // Setup: generate A and B; capture their assembled sources as the
    // expected end states; seed the store with a cold sync of A; on HTTP
    // run an idle pass, which must leave the wire silent; then sync into
    // B once to warm the update and delete paths.
    val (_, genSecs) = timed(Seq('A', 'B').foreach { v =>
      val dir = s"$work/input-$v"
      CnicsGen.write(spark, site.tables(v), dir)
      dirs(v) = dir
    })
    val t = newTarget(0)
    try {
      val (expected, readySecs) = timed {
        val expected = Seq('A', 'B').map(v => v -> sourceState(v)).toMap
        res.op("seed_A") {
          val rows = site.expectedRows('A')
          val audit = syncOnce('A', t)
          val want = types.flatMap(rt => Seq((rt, "insert") -> rows(rt), (rt, "update") -> 0L,
            (rt, "delete") -> 0L)).toMap
          check(audit == want, s"cold sync of A: got $audit want $want")
          check(state(t) == expected('A'), s"cold store of A holds ${state(t)}, want ${expected('A')}")
        }
        if (http) res.op("idle_pass") {
          val (p0, g0) = wire(t)
          val audit = syncOnce('A', t)
          val (p1, g1) = wire(t)
          check(audit.values.forall(_ == 0L), s"idle pass changed the store: $audit")
          check(p1 == p0 && g1 == g0, s"idle pass made ${p1 - p0} POSTs and ${g1 - g0} GETs")
        }
        gatedSync("warmup_B", 'B', t, expected, traced = false)
        expected
      }
      ctx.setup(ctx.sessionS + genSecs + readySecs)
      res.note(f"session ${ctx.sessionS}%.2f s, input generation $genSecs%.2f s, " +
        f"seed + warm-up $readySecs%.2f s")
      if (ctx.args.trace) measureTraced(t, expected) else measure(t, expected)
    } finally t.server.foreach(_.stop())
  }

  /** End state a store must hold after syncing version `v`: the
    * pipeline's assembled source, captured by running it against
    * [[SourceCapture]], whose row counts must match the closed form. */
  private def sourceState(v: Char): State = res.op(s"source_$v") {
    val cap = new SourceCapture
    pipeline(v, cap).run()
    val rows = site.expectedRows(v)
    check(types.forall(rt => cap.state(rt)._1 == rows(rt)), s"source of $v: ${cap.state}, want $rows")
    cap.state.toMap
  }.getOrElse(Map.empty)

  /** Gated syncs, alternating from `startAt`, until `seconds` have
    * passed (at least `min`); returns how many ran. */
  private def loop(seconds: Double, t: Target, expected: Map[Char, State], traced: Boolean,
      startAt: Char, min: Int = MinSyncs)(observe: Obs => Unit): Int = {
    val t0 = System.nanoTime()
    var to = startAt
    var k = 0
    while (k < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      gatedSync(s"sync_${k}_$to", to, t, expected, traced).foreach(observe)
      to = if (to == 'A') 'B' else 'A'
      k += 1
    }
    k
  }

  private def measure(t: Target, expected: Map[Char, State]): Unit = {
    val syncs = scala.collection.mutable.ArrayBuffer[Obs]()
    loop(ctx.args.seconds, t, expected, traced = false, startAt = 'A')(syncs += _)
    if (syncs.nonEmpty) res.metric("op_p50_s", median(syncs.map(_.secs).toSeq), "s")
    res.note(s"${syncs.size} measured syncs: ${syncs.map(s => f"${s.secs}%.3f").mkString(" ")} s" +
      (if (http) s"; store requests per sync ${syncs.map(s => s.posts + s.gets).mkString(" ")}" else ""))
  }

  /** Traced run: half the time untraced (the overhead baseline), half
    * traced with the store wrapped and, on HTTP, the wire behind a
    * timing proxy; then the standalone source-scan and assembly layers. */
  private def measureTraced(t: Target, expected: Map[Char, State]): Unit = {
    val plain = scala.collection.mutable.ArrayBuffer[Double]()
    val n = loop(ctx.args.seconds / 2, t, expected, traced = false, startAt = 'A')(plain += _.secs)
    val proxy = t.server.map(_ => new TimingProxy(t.port))
    val viaProxy = proxy.fold(t)(px => t.copy(store = new HttpFhirStore(s"http://localhost:${px.port}")))
    val perSync = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var wire0 = proxy.map(_.snapshot).getOrElse(TimingProxy.Counts(0, 0, 0, 0))
    try loop(ctx.args.seconds / 2, viaProxy, expected, traced = true,
        startAt = if (n % 2 == 0) 'A' else 'B') { o =>
      val root = tr.spans.filter(_.name == "sync").last
      val wire1 = proxy.map(_.snapshot).getOrElse(wire0)
      perSync += syncLayers(root, o, wire1.minus(wire0))
      wire0 = wire1
    } finally proxy.foreach(_.stop())

    def standalone(f: => Unit): Double = median((1 to 3).map(_ => timed(f)._2))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val scan = standalone(CnicsGen.tableNames.foreach(n => noop(spark.read.parquet(s"${dirs('A')}/$n"))))
    val assembly = standalone(noop(pipeline('A', t.store).patientResources()))
    val tracedMedian = median(perSync.map(_("trace.op_s")).toSeq)
    Layers.report(res, perSync.toSeq, Map(
      "sources.scan_s" -> scan, "pipeline.patient_assembly_s" -> assembly,
      "trace.overhead_ratio" -> tracedMedian / median(plain.toSeq)))
    res.note(f"untraced syncs ${plain.map(x => f"$x%.3f").mkString(" ")} s; traced ${perSync.size}")
  }

  /** Layer values of one traced sync, from its span tree. */
  private def syncLayers(root: Span, o: Obs, wire: TimingProxy.Counts): Map[String, Double] = {
    val sub = tr.subtree(root)
    def total(name: String) = sub.filter(_.name == name)
    def secs(name: String) = total(name).map(tr.seconds).sum
    def rows(name: String) = total(name).map(_.attrs.getOrElse("rows", 0.0)).sum
    val written = rows("sinks.write")
    val rewritten = total("sinks.write").map(s => tr.sparkOf(s).outputRecords).sum.toDouble
    val perType = types.flatMap { rt =>
      sub.find(_.name == s"pipeline.reconcile.$rt").toSeq.flatMap { s =>
        Seq(s"pipeline.reconcile_s.$rt" -> tr.seconds(s), s"pipeline.jobs.$rt" -> tr.sparkOf(s).jobs.toDouble)
      }
    }
    val httpLayers = if (!http) Nil else Seq(
      "sinks.http_posts" -> wire.posts.toDouble, "sinks.http_gets" -> wire.gets.toDouble,
      "sinks.http_requests" -> (wire.posts + wire.gets).toDouble,
      "sinks.bundle_fill" -> (if (wire.posts == 0) 0.0 else wire.entries.toDouble / (wire.posts * BundleSize)),
      "sinks.server_handler_s" -> wire.upstreamNs / 1e9)
    (perType ++ httpLayers ++ Layers.spark(tr.sparkOf(root)) ++ Seq(
      "pipeline.assemble_classify_s" -> secs("pipeline.assemble_classify"),
      "sinks.snapshot_s" -> secs("sinks.snapshot"), "sinks.snapshot_rows" -> rows("sinks.snapshot"),
      "sinks.write_s" -> secs("sinks.write"), "sinks.rows_written" -> written,
      "sinks.write_amplification" -> (if (written == 0) 0.0 else rewritten / written),
      "trace.op_s" -> o.secs)).toMap
  }
}
