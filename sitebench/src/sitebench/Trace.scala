package sitebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.sinks.FhirStore

/** Spark work attributed to one span's job group. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var executorCpuNs = 0L
  var gcMs = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; outputRecords += o.outputRecords
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L,
    attrs: scala.collection.mutable.Map[String, Double] = scala.collection.mutable.Map.empty)

/** Span recorder. Each span runs under its own Spark job group; a
  * listener files jobs, stages and task metrics under the group that
  * submitted them, so a span's Spark counters are its own group plus
  * its descendants'. Spans stay in memory until [[toJson]]. When
  * disabled, [[span]] only runs its body. */
final class Trace(spark: SparkSession, val enabled: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val t0 = System.nanoTime()
  val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var current = -1
  private val byGroup = new ConcurrentHashMap[String, SparkCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  if (enabled) sc.addSparkListener(this)

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      counters(g).synchronized { counters(g).jobs += 1 }
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.synchronized {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }

  /** Run `body` as a span named `name`, child of the current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, current, System.nanoTime())
      spans += s
      val parent = current
      val prevGroup = sc.getLocalProperty(GroupKey)
      current = s.id
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = parent
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "", false)
      }
    }

  /** Attach a measured count to the current span. */
  def attr(key: String, v: Double): Unit =
    if (enabled && current >= 0) {
      val a = spans(current).attrs
      a(key) = a.getOrElse(key, 0.0) + v
    }

  /** Spark counters of span `s` and all its descendants. */
  def sparkOf(s: Span): SparkCounters = {
    org.apache.spark.BenchBus.drain(sc)
    val total = new SparkCounters
    subtree(s).foreach(x => Option(byGroup.get(s"span-${x.id}")).foreach(total.add))
    total
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** `s` and all its descendants. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).toSeq.flatMap(walk)
    walk(s)
  }

  /** Every span with its timing, attributes and own-group Spark counters. */
  def toJson: String = {
    org.apache.spark.BenchBus.drain(sc)
    spans.map { s =>
      val c = Option(byGroup.get(s"span-${s.id}")).getOrElse(new SparkCounters)
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      (Seq(s""""id":${s.id}""", s""""name":"${s.name}"""", s""""parent":${s.parent}""",
        s""""start_s":${(s.startNs - t0) / 1e9}""", s""""end_s":${(s.endNs - t0) / 1e9}""",
        s""""jobs":${c.jobs}""", s""""stages":${c.stages}""",
        s""""shuffle_write_bytes":${c.shuffleWriteBytes}""", s""""spill_bytes":${c.spillBytes}""",
        s""""output_bytes":${c.outputBytes}""", s""""output_records":${c.outputRecords}""",
        s""""executor_cpu_ns":${c.executorCpuNs}""", s""""gc_ms":${c.gcMs}""") ++ attrs)
        .mkString("{", ",", "}")
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Delegating store that splits each store call into timed spans: a
  * snapshot frame is materialized (and cached, so the reconcile reads
  * it once) inside `sinks.snapshot`; the actions frame handed to the
  * sink is materialized inside `pipeline.assemble_classify` — by then
  * the snapshot is cached, so this is assembly plus Merge.classify —
  * and the inner write runs on it inside `sinks.write`. */
final class TracingStore(inner: FhirStore, tr: Trace) extends FhirStore with Serializable {
  private val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()

  private def materialized(df: => DataFrame): DataFrame = tr.span("sinks.snapshot") {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned += p
    tr.attr("rows", p.count().toDouble)
    p
  }

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame =
    materialized(inner.snapshot(spark, resourceType, identifierSystem))

  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame =
    materialized(inner.snapshotForSubjects(spark, resourceType, subjectIds))

  override def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String] = None): DataFrame =
    materialized(inner.snapshotForKeys(spark, resourceType, keys, identifierSystem))

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val acts = tr.span("pipeline.assemble_classify") {
      val p = actions.persist(StorageLevel.MEMORY_AND_DISK)
      tr.attr("rows", p.count().toDouble)
      p
    }
    try tr.span("sinks.write") {
      val counts = inner.applyActions(resourceType, acts)
      tr.attr("rows", counts.values.sum.toDouble)
      counts
    } finally { acts.unpersist(); () }
  }

  /** Drop the snapshot frames cached for the last sync. */
  def release(): Unit = { pinned.foreach(_.unpersist()); pinned.clear() }
}

/** Store with nothing in it that records, instead of writing, what
  * the pipeline hands it: a cold sync against it digests the
  * assembled source of every resource type. */
final class SourceCapture extends FhirStore with Serializable {
  val state = scala.collection.mutable.Map[String, (Long, Long, Long)]()

  private def empty(spark: SparkSession) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], FhirStore.snapshotSchema)

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = empty(spark)

  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = empty(spark)

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val d = SourceCapture.digest(actions.select(
      org.apache.spark.sql.functions.lit(resourceType).as("rt"), actions("key"), actions("json")))
    state(resourceType) = d.toMap.getOrElse(resourceType, (0L, 0L, 0L))
    Map("insert" -> state(resourceType)._1)
  }
}

object SourceCapture {
  import org.apache.spark.sql.functions._

  /** Per resource type of an (rt, key, json) frame: rows, xor of the
    * rows' xxhash64(key, json), and the sum of the hashes' low words. */
  def digest(rows: DataFrame): Seq[(String, (Long, Long, Long))] =
    rows.select(col("rt"), xxhash64(col("key"), col("json")).as("h"))
      .groupBy("rt").agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xffffffffL)))
      .collect().toSeq.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
}

/** HTTP proxy in front of the fixture server: forwards every request
  * and times the upstream call, which is the fixture server's handler
  * work plus one loopback hop — kept apart from engine time. Counts
  * POSTs, GETs and bundle entries. */
final class TimingProxy(upstreamPort: Int) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  val posts = new AtomicInteger(0)
  val gets = new AtomicInteger(0)
  val entries = new AtomicLong(0L)
  val upstreamNs = new AtomicLong(0L)
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  private val server = HttpServer.create(new java.net.InetSocketAddress("localhost", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    try {
      val body = ex.getRequestBody.readAllBytes()
      val isPost = ex.getRequestMethod == "POST"
      if (isPost) {
        posts.incrementAndGet()
        entries.addAndGet(TimingProxy.EntryMarker.findAllMatchIn(new String(body, "UTF-8")).size.toLong)
      } else gets.incrementAndGet()
      val uri = java.net.URI.create(s"http://localhost:$upstreamPort${ex.getRequestURI.toString}")
      val b = HttpRequest.newBuilder(uri)
      Option(ex.getRequestHeaders.getFirst("Content-Type")).foreach(b.header("Content-Type", _))
      val req = if (isPost) b.POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
        else b.GET().build()
      val t0 = System.nanoTime()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      upstreamNs.addAndGet(System.nanoTime() - t0)
      ex.sendResponseHeaders(resp.statusCode(), resp.body().length.toLong)
      ex.getResponseBody.write(resp.body())
    } finally ex.close()
  })
  server.start()

  def port: Int = server.getAddress.getPort
  def snapshot: TimingProxy.Counts =
    TimingProxy.Counts(posts.get().toLong, gets.get().toLong, entries.get(), upstreamNs.get())
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

object TimingProxy {
  final case class Counts(posts: Long, gets: Long, entries: Long, upstreamNs: Long) {
    def minus(o: Counts): Counts =
      Counts(posts - o.posts, gets - o.gets, entries - o.entries, upstreamNs - o.upstreamNs)
  }

  // every bundle entry carries exactly one request element
  private val EntryMarker = "\"request\":\\{".r
}
