package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{CnicsInputs, CnicsPipeline}
import graft.sinks.FhirStore

/** Structured Streaming surface for the CNICS pipeline itself
  * (SURVEY §7.5 / H — the reference is pure nightly batch): a
  * CDC-driven standing sync. The stream carries DIRTY SITE-PATIENT
  * KEYS (what a Debezium-style feed on the source tables emits); the
  * source tables themselves are read fresh per micro-batch for just
  * those keys, so each batch costs O(batch) assembly and O(batch)
  * store wire — the streaming twin of
  * [[CnicsPipeline.runPatientsForKeys]], with the same delete
  * semantics (a streamed key whose cohort row vanished deletes).
  */
object CnicsStreams {

  /** Standing Patient sync over a dirty-key stream. `inputs` is
    * BY-NAME: each micro-batch re-reads the current source state (the
    * CDC feed says WHICH patients changed; the source of record says
    * WHAT they look like now). `onBatch` observes each micro-batch's
    * audit counters (test/ops hook; the store itself is the output). */
  def patientSync(keyStream: DataFrame, inputs: => CnicsInputs,
      store: FhirStore, site: String,
      onBatch: (Long, Map[String, Long]) => Unit = (_, _) => (),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = keyStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val keys = batch.toDF()
        if (!keys.isEmpty) {
          val audit = new CnicsPipeline(keys.sparkSession, inputs, store, site)
            .runPatientsForKeys(keys)
          onBatch(id, audit)
        }
      }
    // a STANDING sync must survive a driver restart without replaying
    // or skipping CDC offsets — production callers pass a durable
    // checkpoint dir; tests with MemoryStream may omit it
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** The full-job standing sync: every resource type per micro-batch
    * (the streaming twin of [[CnicsPipeline.runForKeys]] — patients
    * key-scoped, children subject-scoped, departed patients' children
    * cascade through the Patient DELETE). */
  def sync(keyStream: DataFrame, inputs: => CnicsInputs,
      store: FhirStore, site: String,
      resourceList: Set[String] = CnicsPipeline.AllResources,
      onBatch: (Long, Map[(String, String), Long]) => Unit = (_, _) => (),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = keyStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val keys = batch.toDF()
        if (!keys.isEmpty) {
          val audit = new CnicsPipeline(keys.sparkSession, inputs, store, site)
            .runForKeys(keys, resourceList)
          onBatch(id, audit)
        }
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }
}
