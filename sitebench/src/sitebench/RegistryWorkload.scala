package sitebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: columns sorted by name,
  * floats rounded to 9 significant digits, rows sorted, SHA-256. */
object Digest {
  private val Nine = new java.math.MathContext(9)

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0) "0"
    else new java.math.BigDecimal(d).round(Nine).stripTrailingZeros().toString

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => sha.update(l.getBytes("UTF-8")); sha.update('\n'.toByte) }
    sha.digest().take(8).map(x => f"$x%02x").mkString
  }
}

/** `registry_heavy`: cold passes over the registry queries, memos
  * cleared before each pass as `graft.Bench` does. Every query's row
  * count and digest must equal the values in registry_expected.json,
  * which were recorded after a DuckDB check of the same outputs
  * against `SparkEntry.oracleSql` (see registry_oracle.py). */
final class RegistryWorkload(ctx: Ctx, expectedFile: String) {
  import SiteBench._
  private val spark: SparkSession = ctx.spark
  private val res = ctx.res
  private val tr = ctx.tr
  private val work = ctx.args.work

  private def expected: Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(expectedFile))
    require(root.path("sf").asDouble() == RegistrySf && root.path("data_seed").asLong() == RegistryDataSeed,
      s"$expectedFile was recorded for another corpus")
    RegistryQueries.map { q =>
      val e = root.path("queries").path(q)
      require(!e.isMissingNode, s"$expectedFile has no entry for $q")
      q -> (e.path("rows").asLong(), e.path("digest").asText())
    }.toMap
  }

  private def clearMemos(): Unit = {
    graft.queries.TextDedupQueries.clearMemo(spark)
    graft.queries.SimilarityStreamQueries.clearMemo(spark)
  }

  private def runQuery(name: String, dir: String): (StructType, Array[Row], Double) = {
    val ((schema, rows), secs) = timed {
      tr.span(s"queries.$name") {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        (df.schema, df.collect())
      }
    }
    (schema, rows, secs)
  }

  /** One cold pass (memos cleared) in the fixed order of
    * [[SiteBench.RegistryQueries]]; returns (query, seconds) of the
    * queries that passed their gate. */
  private def pass(k: Int, dir: String, want: Option[Map[String, (Long, String)]]): Seq[(String, Double)] = {
    clearMemos()
    RegistryQueries.flatMap { q =>
      res.op(s"pass${k}_$q") {
        val (schema, rows, secs) = runQuery(q, dir)
        want.foreach { w =>
          val got = (rows.length.toLong, Digest.of(schema, rows))
          if (got != w(q)) throw new IllegalStateException(s"$q: got $got want ${w(q)}")
        }
        q -> secs
      }
    }
  }

  def run(): Unit = {
    // Setup: generate the corpus, then one warm-up pass pays class
    // loading, code generation and most JIT, which would otherwise
    // swing the measured pass by ±10%.
    val dir = s"${ctx.args.record.getOrElse(work)}/registry"
    val (_, genSecs) = timed(RegistryGen.write(spark, RegistrySf, RegistryDataSeed, dir))
    val (_, warmSecs) = timed(pass(-1, dir, None))
    ctx.setup(ctx.sessionS + genSecs + warmSecs)
    res.note(f"session ${ctx.sessionS}%.2f s, corpus generation $genSecs%.2f s, warm-up pass $warmSecs%.2f s")
    ctx.args.record match {
      case Some(out) => record(dir, out)
      case None =>
        val want = res.op("expected_digests")(expected)
        if (ctx.args.trace) measureTraced(dir, want) else measure(dir, want)
    }
  }

  /** Passes until `seconds` have passed, at least [[SiteBench.MinPasses]]. */
  private def measure(dir: String, want: Option[Map[String, (Long, String)]]): Unit = {
    val totals = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (totals.size < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds)
      totals += pass(totals.size, dir, want).map(_._2).sum
    res.metric("op_p50_s", median(totals.toSeq), "s")
    res.note(s"${totals.size} passes: ${totals.map(x => f"$x%.3f").mkString(" ")} s")
  }

  /** Traced run: an untraced pass, then a traced one; the traced pass
    * gives the per-layer numbers, the pair the tracing overhead. */
  private def measureTraced(dir: String, want: Option[Map[String, (Long, String)]]): Unit = {
    def tracedPass(k: Int): Map[String, Double] = {
      val total = tr.span(s"pass$k")(pass(k, dir, want)).map(_._2).sum
      val spans = tr.subtree(tr.spans.filter(_.name == s"pass$k").last)
        .filter(_.name.startsWith("queries."))
      val perQuery = spans.flatMap { s =>
        val c = tr.sparkOf(s)
        Seq(s"${s.name}.s" -> tr.seconds(s), s"${s.name}.jobs" -> c.jobs.toDouble,
          s"${s.name}.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0)
      }
      (perQuery ++ Layers.spark(tr.sparkOf(tr.spans.filter(_.name == s"pass$k").last)) :+
        ("trace.op_s" -> total)).toMap
    }
    val plain = pass(0, dir, want).map(_._2).sum
    val traced = tracedPass(1)
    Layers.report(res, Seq(traced), Map("trace.overhead_ratio" -> traced("trace.op_s") / plain))
    res.note(f"untraced pass $plain%.3f s, traced pass ${traced("trace.op_s")}%.3f s")
  }

  /** Write each query's output and digest for the one-off DuckDB check. */
  private def record(dir: String, out: String): Unit = {
    clearMemos()
    val entries = RegistryQueries.map { q =>
      val (schema, rows, _) = runQuery(q, dir)
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.mode("overwrite").parquet(s"$out/results/$q")
      s""""$q": {"rows": ${rows.length}, "digest": "${Digest.of(schema, rows)}"}"""
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracles = RegistryQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsString(scala.jdk.CollectionConverters.MapHasAsJava(oracles).asJava))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/digests.json"),
      s"""{"sf": $RegistrySf, "data_seed": $RegistryDataSeed, "data_dir": "$dir",\n""" +
        s""" "queries": {\n  ${entries.mkString(",\n  ")}\n }}\n""")
    res.op("record")(())
  }
}
