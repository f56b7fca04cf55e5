package sitebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Seeded generator for the star-schema corpus the registry queries
  * read (`graft.sources.Tables`): TPC-H-shaped relational tables plus
  * the `documents` and `embeddings` tables, at scale factor `sf`
  * (sf 1 = 1.5M orders). Rows are drawn on the driver from one
  * SplittableRandom, so a (seed, sf) pair always yields the same bytes
  * of data — the registry digests in registry_expected.json are pinned
  * to it. */
object RegistryGen {
  private val Words = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")
  private val Adjectives = Seq("red", "blue", "hot", "small", "large", "old", "green", "cold")
  private val Nouns = Seq("plate", "widget", "ring", "rod", "bolt", "gizmo")
  private val PartTypes = Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val Segments = Seq("HOUSEHOLD", "MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey int, r_name string",
    "nation" -> "n_nationkey int, n_name string, n_regionkey int",
    "customer" -> "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier" -> "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part" -> ("p_partkey long, p_name string, p_brand string, p_type string, p_size int, " +
      "p_retailprice double"),
    "orders" -> ("o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, " +
      "o_orderdate timestamp, o_orderpriority string"),
    "lineitem" -> ("l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, " +
      "l_quantity double, l_extendedprice double, l_discount double, l_tax double, " +
      "l_returnflag string, l_linestatus string, l_shipdate timestamp"),
    "documents" -> "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings" -> "vec_id long, embedding array<float>, label int"
  ).map { case (k, ddl) => k -> StructType.fromDDL(ddl) }

  val tables: Seq[String] = schemas.keys.toSeq.sorted

  def write(spark: SparkSession, sf: Double, seed: Long, dir: String): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def money(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(epochDay: Long) = java.time.Instant.ofEpochSecond(epochDay * 86400L)
    val d0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val orderDays = java.time.LocalDate.of(2001, 8, 1).toEpochDay - d0

    val nCust = math.max(15, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nOrders = math.max(150, (1500000 * sf).toInt)
    val nDocs = math.max(500, (50000 * sf).toInt)
    val nVecs = math.max(500, (20000 * sf).toInt)

    val rows = Map.newBuilder[String, Seq[Row]]
    rows += "region" -> Regions.indices.map(r => Row(r, Regions(r)))
    rows += "nation" -> (0 until 25).map(n => Row(n, s"NATION_$n", n % 5))
    rows += "customer" -> (0 until nCust).map(c => Row(c.toLong, f"Customer#$c%09d",
      rnd.nextInt(25), money(-999, 9999), pick(Segments)))
    rows += "supplier" -> (0 until nSupp).map(s => Row(s.toLong, f"Supplier#$s%09d",
      rnd.nextInt(25), money(-999, 9999)))
    rows += "part" -> (0 until nPart).map(p => Row(p.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
      s"Brand#${rnd.nextInt(25) + 1}", pick(PartTypes), rnd.nextInt(50) + 1, 900.0 + (p % 1000) / 10.0))
    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    (0 until nOrders).foreach { o =>
      val od = d0 + rnd.nextLong(orderDays)
      var total = 0.0
      (1 to rnd.nextInt(7) + 1).foreach { ln =>
        val qty = (rnd.nextInt(50) + 1).toDouble
        val price = money(900, 105000)
        total += price
        val ship = od + rnd.nextInt(120) + 1
        lines += Row(o.toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, ln, qty, price,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("R", "A", "N")),
          pick(Seq("O", "F")), day(ship))
      }
      orders += Row(o.toLong, rnd.nextInt(nCust).toLong, pick(Seq("P", "O", "F")),
        math.round(total * 100) / 100.0, day(od), pick(Priorities))
    }
    rows += "orders" -> orders.result()
    rows += "lineitem" -> lines.result()
    // ~5% of documents are near-duplicates of an earlier one (one word
    // swapped or appended), so the dedup queries find real pairs
    val texts = new Array[String](nDocs)
    rows += "documents" -> (0 until nDocs).map { d =>
      texts(d) =
        if (d > 10 && rnd.nextDouble() < 0.05) {
          val w = texts(rnd.nextInt(d)).split(" ")
          if (rnd.nextBoolean()) (w :+ "dup").mkString(" ")
          else { w(rnd.nextInt(w.length)) = pick(Words); w.mkString(" ") }
        } else Seq.fill(10 + rnd.nextInt(90))(pick(Words)).mkString(" ")
      Row(d.toLong, texts(d), pick(Langs), s"src${d % 20}", texts(d).length.toLong)
    }
    // 64-d unit vectors around ten label centroids
    val centroids = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    rows += "embeddings" -> (0 until nVecs).map { v =>
      val label = rnd.nextInt(10)
      val x = centroids(label).map(c => c + 0.6 * (rnd.nextDouble() * 2 - 1))
      val norm = math.sqrt(x.map(a => a * a).sum)
      Row(v.toLong, x.map(a => (a / norm).toFloat).toSeq, label)
    }
    rows.result().foreach { case (name, rs) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schemas(name))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
