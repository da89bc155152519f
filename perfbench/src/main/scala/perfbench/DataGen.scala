package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.LocalDateTime
import scala.util.Random

/** Seeded generator of the star-schema tables the engine loads (`region`
  * … `embeddings`, the same names, column names and physical types as the
  * engine's test data). Every table is drawn in this JVM from one
  * `scala.util.Random` per table and written as a single parquet file, so
  * the same (seed, scale) always yields byte-identical inputs.
  *
  * `scale` follows the test data's scale factor: lineitem has about
  * 6,000,000 × scale rows.
  */
object DataGen {

  private val words = Vector("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "order", "data", "column", "join", "small", "big",
    "customer", "query", "stream", "filter", "group", "vector")
  private val adjectives = Vector("small", "red", "blue", "hot", "cold", "big",
    "green", "shiny", "old", "new")
  private val nouns = Vector("ring", "widget", "bolt", "gear", "spring", "nut",
    "pipe", "valve", "screw", "plate")
  private val segments = Vector("HOUSEHOLD", "FURNITURE", "MACHINERY",
    "AUTOMOBILE", "BUILDING")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "signup", "error", "view", "purchase")
  private val langs = Vector("en", "en", "en", "en", "de", "es", "fr", "zh")
  val dim = 64

  private def f(name: String, t: DataType) = StructField(name, t)
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(r: Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Writes the `only` tables under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double,
            only: Seq[String] = tables): Unit = {
    def n(atSf1: Double): Int = math.max(1, math.round(atSf1 * scale).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000)
    val nDocs = n(50000); val nVecs = n(50000)
    def rng(table: String) = new Random(seed * 1000003L + table.hashCode)
    def save(name: String, schema: StructType, rows: => Seq[Row]): Unit = if (only.contains(name)) {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (name, i) => Row(i, name) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng("customer")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999, 9999), segments(rc.nextInt(segments.size)))))

    val rs = rng("supplier")
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999, 9999))))

    val rp = rng("part")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(adjectives.size))} ${nouns(rp.nextInt(nouns.size))}",
        s"Brand#${1 + rp.nextInt(25)}",
        Vector("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")(rp.nextInt(5)),
        1 + rp.nextInt(50), math.round((900 + (i % 1000) * 0.1) * 100) / 100.0)))

    val ro = rng("orders")
    val orderStart = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Vector("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        day(ro, orderStart, 2404), priorities(ro.nextInt(5)))))

    // (l_orderkey, l_linenumber) is unique: every order has lines 1..k
    val rl = rng("lineitem")
    val shipStart = LocalDateTime.of(1995, 1, 2, 0, 0)
    val lines = for {
      o <- 0 until nOrders
      ln <- 1 to (1 + rl.nextInt(7))
    } yield {
      val qty = (1 + rl.nextInt(50)).toDouble
      Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, ln, qty,
        money(rl, 901, 105000), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        Vector("A", "N", "R")(rl.nextInt(3)), Vector("F", "O")(rl.nextInt(2)),
        day(rl, shipStart, 2498))
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)

    val re = rng("events")
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val offsets = Array.fill(nEvents)(re.nextLong(30L * 86400L * 1000000L)).sorted
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      offsets.indices.map(i => Row(i.toLong, evStart.plusNanos(offsets(i) * 1000L),
        re.nextInt(math.max(1, nEvents / 66)).toLong, eventTypes(re.nextInt(5)),
        money(re, 0, 20), s"""{"k": ${re.nextInt(100)}}""")))

    // one document in ten is a near-duplicate of an earlier one (one word
    // swapped), so the dedup families have clusters to find
    val rd = rng("documents")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      val t =
        if (i > 10 && rd.nextInt(10) == 0) {
          val ws = texts(rd.nextInt(i)).split(" ")
          ws(rd.nextInt(ws.length)) = words(rd.nextInt(words.size))
          ws.mkString(" ")
        } else Seq.fill(25 + rd.nextInt(60))(words(rd.nextInt(words.size))).mkString(" ")
      texts += t
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(rd.nextInt(langs.size)),
        s"src${rd.nextInt(20)}", texts(i).length.toLong)))

    // unit vectors scattered around one centre per label
    val rv = rng("embeddings")
    val centres = Array.fill(10, dim)(rv.nextGaussian())
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(d => centres(label)(d) + 1.5 * rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
