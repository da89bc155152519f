package perfbench

import graft.Tables
import graft.functions.TokenCodec
import graft.operators.{Listing, Multipart, Scanner}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.util.Random

/** `serve`: one client in a closed loop sends metadata requests through the
  * public listing, multipart and scanner operators, each over a freshly
  * resolved `Tables.objects` / `Tables.multipartParts`, as the registry
  * bodies do. Every page is checked against a plain-Scala reference built
  * from the collected key set. A lap is one request of each kind at each
  * prefix depth it is sent with.
  *
  * Not among BENCHMARK.json's workloads, because its figures are not
  * steady enough between runs: a request is a few hundred milliseconds of
  * mostly driver-side work, so its latency follows the host's speed from
  * one minute to the next, and the median of a lap falls on a gap between
  * the cheap and the costly request kinds. Its layers (resolution,
  * planning, execution, scans) are measured on `ingest` as well. Run it by
  * hand with `--workload serve`. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var dir: String = _
  private var ref: Reference = _
  private var rng: Random = _

  def stage(d: String): Unit = DataGen.write(spark, d, DataSeed, Scale, Seq("lineitem"))

  def fixtures(d: String): Unit = {
    dir = d
    Tables.objects(spark, d)
    Tables.multipartParts(spark, d)
  }

  override def prepare(): Unit =
    ref = new Reference(Tables.objects(spark, dir).collect(), Tables.multipartParts(spark, dir).collect())

  /** One request of each kind loads every code path; laps after it keep
    * getting faster while the JIT compiles the hot ones (5.1, 3.9, 3.6,
    * 3.2, 3.2 s on 4 cores), and more so on a slower host, so whole laps
    * follow before timing starts. */
  def warmUp(p: Phase): Unit = {
    rng = new Random(ctx.seed)
    run(Lap.distinctBy(_._1), p, record = false)
    (0 until WarmLaps).foreach(_ => run(Lap, p, record = false))
  }

  def measure(seconds: Double, p: Phase): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) run(Lap, p, record = true)
  }

  /** Sends `requests` in a seed-shuffled order; a recorded run is one lap. */
  private def run(requests: Vector[(String, Int)], p: Phase, record: Boolean): Unit = {
    var lapNs = 0L
    rng.shuffle(requests).foreach { case (kind, scope) =>
      val req = ref.request(kind, scope, rng)
      val t0 = System.nanoTime()
      val rows = tracer.op(kind) {
        val rel = tracer.span("tables", req.table) {
          if (req.table == "parts") Tables.multipartParts(spark, dir) else Tables.objects(spark, dir)
        }
        val df = tracer.span("query", kind)(req.build(rel))
        tracer.span("exec", "collect")(df.collect())
      }
      val ns = System.nanoTime() - t0
      lapNs += ns
      p.attempted += 1
      val got = rows.toSeq.map(_.toSeq)
      val ok = if (req.ordered) got == req.expected else sortRows(got) == sortRows(req.expected)
      if (!ok) p.fail(s"serve ${req.describe}: ${got.size} rows, expected ${req.expected.size}")
      if (record) {
        p.ops += 1
        p.busyS += ns / 1e9
        p.latMs += ns / 1e6
        p.rowsReturned += rows.length
      }
    }
    if (record) p.lapS += lapNs / 1e9
  }
}

object Serve {
  /** The objects relation is fixed across runs; the seed draws the requests. */
  val DataSeed = 11L
  val Scale = 0.005
  val WarmLaps = 2
  /** One lap: every request kind at each prefix depth it is sent with
    * (0 = bucket root, 1 = first-level folder, 2 = second-level folder),
    * so every run sends the same mix; the seed draws the folders, cursors
    * and keys within each.
    *
    * The mix is a coverage choice, not measured traffic: no request log of
    * the reference is at hand, so the weights (5 of 13 listObjectsV2, 2
    * legacy searches, 2 keyset searches, 2 sorted pages, 1 listParts, 1
    * findObjects) only make sure that every operator and prefix depth is
    * timed in every lap. The same holds for the Zipf skew of buckets and
    * folders, the recency bias of cursors and the 16 + 4 keys of a
    * findObjects batch. */
  val Lap: Vector[(String, Int)] = Vector(
    "list_v2_delimited" -> 0, "list_v2_delimited" -> 1, "list_v2_delimited" -> 2,
    "list_v2_flat" -> 1, "list_v2_flat" -> 2,
    "search_legacy" -> 1, "search_legacy" -> 2,
    "search_by_timestamp" -> 0, "search_by_timestamp" -> 1,
    "sorted_listing_page" -> 1, "sorted_listing_page" -> 1,
    "list_parts" -> 0, "find_objects" -> 0)
  /** The listing operators' default `limit` (`Listing`). */
  private val PageSize = 100
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final case class Request(kind: String, table: String, describe: String, ordered: Boolean,
                           build: DataFrame => DataFrame, expected: Seq[Seq[Any]])

  private def sortRows(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("\u0001")).sorted

  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def tsString(t: Timestamp): String =
    LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).format(tsFormat)
  private def parseTs(s: String): Long =
    LocalDateTime.parse(s, tsFormat).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private def truncMs(us: Long): Long = Math.floorDiv(us, 1000L) * 1000L

  /** Zipf-skewed rank in [0, n): rank r has weight 1 / (r + 1). */
  private def zipf(rng: Random, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = rng.nextDouble() * h
    var r = 0
    while (r < n - 1 && u > 1.0 / (r + 1)) { u -= 1.0 / (r + 1); r += 1 }
    r
  }

  /** The collected key set and the operators' semantics in plain Scala. */
  final class Reference(objectRows: Array[Row], partRows: Array[Row]) {
    private val oSchema = objectRows.head.schema
    private val iName = oSchema.fieldIndex("name")
    private val iBucket = oSchema.fieldIndex("bucket_id")
    private val iSize = oSchema.fieldIndex("size")
    private val iCreated = oSchema.fieldIndex("created_at")
    private val iUpdated = oSchema.fieldIndex("updated_at")

    final class Obj(val row: Row) {
      val name: String = row.getString(iName)
      val bucket: String = row.getString(iBucket)
      def size: Any = row.get(iSize)
      val created: Timestamp = row.getTimestamp(iCreated)
      def ts(c: String): Timestamp = if (c == "updated_at") row.getTimestamp(iUpdated) else created
    }

    private val byBucket: Map[String, Vector[Obj]] =
      objectRows.toVector.map(new Obj(_)).groupBy(_.bucket).map { case (b, os) => b -> os.sortBy(_.name) }
    /** Buckets by descending size, so the Zipf head is the busiest bucket. */
    private val buckets = byBucket.toVector.sortBy { case (b, os) => (-os.size, b) }.map(_._1)
    private def folders(b: String, level: Int): Vector[String] =
      byBucket(b).flatMap { o =>
        val parts = o.name.split("/")
        if (parts.length > level) Some(parts.take(level).mkString("", "/", "/")) else None
      }.distinct
    private val level1 = buckets.map(b => b -> folders(b, 1)).toMap
    private val level2 = buckets.map(b => b -> folders(b, 2)).toMap
    /** Objects by recency: newest first, for recency-biased cursors. */
    private val recent = buckets.map(b => b -> byBucket(b).sortBy(o => (-micros(o.created), o.name))).toMap

    private val pSchema = partRows.head.schema
    private val iUpload = pSchema.fieldIndex("upload_id")
    private val iPartNo = pSchema.fieldIndex("part_number")
    private val uploads: Map[String, Vector[Row]] =
      partRows.toVector.groupBy(_.getString(iUpload)).map { case (u, rs) => u -> rs.sortBy(_.getInt(iPartNo)) }
    private val uploadIds = uploads.keys.toVector.sorted

    private def under(b: String, prefix: String): Vector[Obj] = byBucket(b).filter(_.name.startsWith(prefix))

    private def commonPrefix(name: String, prefix: String): Option[String] = {
      val pos = name.substring(prefix.length).indexOf('/')
      if (pos >= 0) Some(name.substring(0, prefix.length + pos + 1)) else None
    }

    private def pickPrefix(rng: Random, b: String, depth: Int): String = depth match {
      case 0 => ""
      case 1 => level1(b)(zipf(rng, level1(b).size))
      case _ => level2(b)(zipf(rng, math.min(level2(b).size, 500)))
    }
    private def pickKey(rng: Random, os: Vector[Obj]): Option[Obj] =
      if (os.isEmpty) None else Some(os(rng.nextInt(os.size)))

    def request(kind: String, depth: Int, rng: Random): Request = {
      val b = buckets(zipf(rng, buckets.size))
      kind match {
        case "list_v2_delimited" =>
          val prefix = pickPrefix(rng, b, depth)
          val scope = under(b, prefix)
          val after = if (rng.nextBoolean()) pickKey(rng, scope).map(_.name) else None
          val scoped = scope.filter(o => after.forall(o.name > _))
          val folderRows = scoped.flatMap(o => commonPrefix(o.name, prefix)).distinct
            .map(n => Seq[Any](n, true, null, null))
          val fileRows = scoped.filter(o => commonPrefix(o.name, prefix).isEmpty)
            .map(o => Seq[Any](o.name, false, o.size, o.created))
          val expected = (folderRows ++ fileRows).sortBy(_.head.asInstanceOf[String]).take(PageSize)
          Request(kind, "objects", s"$kind($b,'$prefix',$after)", ordered = true,
            Listing.listObjectsV2(_, b, prefix, Some("/"), after, PageSize), expected)

        case "list_v2_flat" =>
          val prefix = pickPrefix(rng, b, depth)
          val scope = under(b, prefix)
          val after = pickKey(rng, scope).map(_.name)
          val expected = scope.filter(o => after.forall(o.name > _)).take(PageSize)
            .map(o => Seq[Any](o.name, false, o.size, o.created))
          Request(kind, "objects", s"$kind($b,'$prefix',$after)", ordered = true,
            Listing.listObjectsV2(_, b, prefix, None, after, PageSize), expected)

        case "search_legacy" =>
          val p0 = pickPrefix(rng, b, depth)
          val prefix = if (rng.nextBoolean()) p0.toLowerCase else p0
          val offset = PageSize * rng.nextInt(4)
          val scoped = byBucket(b).filter(_.name.toLowerCase.startsWith(prefix.toLowerCase))
          val folderRows = scoped.flatMap(o => commonPrefix(o.name, prefix)).distinct
            .map(n => Seq[Any](n, true, null, null))
          val fileRows = scoped.filter(o => commonPrefix(o.name, prefix).isEmpty)
            .map(o => Seq[Any](o.name, false, o.size, o.created))
          val expected = (folderRows ++ fileRows)
            .sortBy(r => (r.head.asInstanceOf[String].toLowerCase, r.head.asInstanceOf[String]))
            .slice(offset, offset + PageSize)
          Request(kind, "objects", s"$kind($b,'$prefix',offset=$offset)", ordered = true,
            Listing.searchLegacy(_, b, prefix, PageSize, offset), expected)

        case "search_by_timestamp" =>
          val prefix = pickPrefix(rng, b, depth)
          val cursorObj = recent(b).filter(_.name.startsWith(prefix))
            .lift(zipf(rng, 2000)).filter(_ => rng.nextInt(4) != 0)
          val after = cursorObj.map(o => (tsString(o.created), o.name))
          val scoped = under(b, prefix)
          val folderRows = scoped.flatMap(o => commonPrefix(o.name, prefix).map(_ -> o.created))
            .groupBy(_._1).toVector.map { case (n, xs) => (n, true, xs.map(_._2).minBy(micros)) }
          val fileRows = scoped.filter(o => commonPrefix(o.name, prefix).isEmpty)
            .map(o => (o.name, false, o.created))
          val expected = (folderRows ++ fileRows)
            .filter { case (n, _, t) =>
              after.forall { case (ts, tok) =>
                val dt = truncMs(micros(t)); val a = parseTs(ts)
                dt > a || (dt == a && n > tok)
              }
            }
            .sortBy { case (n, _, t) => (truncMs(micros(t)), n) }.take(PageSize)
            .map { case (n, f, t) => Seq[Any](n, f, t) }
          Request(kind, "objects", s"$kind($b,'$prefix',$after)", ordered = true,
            Listing.searchByTimestamp(_, b, prefix, after, PageSize), expected)

        case "sorted_listing_page" =>
          val prefix = pickPrefix(rng, b, depth)
          val sortColumn = Vector("name", "created_at", "updated_at")(rng.nextInt(3))
          val desc = rng.nextBoolean()
          val scope = under(b, prefix)
          val at = recent(b).filter(_.name.startsWith(prefix)).lift(zipf(rng, 2000)).get
          val cursor = TokenCodec.Cursor(at.name, sortColumn, if (desc) "desc" else "asc",
            if (sortColumn == "name") None else Some(tsString(at.ts(sortColumn))))
          val token = TokenCodec.encode(cursor)
          def key(o: Obj): Long = truncMs(micros(o.ts(sortColumn)))
          val after = if (sortColumn == "name") 0L else parseTs(tsString(at.ts(sortColumn)))
          val paged = scope.filter { o =>
            if (sortColumn == "name") (if (desc) o.name < at.name else o.name > at.name)
            else if (desc) key(o) < after || (key(o) == after && o.name < at.name)
            else key(o) > after || (key(o) == after && o.name > at.name)
          }
          val ordered =
            if (sortColumn == "name") paged.sortBy(_.name)
            else paged.sortBy(o => (key(o), o.name))
          val expected = (if (desc) ordered.reverse else ordered).take(PageSize).map(_.row.toSeq)
          Request(kind, "objects", s"$kind($b,'$prefix',$cursor)", ordered = true,
            Listing.sortedListingPage(_, b, prefix, token, PageSize), expected)

        case "list_parts" =>
          val upload = uploadIds(zipf(rng, uploadIds.size))
          val after = rng.nextInt(3)
          val expected = uploads(upload).filter(_.getInt(iPartNo) > after).map(_.toSeq)
          Request(kind, "parts", s"$kind($upload,$after)", ordered = true,
            Multipart.listParts(_, upload, after, 1000), expected)

        case "find_objects" =>
          val all = byBucket(b)
          val keys = (Seq.fill(16)(all(zipf(rng, all.size)).name) ++
            Seq.fill(4)(s"${b}/missing-${rng.nextInt(1000000)}.dat")).distinct
          val wanted = keys.toSet
          val expected = objectRows.toVector.filter(r => wanted.contains(r.getString(iName))).map(_.toSeq)
          val schema = StructType(Seq(StructField("key", StringType)))
          def build(objects: DataFrame): DataFrame = {
            import scala.jdk.CollectionConverters._
            val keyDf = objects.sparkSession.createDataFrame(keys.map(Row(_)).asJava, schema)
            Scanner.findObjects(objects, keyDf)
          }
          Request(kind, "objects", s"$kind($b,${keys.size} keys)", ordered = false, build, expected)
      }
    }
  }
}
