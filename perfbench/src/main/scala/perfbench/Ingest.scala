package perfbench

import graft.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import java.io.File
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** `ingest`: an open loop. A generator publishes seed-generated event-log
  * parquet files at a fixed offered rate; one continuously running query
  * consumes them through `readEventLog → dedupSingleton → visibleAt →
  * withDlqSink`. Its handler joins each micro-batch to a freshly resolved
  * `Tables.objects` to shape webhook bodies and appends them to a sink.
  * Each event is timed from when its file was due to the end of the
  * micro-batch that delivered it. The run ends with an exactly-once
  * ledger check over the sink and the dead-letter queue. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var dir: String = _
  private var events: Vector[Event] = Vector.empty
  private var query: StreamingQuery = _
  private var nextFile = 0
  /** Wall-clock epoch ms each published file was due. */
  private val dueMs = mutable.Map.empty[Int, Long]
  private val lateMs = ArrayBuffer.empty[Double]

  def stage(d: String): Unit = DataGen.write(spark, d, DataSeed, Scale, Seq("lineitem"))

  /** The objects relation the handler joins each micro-batch to. */
  def fixtures(d: String): Unit = {
    dir = d
    Tables.objects(spark, d)
  }

  /** The generator's input, staged once after set-up, one directory per
    * event file so that publishing one is a rename. */
  override def prepare(): Unit = {
    val keys = Tables.objects(spark, dir).select("bucket_id", "name").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(identity)
    events = generate(new Random(ctx.seed), keys, WarmFiles + math.ceil(ctx.seconds / IntervalS).toInt + 2)
    import scala.jdk.CollectionConverters._
    val rows = events.map(e => Row(e.file, e.id, e.queue, e.tenant, e.bucket, e.name, e.payload,
      e.key, e.scheduleAt.orNull, e.createdAt))
    spark.createDataFrame(rows.asJava, StructType(StructField("file_no", IntegerType) +:
        EventStream.eventLogSchema.fields.toSeq))
      .repartition(col("file_no")).write.partitionBy("file_no").parquet(s"$dir/staged")
    new File(s"$dir/events").mkdirs()
  }

  def warmUp(p: Phase): Unit = {
    query = start()
    publish(WarmFiles, lateness = false)
    awaitConsumed()
  }

  def measure(seconds: Double, p: Phase): Unit = {
    val first = nextFile
    val n = math.round(seconds / IntervalS).toInt
    val t0 = publish(n, lateness = true)
    awaitConsumed()
    val wallS = (System.currentTimeMillis() - t0) / 1e3
    val files = (first until nextFile).toSet
    val delivered = readDelivered()
    val batchEnd = batchEnds()
    val mine = delivered.filter(d => files.contains(fileOf(d._1)))
    mine.foreach { case (id, batch) =>
      batchEnd.get(batch) match {
        case Some(end) => p.latMs += (end - dueMs(fileOf(id))).toDouble
        case None => p.fail(s"ingest $id: no progress report for batch $batch")
      }
    }
    p.ops += mine.size
    p.busyS += wallS
    p.rowsReturned += mine.size
    val progress = phaseProgress(mine.map(_._2).toSet)
    p.lapS ++= progress.map(_.durationMs.get("triggerExecution") / 1000.0)
    def avg(k: String) = if (progress.isEmpty) 0.0 else progress.map(_.durationMs.get(k).toDouble).sum / progress.size
    val sent = events.count(e => files.contains(e.file))
    p.layer ++= Seq(
      "stream.latest_offset_ms" -> (avg("latestOffset"), "ms"),
      "stream.query_planning_ms" -> (avg("queryPlanning"), "ms"),
      "stream.add_batch_ms" -> (avg("addBatch"), "ms"),
      "stream.wal_commit_ms" -> (avg("walCommit"), "ms"),
      "stream.trigger_ms" -> (avg("triggerExecution"), "ms"),
      "stream.batches" -> (progress.size.toDouble, "count"),
      "stream.rows_per_batch" -> (if (progress.isEmpty) 0.0 else progress.map(_.numInputRows).sum.toDouble / progress.size, "count"),
      "stream.state_rows" -> (progress.lastOption.flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "stream.state_mem_bytes" -> (progress.lastOption.flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "stream.dupes_dropped_ratio" -> ((sent - mine.size).toDouble / math.max(1, sent), "ratio"),
      "sink.bytes_per_event" -> (dirBytes(s"$dir/sink").toDouble / math.max(1, delivered.size), "bytes"),
      "dlq.events" -> (mine.count(d => d._2 < 0).toDouble, "count"),
      "gen.late_ms" -> (Stats.median(lateMs), "ms"))
  }

  /** The exactly-once ledger: every distinct (queue, singleton_key) that was
    * published lands exactly once, in the sink or the DLQ; every poison
    * event lands in the DLQ, and every DLQ batch holds a poison event. */
  override def finish(p: Phase): Unit = {
    query.stop()
    val published = events.filter(_.file < nextFile)
    val byId = published.map(e => e.id -> e).toMap
    val sink = read(s"$dir/sink", "batch_id")
    val dlq = read(s"$dir/dlq", "dlq_batch_id")
    val landed = (sink ++ dlq).groupBy { case (id, _) => byId.get(id).map(e => (e.queue, e.key)) }
    val expected = published.map(e => (e.queue, e.key)).distinct
    p.attempted += expected.size
    expected.foreach { k =>
      val n = landed.get(Some(k)).map(_.size).getOrElse(0)
      if (n != 1) p.fail(s"ingest ${k._1}/${k._2} landed $n times")
    }
    landed.get(None).foreach(xs => p.fail(s"ingest ${xs.size} unknown event ids landed"))
    sink.filter(s => byId.get(s._1).exists(_.poison)).foreach(s => p.fail(s"ingest poison ${s._1} in the sink"))
    dlq.groupBy(_._2).foreach { case (b, xs) =>
      if (!xs.exists(x => byId.get(x._1).exists(_.poison))) p.fail(s"ingest DLQ batch $b has no poison event")
    }
  }

  private def start(): StreamingQuery = {
    val cutoff = Timestamp.from(BaseTime.plusSeconds(86400))
    val stream = EventStream.visibleAt(
      EventStream.dedupSingleton(EventStream.readEventLog(spark, s"$dir/events")), cutoff)
    EventStream.withDlqSink(stream, handle, s"$dir/dlq")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
  }

  /** The webhook handler: shape each event's body from its object's row. */
  private def handle(batch: DataFrame): Unit = tracer.op("micro_batch") {
    val session = batch.sparkSession
    val batchId = session.sparkContext.getLocalProperty("streaming.sql.batchId").toLong
    val objects = tracer.span("tables", "Tables.objects")(Tables.objects(session, dir))
    val bodies = tracer.span("query", "webhook_bodies") {
      batch.join(objects.select("bucket_id", "name", "size", "mimetype", "version"),
          Seq("bucket_id", "name"), "left")
        .select(col("event_id"), col("queue"), col("singleton_key"), lit(batchId).as("batch_id"),
          to_json(struct(col("queue").as("type"), col("tenant_ref"), col("bucket_id"),
            col("name"), col("size"), col("mimetype"), col("version"), col("payload"))).as("body"),
          when(col("payload").contains("poison"), raise_error(lit("poison event")))
            .cast("string").as("rejected"))
    }
    tracer.span("exec", "append")(bodies.write.mode("append").parquet(s"$dir/sink"))
  }

  /** Waits until the progress reports account for every published event:
    * the batch that read the last file has then committed, and its report,
    * which gives its end time, is in hand. (`processAllAvailable` would
    * also wait out the next trigger or two to see that no data is left.) */
  private def awaitConsumed(): Unit = {
    import scala.jdk.CollectionConverters._
    val published = events.count(_.file < nextFile).toLong
    while (tracer.progress.asScala.map(_.progress.numInputRows).sum < published) {
      if (!query.isActive) throw query.exception.getOrElse(new IllegalStateException("ingest query stopped"))
      Thread.sleep(5)
    }
  }

  /** Publishes `n` files, one every `IntervalS`, and returns the epoch ms
    * the schedule started at. A `ProcessingTime` trigger fires on multiples
    * of its interval since the epoch; the schedule starts `PhaseMs` before
    * one, so that every run sees the same waits for the next trigger, no
    * file lands closer than `PhaseMs` to a trigger, and the last file of a
    * whole number of intervals lands just before one. */
  private def publish(n: Int, lateness: Boolean): Long = {
    val now = System.currentTimeMillis()
    val t0 = now - Math.floorMod(now, TriggerMs) + TriggerMs - PhaseMs
    (0 until n).foreach { i =>
      val file = nextFile
      val due = t0 + math.round((i + 1) * IntervalS * 1000)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val staged = new File(s"$dir/staged/file_no=$file").listFiles().filter(_.getName.endsWith(".parquet"))
      staged.zipWithIndex.foreach { case (f, j) =>
        if (!f.renameTo(new File(s"$dir/events/$file-$j.parquet"))) sys.error(s"cannot publish $f")
      }
      dueMs(file) = due
      if (lateness) lateMs += (System.currentTimeMillis() - due).toDouble
      nextFile += 1
    }
    t0
  }

  private def fileOf(eventId: String): Int = eventId.substring(1, eventId.indexOf('-')).toInt

  private def read(path: String, batchCol: String): Seq[(String, Long)] =
    if (!new File(path).exists()) Nil
    else spark.read.parquet(path).select(col("event_id"), col(batchCol)).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))

  /** (event id, delivering batch id); DLQ deliveries carry a negated id. */
  private def readDelivered(): Seq[(String, Long)] =
    read(s"$dir/sink", "batch_id") ++ read(s"$dir/dlq", "dlq_batch_id").map { case (e, b) => (e, -b - 1) }

  private def progressById: Map[Long, org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    import scala.jdk.CollectionConverters._
    tracer.progress.asScala.map(_.progress).map(p => p.batchId -> p).toMap
  }

  /** Epoch ms each micro-batch finished (sink ids and negated DLQ ids). */
  private def batchEnds(): Map[Long, Long] = progressById.flatMap { case (id, p) =>
    val end = Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    Seq(id -> end, (-id - 1) -> end)
  }

  private def phaseProgress(batches: Set[Long]) = {
    val ids = batches.map(b => if (b < 0) -b - 1 else b)
    progressById.toSeq.sortBy(_._1).collect { case (id, p) if ids.contains(id) && p.numInputRows > 0 => p }
  }

  private def dirBytes(path: String): Long =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
}

object Ingest {
  val DataSeed = 11L
  val Scale = 0.005
  /** One file every 200 ms with 20 events: 100 events/s offered, a rate
    * chosen to stay below saturation at 4 cores (each micro-batch takes
    * about half of the trigger interval), not taken from measured traffic. */
  val IntervalS = 0.2
  val EventsPerFile = 20
  /** Two trigger intervals of events before timing starts, so the first
    * timed micro-batches do not run cold code. */
  val WarmFiles = 20
  /** Micro-batch interval: pg-boss workers poll for new jobs every 2 s by
    * default (`newJobCheckInterval`), and a fixed interval keeps the query
    * below saturation, so latency is the wait for the next poll plus the
    * batch, not a backlog. */
  val TriggerMs = 2000L
  val PhaseMs = 100L
  val BaseTime: Instant = Instant.parse("2025-01-01T00:00:00Z")
  private val queues = Vector("object-created", "object-created", "object-created",
    "object-removed", "object-removed", "webhook")

  final case class Event(file: Int, id: String, queue: String, tenant: String, bucket: String,
                         name: String, payload: String, key: String,
                         scheduleAt: Option[Timestamp], createdAt: Timestamp, poison: Boolean)

  /** About one event in 10 re-sends an earlier (queue, singleton_key); one
    * in 10 is late by up to 10 minutes of event time (well inside the
    * 1-hour watermark); every 50th file carries one poison event; about
    * one event in 30 names an object that does not exist.
    *
    * These shares are coverage choices, not measured traffic: each one
    * makes sure that the dedup state, the late path, the dead-letter queue
    * and the handler's unmatched join rows carry events in every run. */
  def generate(rng: Random, keys: Array[(String, String)], files: Int): Vector[Event] = {
    val out = ArrayBuffer.empty[Event]
    (0 until files).foreach { file =>
      val poisonAt = if (file % 50 == 12) rng.nextInt(EventsPerFile) else -1
      (0 until EventsPerFile).foreach { i =>
        val t = BaseTime.plusMillis(math.round(file * IntervalS * 1000))
        val created = if (rng.nextInt(10) == 0) t.minusSeconds(rng.nextInt(600)) else t
        val (bucket, name) =
          if (rng.nextInt(30) == 0) ("F", s"F/missing-$file-$i.dat") else keys(rng.nextInt(keys.length))
        val (queue, key) =
          if (out.size > 10 && rng.nextInt(10) == 0) {
            val prev = out(out.size - 1 - rng.nextInt(math.min(out.size, 200)))
            (prev.queue, prev.key)
          } else (queues(rng.nextInt(queues.size)), s"sk-$file-$i")
        val poison = i == poisonAt
        out += Event(file, s"e$file-$i", queue, s"tenant-${rng.nextInt(8)}", bucket, name,
          if (poison) s"""{"n":$i,"poison":true}""" else s"""{"n":$i}""", key,
          if (rng.nextInt(5) == 0) Some(Timestamp.from(created.minusSeconds(1))) else None,
          Timestamp.from(created), poison)
      }
    }
    out.toVector
  }
}
