package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `op` groups the spans of one
  * request, query or micro-batch; `parent` is the enclosing span's id (0 at
  * the op root). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, start: Long, end: Long)

/** Counters the three listeners accumulate while the tracer is `active`. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
  val jobsByLayer: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** The span recorder plus the benchmark's own `SparkListener`,
  * `QueryExecutionListener` and `StreamingQueryListener`. With tracing off,
  * no listener besides the streaming one (which the ingest workload needs
  * for batch end times) is added. While the tracer is not `active`, `span`
  * only evaluates its body and the listeners return at once, so an
  * untraced phase of a traced run takes the plain code path. */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private var nextId = 0L
  private var opId = 0L
  /** Epoch ms ↔ nanoTime, to place the planning tracker's phases. */
  private val epochMsAtNano0 = System.currentTimeMillis() - System.nanoTime() / 1000000L

  @volatile var active = false
  val counters = new Counters
  /** Executions finished since the last drain: (phases, scan rows, files). */
  private val executions = new ConcurrentLinkedQueue[(Seq[(String, Long, Long)], Long, Long)]
  var scanRows = 0L; var scanFiles = 0L
  var pinsAdded = 0L; var cacheEntriesPeak = 0L; var cacheBytesPeak = 0L
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
        counters.jobs += 1
        val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
        counters.jobsByLayer(layer.getOrElse("other")) += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (active) counters.stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
        val m = e.taskMetrics; val i = e.taskInfo
        counters.tasks += 1
        counters.taskCpuNs += m.executorCpuTime
        counters.taskRunMs += m.executorRunTime
        counters.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        counters.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        counters.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        counters.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        counters.gcMs += m.jvmGCTime
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = if (active) {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val scans = PlanWalk.scans(qe.executedPlan)
    val rows = scans.map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val files = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    executions.add((phases, rows, files))
  }

  /** Runs `body` as one op: the root span of every span inside it. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span("op", name)(body)
  }

  /** Records a span if the tracer is active when its op starts; spans
    * nested in a recorded op are recorded to its end. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val outer = stack.get
    if (!enabled || (outer.isEmpty && !active)) body
    else {
      val prevLayer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, layer)
      val start = System.nanoTime()
      nextId += 1
      val s = Span(nextId, outer.headOption.map(_.id).getOrElse(0L), opId, layer, name, start, start)
      stack.set(s :: outer)
      val pins0 = if (layer == "query") sc.getPersistentRDDs.size else 0
      try body
      finally {
        if (layer == "query") pinsAdded += math.max(0, sc.getPersistentRDDs.size - pins0)
        stack.set(outer)
        sc.setLocalProperty(LayerKey, prevLayer)
        val done = s.copy(end = System.nanoTime())
        spans.synchronized(spans += done)
        if (layer == "op") { attributeExecutions(done); sampleCache() }
      }
    }
  }

  /** Waits for the listener bus, then turns the planning phases of the
    * executions the op ran into `catalyst` spans under the span of the op
    * that overlaps them most. */
  private def attributeExecutions(root: Span): Unit = {
    PerfbenchBridge.drainListeners(sc)
    val parents = spans.synchronized(spans.filter(s => s.op == opId && s.layer != "catalyst").toSeq)
    var e = executions.poll()
    while (e != null) {
      val (phases, rows, files) = e
      scanRows += rows; scanFiles += files
      phases.foreach { case (name, startMs, endMs) =>
        val s = (startMs - epochMsAtNano0) * 1000000L
        val en = math.max(s, (endMs - epochMsAtNano0) * 1000000L)
        def overlap(p: Span) = math.min(en, p.end) - math.max(s, p.start)
        val inner = parents.filter(_.id != root.id)
        val parent = if (inner.isEmpty) root else inner.maxBy(overlap)
        val cs = math.max(s, parent.start); val ce = math.min(en, parent.end)
        if (ce > cs) spans.synchronized {
          nextId += 1
          spans += Span(nextId, parent.id, opId, "catalyst", name, cs, ce)
        }
      }
      e = executions.poll()
    }
  }

  /** Cached blocks now resident (pins, `cache()`, local checkpoints). */
  private def sampleCache(): Unit = {
    val info = sc.getRDDStorageInfo
    cacheEntriesPeak = math.max(cacheEntriesPeak, info.length.toLong)
    cacheBytesPeak = math.max(cacheBytesPeak, info.map(i => i.memSize + i.diskSize).sum)
  }

  /** Starts or stops attribution, after the bus has delivered every event
    * of what came before. */
  def setActive(on: Boolean): Unit = {
    PerfbenchBridge.drainListeners(sc)
    if (on) executions.clear()
    active = on
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val Layers = Seq("tables", "query", "catalyst", "exec", "op")

  /** Self time per span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Scan nodes of a physical plan, through AQE stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[DataSourceScanExec] =
    collectWithSubqueries(plan) { case s: DataSourceScanExec => s }
}
