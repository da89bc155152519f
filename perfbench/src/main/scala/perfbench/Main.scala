package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one timed phase measured. */
final class Phase {
  val latMs = ArrayBuffer.empty[Double]
  val lapS = ArrayBuffer.empty[Double]
  var ops = 0L
  var busyS = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var rowsReturned = 0L
  /** Workload-specific per-layer metrics (value, unit). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int, cpus: Int,
                     runDir: String)

/** A workload: staged inputs and fixtures in a directory, a warm-up, and a
  * timed phase. `stage` and `fixtures` run several times in fresh
  * directories; everything after runs on the last one. */
trait Workload {
  def stage(dir: String): Unit
  def fixtures(dir: String): Unit
  def warmUp(p: Phase): Unit
  def measure(seconds: Double, p: Phase): Unit
  /** Harness-only preparation after set-up (reference answers, the load
    * generator's input); untimed. */
  def prepare(): Unit = ()
  /** Checks that need the whole run (the ingest ledger); default none. */
  def finish(p: Phase): Unit = ()
}

object Main {
  val SetupReps = 3
  /** A run that exceeds this is stopped: the benchmark contract allows 180 s. */
  val DeadlineS = 170
  /** (phase, seconds since the JVM started) at the end of each phase. */
  private val timeline = ArrayBuffer.empty[(String, Double)]
  private def mark(phase: String): Unit =
    timeline += phase -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench --workload serve|batch|ingest " +
      "--seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (kv.size * 2 != argv.length) usage("arguments come in --key value pairs")
    val workload = kv.getOrElse("workload", usage("--workload is required"))
    if (!Seq("serve", "batch", "ingest").contains(workload)) usage(s"unknown workload $workload")
    val seed = kv.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive integer"))
    val trace = kv.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }

    val wall0 = System.nanoTime()
    val watchdog = new Thread(() => {
      try {
        Thread.sleep(DeadlineS * 1000L)
        System.err.println(s"perfbench: run exceeded $DeadlineS s, stopping")
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    val runDir = new File(s".bench_run/$workload-${ProcessHandle.current().pid()}").getAbsolutePath
    new File(runDir).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    mark("jvm")
    val calibStart = Calib.md5Seconds()
    val loadStart = Calib.loadAverage()
    mark("calibration")
    val spark = Engine.session(cpus, runDir)
    mark("session")
    val staged = ArrayBuffer.empty[String]
    val out =
      try {
        val tracer = new Tracer(spark, trace)
        val ctx = Ctx(spark, tracer, seed, seconds, cpus, runDir)
        val w: Workload = workload match {
          case "serve" => new Serve(ctx)
          case "batch" => new Batch(ctx)
          case "ingest" => new Ingest(ctx)
        }
        run(ctx, w, workload, seconds, trace, staged, calibStart)
      } finally {
        spark.stop()
        staged.foreach(Engine.dropStaged)
        graft.Warehouse.cleanup()
        Engine.rmTree(new File(runDir))
        mark("teardown")
      }
    val calibEnd = Calib.md5Seconds()
    val (p, metrics) = out
    val m = metrics ++ (if (trace) Seq("calib.md5_end_s" -> (calibEnd, "s")) else Nil)
    System.err.println(f"perfbench: $workload seed=$seed cpus=$cpus ops=${p.ops} " +
      f"samples=${p.latMs.size} laps=${p.lapS.size} attempted=${p.attempted} failed=${p.failed} " +
      f"fail_ratio=${p.failed.toDouble / math.max(1L, p.attempted)}%.4f " +
      f"wall=${(System.nanoTime() - wall0) / 1e9}%.1fs")
    p.failures.foreach(f => System.err.println(s"perfbench: WRONG $f"))
    if (p.latMs.size < 100) System.err.println(s"perfbench: latency_p90_ms rests on " +
      s"${p.latMs.size} samples, fewer than the 100 that put 10 beyond it")
    System.err.println("perfbench: phases end at " +
      timeline.map { case (k, t) => f"$k $t%.1f" }.mkString(", ") + " s")
    println(f"# calibration md5_start_s=$calibStart%.4f md5_end_s=$calibEnd%.4f " +
      f"loadavg_start=$loadStart%.2f loadavg_end=${Calib.loadAverage()}%.2f")
    println(Json.result(p.failed == 0 && p.attempted > 0, p.attempted, p.failed, m))
    System.out.flush()
    sys.exit(0)
  }

  private def run(ctx: Ctx, w: Workload, workload: String, seconds: Int, trace: Boolean,
                  staged: ArrayBuffer[String], calibStart: Double): (Phase, Seq[(String, (Double, String))]) = {
    val stageS = ArrayBuffer.empty[Double]
    val fixtureS = ArrayBuffer.empty[Double]
    for (i <- 0 until SetupReps) {
      val dir = s"${ctx.runDir}/in$i"
      if (staged.nonEmpty) Engine.dropStaged(staged.last)
      staged += dir
      val t0 = System.nanoTime()
      w.stage(dir)
      val t1 = System.nanoTime()
      w.fixtures(dir)
      val t2 = System.nanoTime()
      stageS += (t1 - t0) / 1e9
      fixtureS += (t2 - t1) / 1e9
      System.err.println(f"perfbench: setup $i stage ${stageS.last}%.2f s, fixtures ${fixtureS.last}%.2f s")
    }
    mark("setup")
    w.prepare()
    mark("prepare")
    val warm = new Phase
    val tw = System.nanoTime()
    w.warmUp(warm)
    val warmupS = (System.nanoTime() - tw) / 1e9
    System.err.println(f"perfbench: warm-up $warmupS%.2f s")
    mark("warm-up")
    val setupS = Stats.median(stageS.indices.map(i => stageS(i) + fixtureS(i))) + warmupS

    if (!trace) {
      val p = new Phase
      p.attempted += warm.attempted; p.failed += warm.failed; p.failures ++= warm.failures
      w.measure(seconds, p)
      mark("measure")
      w.finish(p)
      mark("finish")
      val heapMb = Calib.retainedHeapMb()
      (p, Seq(
        "setup_s" -> (setupS, "s"),
        "latency_p50_ms" -> (Stats.quantile(p.latMs, 0.5), "ms"),
        "latency_p90_ms" -> (Stats.quantile(p.latMs, 0.9), "ms"),
        "ops_per_s" -> (p.ops / math.max(1e-9, p.busyS), "1/s"),
        "lap_s" -> (Stats.median(p.lapS), "s"),
        "heap_retained_mb" -> (heapMb, "MB")))
    } else {
      // untraced, traced, untraced (A-B-A), so that drift over the run
      // cancels out of trace.overhead. The untraced quarters run the plain
      // code path: spans only evaluate their bodies and the listeners
      // return at once while the tracer is inactive.
      val plain = new Phase
      w.measure(seconds / 4.0, plain)
      val p = new Phase
      ctx.tracer.setActive(true)
      val t0 = System.nanoTime()
      w.measure(seconds / 2.0, p)
      val wallS = (System.nanoTime() - t0) / 1e9
      ctx.tracer.setActive(false)
      w.measure(seconds / 4.0, plain)
      p.attempted += warm.attempted + plain.attempted
      p.failed += warm.failed + plain.failed; p.failures ++= warm.failures ++ plain.failures
      w.finish(p)
      val overhead =
        if (plain.lapS.nonEmpty && p.lapS.nonEmpty) Stats.median(p.lapS) / Stats.median(plain.lapS)
        else Stats.quantile(p.latMs, 0.5) / Stats.quantile(plain.latMs, 0.5)
      val layers = Report.perLayer(ctx, workload, p, wallS) ++ Seq(
        "setup.stage_s" -> (Stats.median(stageS), "s"),
        "setup.fixtures_s" -> (Stats.median(fixtureS), "s"),
        "setup.warmup_s" -> (warmupS, "s"),
        "calib.md5_start_s" -> (calibStart, "s"),
        "trace.overhead" -> (overhead, "ratio"))
      (p, layers)
    }
  }
}

object Calib {
  /** Seconds to MD5 64 MiB on one thread: a host-speed stamp. */
  def md5Seconds(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("MD5")
    Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (0 until 64).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e9
    })
  }

  def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def obj(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s"${str(k)}: ${str(v)}"
    case (k, v: Double) => s"${str(k)}: ${num(v)}"
    case (k, v) => s"${str(k)}: $v"
  }.mkString("{", ", ", "}")
}
