package perfbench

import graft.Tables

import scala.io.Source
import scala.util.Random

/** `batch`: one client in a closed loop makes seed-permuted passes over a
  * fixed list of registry queries whose bodies run eager jobs, pins and
  * kernels. Each query's timed action is a digest over every output
  * column, checked against its known answer (`answers.tsv`). A lap is one
  * pass over the list. The list is short (a few seconds a pass) so that
  * a run holds a cold warm-up pass and several timed passes. */
final class Batch(ctx: Ctx) extends Workload {
  import Batch._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var dir: String = _
  private var lapNo = 0

  def stage(d: String): Unit = DataGen.write(spark, d, DataSeed, Scale, Inputs)

  /** The stored relations the query bodies read, built the way the engine
    * builds them on first use. */
  def fixtures(d: String): Unit = {
    dir = d
    Tables.objects(spark, d); Tables.s3Keys(spark, d); Tables.coPurchasePairs(spark, d)
  }

  /** A cold pass, then passes until the JIT has compiled the hot paths
    * (passes of 7.4, 3.4, 3.0, 2.6, 2.7, 2.3 s on 4 cores). */
  def warmUp(p: Phase): Unit = (0 until WarmPasses).foreach(_ => lap(p, record = false))

  def measure(seconds: Double, p: Phase): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do lap(p, record = true) while (System.nanoTime() < end)
  }

  private def lap(p: Phase, record: Boolean): Unit = {
    lapNo += 1
    val order = new Random(ctx.seed * 7919L + lapNo).shuffle(answers.toVector)
    val t0 = System.nanoTime()
    order.foreach { case (key, want) =>
      val q = graft.Registry.all(key)
      val s = System.nanoTime()
      val got = tracer.op(key) {
        val df = tracer.span("query", key)(q.fn(spark, dir))
        tracer.span("exec", "digest")(Engine.digest(df))
      }
      val ns = System.nanoTime() - s
      p.attempted += 1
      if (got != want) p.fail(s"batch $key: digest $got, expected $want")
      if (record) {
        p.ops += 1
        p.busyS += ns / 1e9
        p.latMs += ns / 1e6
        p.rowsReturned += got.takeWhile(_ != ':').toLong
      }
    }
    if (record) p.lapS += (System.nanoTime() - t0) / 1e9
  }
}

object Batch {
  /** The batch inputs are fixed; the seed permutes each pass. */
  val DataSeed = 5L
  val Scale = 0.002
  val WarmPasses = 2
  /** The tables the listed queries read. */
  val Inputs = Seq("customer", "orders", "lineitem", "events", "documents")

  /** (registry key, digest of its result on the fixed inputs). */
  lazy val answers: Seq[(String, String)] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/perfbench/answers.tsv"), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, d) = l.split("\t"); k -> d }.toVector
    finally src.close()
  }
}
