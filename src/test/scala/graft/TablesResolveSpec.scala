package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue

/** The stored-relation resolver behind every `Tables.*` read: one schema
  * inference per (session, path) until the files change, fresh attribute
  * IDs on every call, no sharing between sessions. */
class TablesResolveSpec extends SparkTestBase {

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("tables_resolve").toString

  test("two Tables.objects calls self-join by column reference like two reads") {
    val a = Tables.objects(spark, sfDir)
    val b = Tables.objects(spark, sfDir)
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "each call must carry fresh attribute IDs")
    def selfJoin(l: DataFrame, r: DataFrame): Seq[org.apache.spark.sql.Row] =
      l.filter(l("size") % 7 === 0)
        .join(r, l("bucket_id") === r("bucket_id") && l("name") === r("name"))
        .select(l("name"), r("size"), r("mimetype"))
        .collect().toSeq.sortBy(_.getString(0))
    val path = relation(a).location.rootPaths.head.toString
    val expected = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.nonEmpty)
    assert(selfJoin(a, b) == expected)
  }

  test("rewriting a staged star table at the same path is seen on the next call") {
    val dir = tempDir()
    spark.range(5).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    val before = Tables.region(spark, dir)
    assert(before.count() == 5)
    spark.range(7).select(col("id").as("r_regionkey"), lit("x").as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val after = Tables.region(spark, dir)
    assert(after.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(after.count() == 7)
  }

  test("a second resolution launches no Spark job") {
    val dir = tempDir()
    spark.range(20).toDF("n_nationkey").write.parquet(s"$dir/nation.parquet")
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // the listener bus is asynchronous and ordered: once a sentinel
      // job's start is seen, every earlier job start has been seen too
      def jobsIn(group: String)(body: => Unit): Int = {
        sc.setJobGroup(group, group)
        try body finally sc.clearJobGroup()
        sc.setJobGroup(s"$group-sentinel", "sentinel")
        try spark.range(1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!groups.contains(s"$group-sentinel") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groups.contains(s"$group-sentinel"), "listener bus never caught up")
        groups.toArray.count(_ == group)
      }
      assert(jobsIn("resolve-first")(Tables.nation(spark, dir)) >= 1,
        "the first resolution infers the schema with a job")
      assert(jobsIn("resolve-again")(Tables.nation(spark, dir)) == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("two sessions do not share entries") {
    val dir = tempDir()
    spark.range(3).toDF("s_suppkey").write.parquet(s"$dir/supplier.parquet")
    val other: SparkSession = spark.newSession()
    val mine = relation(Tables.supplier(spark, dir))
    assert(relation(Tables.supplier(spark, dir)) eq mine, "same session reuses its entry")
    val theirs = relation(Tables.supplier(other, dir))
    assert(!(theirs eq mine))
    assert(theirs.sparkSession eq other)
    assert(Tables.supplier(other, dir).count() == 3)
  }

  test("the nanosAsLong setting is part of the key") {
    val dir = tempDir()
    spark.range(3).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val off = relation(Tables.part(spark, dir))
      spark.conf.set(key, "true")
      assert(!(relation(Tables.part(spark, dir)) eq off))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
