package graft

import graft.functions.{GraftFunctions, VectorExprs}
import org.apache.spark.sql.functions._

/** The SQL-surface seam: custom Catalyst kernels reachable from pure SQL
  * text, resolving to the SAME Expression nodes as the Column API. */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("injected functions resolve in spark.sql and match the Column API") {
    GraftFunctions.install(spark)
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head.getDouble(0)
    assert(dot == 32.0)
    val l2 = spark.sql(
      "SELECT vec_l2sq(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS d")
      .head.getDouble(0)
    assert(l2 == 25.0)
    // SQL minhash ≡ Column-API minhash on the same words
    val df = Seq("alpha beta gamma delta epsilon").toDF("text")
    df.createOrReplaceTempView("sql_surface_t")
    val viaSql = spark.sql(
      """SELECT minhash_md5_sig(split(lower(trim(text)), '\\s+'), 3, 8) AS sig
        |FROM sql_surface_t""".stripMargin).head.getSeq[Long](0)
    val viaApi = df.select(VectorExprs.minhashMd5Sig(
      split(lower(trim(col("text"))), "\\s+"), 3, 8).as("sig"))
      .head.getSeq[Long](0)
    assert(viaSql == viaApi)
  }

  test("a repeat install keeps the registered functions") {
    GraftFunctions.install(spark)
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")
    val before = registry.lookupFunction(id)
    GraftFunctions.install(spark)
    // each registration builds a new ExpressionInfo: the same instance
    // means the entry was left in place
    assert(registry.lookupFunction(id).exists(i => before.exists(_ eq i)),
      "the second install replaced vec_dot")
  }

  test("non-literal n/k arguments are rejected with a clear error") {
    GraftFunctions.install(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_md5_sig(array('a'), cast(rand()*3 as int), 8)")
        .collect()
    }
    assert(err.getMessage.contains("minhash_md5_sig"), err.getMessage)
  }

  test("GraftExtensions wires functions + as-of strategy without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext) // injection itself must not throw
  }
}
