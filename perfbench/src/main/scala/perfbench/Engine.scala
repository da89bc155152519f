package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Session construction and the result digest shared by every workload. */
object Engine {

  def session(cpus: Int, runDir: String): SparkSession = {
    val spark = graft.Tuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Deletes a staged input directory and the engine's materializations
    * of it: `Tables` caches its synthesized relations under
    * /tmp/graft_tables/<version>/<dir with '/' → '_'>-<fingerprint>. */
  def dropStaged(dir: String): Unit = {
    val safe = dir.replace('/', '_') + "-"
    Option(new java.io.File("/tmp/graft_tables").listFiles()).getOrElse(Array.empty)
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith(safe)).foreach(rmTree)
    rmTree(new java.io.File(dir))
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Order-independent digest over every output column: row count plus the
    * exact (decimal) sum of a per-row xxhash64. Hashing every column is
    * what makes the action materialize them all, unlike `count()`, which
    * lets the optimizer prune the projection. */
  def digest(df: DataFrame): String = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
