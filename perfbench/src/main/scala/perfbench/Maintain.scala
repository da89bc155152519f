package perfbench

/** Maintenance entry points for the batch known answers (`answers.tsv`):
  *
  *   stage <dir>          write the fixed batch inputs to <dir>, for an
  *                        oracle check with `graft.Verify <dir> <out> <keys>`
  *                        and `tools/check.py <dir> <out>`;
  *   answers <k1,k2,...>  print `key<TAB>digest` for each key on those inputs.
  */
object Maintain {
  def main(args: Array[String]): Unit = {
    val work = new java.io.File(s".bench_run/maintain-${ProcessHandle.current().pid()}").getAbsolutePath
    val spark = Engine.session(Runtime.getRuntime.availableProcessors(), work)
    try args.toSeq match {
      case Seq("stage", dir) => DataGen.write(spark, dir, Batch.DataSeed, Batch.Scale)
      case Seq("answers", keys) =>
        val dir = s"$work/in"
        DataGen.write(spark, dir, Batch.DataSeed, Batch.Scale)
        keys.split(",").foreach { k =>
          println(s"$k\t${Engine.digest(graft.Registry.all(k).fn(spark, dir))}")
        }
        Engine.dropStaged(dir)
      case _ => System.err.println("usage: Maintain stage <dir> | answers <k1,k2,...>"); sys.exit(2)
    } finally {
      spark.stop()
      graft.Warehouse.cleanup()
      Engine.rmTree(new java.io.File(work))
    }
  }
}
