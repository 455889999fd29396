package graft

/** Dev tool: run one catalog query against an sf dir, print wall time and
  * (optionally) the formatted physical plan.
  *
  *   sbt "runMain graft.RunQuery g05_edge_weights /root/testdata/sf0.1 explain"
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val explain = args.contains("explain")
    val spark = SessionTuning.localSession(sfDir)
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("runq-ckpt").toString)
    val warm = args.contains("warm")
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    if (warm) fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    println(f"[runquery] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
