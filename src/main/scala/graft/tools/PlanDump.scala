package graft.tools

/** Dev-only: dump each named query's explain("formatted") to
  * <outDir>/<query>_<tag>.txt (args: outDir tag q1 q2 ...). Bench's
  * session (GraftSession, SPARK_GRAFT_CPUS cores) so the captured plans
  * match what the bench executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.drop(2).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
