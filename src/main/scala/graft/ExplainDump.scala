package graft

/** Dev tool: dump `.explain("formatted")` for a comma-separated list of
  * registered queries (or `ALL`) to `<outDir>/<name>.txt`, one session
  * for the whole batch, set up like Verify's
  * ([[SessionTuning.runnerSession]]) so the plans are the ones Verify
  * runs. Timing lives in `perfbench/`.
  * `runMain graft.ExplainDump <outDir> <q1,q2,...|ALL> [sfDir]` */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names =
      if (args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = SessionTuning.runnerSession(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[explaindump] wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
