package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SessionTuning.runnerSession(sfDir)
    new java.io.File(outDir).mkdirs()
    // dev filter: SPARK_GRAFT_ONLY=q58,q59 runs just those prefixes
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      CheckpointHygiene.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // registry manifest: lets the driver/judge assert that the
    // correctness report covers the FULL registry (the r3 failure mode
    // was silent shrinkage — fewer dumped queries than registered ones,
    // with nothing flagging the gap)
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      s"""{"n_queries":${SparkEntry.queries.size},"n_oracles":${SparkEntry.oracleSql.size},"rows_only":[${noOracle.toSeq.sorted.map(q).mkString(",")}]}""")
    spark.stop()
  }
}
