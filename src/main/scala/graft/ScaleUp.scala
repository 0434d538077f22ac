package graft

import org.apache.spark.sql.functions._

/** Scale-up harness: derives an N× dataset from a driver-generated
  * scale factor by unioning N key-shifted copies (disjoint key
  * universes, stride 1e8 per copy) so every foreign-key relationship
  * survives — copy c's orders reference copy c's customers, etc.
  * region/nation stay fixed dims (their keys are not shifted anywhere).
  * The supplier/part node-id trick used by the graph queries
  * (node = 100000 + partkey) stays collision-free because both key
  * families shift by the same stride.
  *
  * Purpose: bench-only. The correctness gate runs on the driver's own
  * parquet; this exists to probe super-linear cliffs (single-partition
  * sorts, broadcast overflows, driver collects) at 10×+ the largest
  * driver SF. Usage: runMain graft.ScaleUp <inDir> <outDir> <copies> */
object ScaleUp {
  private val Stride = 100000000L

  private val shiftCols: Map[String, Seq[String]] = Map(
    "region" -> Seq(),
    "nation" -> Seq(),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = SessionTuning.runnerSession(inDir,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    for (name <- Tables.names) {
      val df = spark.read.parquet(s"$inDir/$name.parquet")
      val keys = shiftCols(name)
      val out =
        if (keys.isEmpty || copies == 1) df
        else {
          val c = spark.range(copies).select(col("id").as("__copy"))
          keys.foldLeft(df.crossJoin(broadcast(c))) { (d, k) =>
            d.withColumn(k, col(k) + col("__copy") * Stride)
          }.drop("__copy")
            // the single-row-group input × broadcast copies would write
            // 1-2 giant files — a single-partition scan for every
            // consumer. A real dataset at this scale is many files;
            // match that so reads parallelize.
            .repartition(32)
        }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
