package graft

import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Bit-parity of the native Hash60 expression against the composed
  * built-in form it replaces, on all three evaluation paths. */
class Hash60Spec extends SparkSpec {
  import spark.implicits._

  test("native hash60 == composed form on corpus text and edge strings") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"text").unionByName(
        Seq("", "a", "abc", "éü世界", " ", "0",
          "x" * 1000).toDF("text"))
    val mismatches = docs.select(
        Hashing.hash60($"text").as("native"),
        Hashing.hash60Composed($"text").as("composed"))
      .filter($"native" =!= $"composed" ||
        $"native".isNull =!= $"composed".isNull)
    assert(mismatches.count() === 0)
    // values are 60-bit non-negative
    assert(docs.select(Hashing.hash60($"text").as("h"))
      .filter($"h" < 0 || $"h" > (1L << 60) - 1).count() === 0)
  }

  test("hash60 callable from SQL via GraftExtensions") {
    val r = spark.sql("SELECT hash60(CAST('abc' AS BINARY)) AS h").head()
    assert(r.getLong(0) === java.lang.Long.parseLong(
      "900150983cd24fb", 16))
  }

  test("interpreted path (no codegen) matches codegen path") {
    withNoCodegen {
      val docs = Tables(spark, sfDir, "documents").select($"text")
      val bad = docs.select(Hashing.hash60($"text").as("native"),
          Hashing.hash60Composed($"text").as("composed"))
        .filter($"native" =!= $"composed")
      assert(bad.count() === 0)
    }
  }
}
