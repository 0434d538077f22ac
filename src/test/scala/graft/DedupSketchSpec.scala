package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.SimHashFp
import graft.functions.{Dedup, Hashing, TextOps}
import graft.streaming.StreamingNearDup

/** Bit-parity of the per-row MinHash / LSH band / SimHash expressions
  * behind `Dedup` against the composed explode → groupBy formulations
  * they replace, on the codegen and the interpreted path. */
class DedupSketchSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------- reference formulations

  /** explode the set, then 64 `min(lane)` aggregates per doc. */
  private def composedMinhash(df: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(Hashing.lane($"h31", i)).as(s"h$i"))
    df.select($"doc_id", explode($"sh_set").as("sh"))
      .select($"doc_id",
        Hashing.hash60($"sh").bitwiseAND(lit(Hashing.Mask31)).as("h31"))
      .groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** one `concat_ws` band struct per band, exploded. */
  private def composedBands(sigs: DataFrame, k: Int, r: Int): DataFrame = {
    val structs = (0 until k / r).map { b =>
      val parts = (0 until r).map(j => col(s"h${b * r + j}").cast("string"))
      struct(lit(b).as("band"),
        Hashing.hash60(concat_ws(",", parts: _*)).as("band_hash"))
    }
    sigs.select($"doc_id", explode(array(structs: _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.band_hash".as("band_hash"))
  }

  /** `bits` `sum(when)` votes over (doc, token) counts. */
  private def composedSimhash(df: DataFrame, toks: Column,
      bits: Int): DataFrame = {
    val counted = df.select($"doc_id", explode(toks).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("th", Hashing.hash60($"tok"))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright($"th", b).bitwiseAND(1) === 1, $"cnt")
        .otherwise(-$"cnt")).as(s"v$b")
    }
    val fp = (0 until bits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    counted.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
      .select($"doc_id", fp.as("simhash"))
  }

  // ------------------------------------------------------------ inputs

  private val bigSet = (0 until 10000).map(i => s"w$i x${i * 7} y")

  private def sets: DataFrame = Seq[(Long, Seq[String])](
      1L -> Seq(),                                  // empty: no row
      2L -> null,                                   // NULL: no row
      3L -> Seq(null),                              // k NULL lanes
      4L -> Seq(null, "a b c", null),
      5L -> Seq("one"),
      6L -> (Seq.fill(1000)("same gram") :+ "other gram"),
      7L -> Seq("éü 世界 x", "naïve café", "İ ß ﬁ"),
      8L -> bigSet)
    .toDF("doc_id", "sh_set")
    .unionByName(Tables(spark, sfDir, "documents").select(
      ($"doc_id" + 1000L).as("doc_id"),
      TextOps.shingles($"text", 3).as("sh_set")))

  private def texts: DataFrame = Seq[(Long, String)](
      1L -> "",                                     // no tokens: no row
      2L -> null,
      3L -> "123 !!! 456",                          // letterless: no row
      4L -> "hello",
      5L -> ("the " * 5000 + "end"),
      6L -> "Ünïcödé naïve café 世界 İstanbul KELVIN",
      7L -> bigSet.mkString(" "))
    .toDF("doc_id", "text")
    .unionByName(Tables(spark, sfDir, "documents").select(
      ($"doc_id" + 1000L).as("doc_id"), $"text"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def bothPaths(f: => Unit): Unit = { f; withNoCodegen(f) }

  // ------------------------------------------------------------- tests

  test("MinHash signatures equal explode + 64 min(lane) aggregates") {
    bothPaths {
      val native = Dedup.minhashFromShingleSets(sets, "doc_id", "sh_set", 64)
      val composed = composedMinhash(sets, 64)
      assert(native.columns.toSeq === composed.columns.toSeq)
      val (n, c) = (rows(native), rows(composed))
      assert(n === c)
      val ids = native.select($"doc_id").as[Long].collect().toSet
      assert(!ids.contains(1L) && !ids.contains(2L),
        "empty and NULL sets get no row")
      assert(ids.contains(3L) && ids.contains(8L))
    }
  }

  test("LSH band hashes equal concat_ws band structs, NULL lanes too") {
    bothPaths {
      val sigs = composedMinhash(sets, 64)
      Seq(2, 4, 8).foreach { r =>
        val native = Dedup.lshBands(sigs, 64, r)
        val composed = composedBands(sigs, 64, r)
        assert(native.columns.toSeq === composed.columns.toSeq)
        assert(rows(native) === rows(composed), s"rows per band $r")
      }
      // a lane count that fills no whole last band ignores the rest
      assert(rows(Dedup.lshBands(sigs, 10, 4)) ===
        rows(composedBands(sigs, 10, 4)))
    }
  }

  test("SimHash fingerprints equal sum(when) votes over (doc, token) " +
    "counts") {
    bothPaths {
      val native = Dedup.simhash(texts, "doc_id", "text", 60)
      val composed = composedSimhash(texts, TextOps.tokens($"text"), 60)
      assert(native.columns.toSeq === composed.columns.toSeq)
      assert(rows(native) === rows(composed))
      val ids = native.select($"doc_id").as[Long].collect().toSet
      assert(Set(1L, 2L, 3L).intersect(ids).isEmpty,
        "no row for text without tokens")
      assert(Set(4L, 5L, 6L, 7L).subsetOf(ids))
      // NULL and repeated elements, fed to the expression directly
      val arrays = Seq[(Long, Seq[String])](
          1L -> Seq(null), 2L -> Seq(null, "a", "a", null),
          3L -> Seq("b"), 4L -> (Seq.fill(300)("x") ++ Seq.fill(299)(null)))
        .toDF("doc_id", "toks")
      val fp = ColumnBridge.column(
        SimHashFp(ColumnBridge.expression($"toks"), 60))
      assert(rows(arrays.select($"doc_id", fp.as("simhash"))) ===
        rows(composedSimhash(arrays, $"toks", 60)))
    }
  }

  test("streaming bucket rows fold the batch band table; a NULL set " +
    "gets none") {
    bothPaths {
      val nonNull = sets.filter($"sh_set".isNotNull)
      val batch = Dedup.lshBands(composedMinhash(nonNull, 64), 64, 4)
        .select($"doc_id",
          shiftleft($"band_hash", 4).bitwiseOR($"band").as("bucket"))
        .as[(Long, Long)].collect().toSet
      val stream = StreamingNearDup.bucketRows(sets, "doc_id", "sh_set")
        .collect().map(b => (b.docId, b.bucket)).toSet
      // the empty set (doc 1) has no composed row; it buckets as all
      // NULL lanes, which is doc 3's signature
      val empty = stream.filter(_._1 == 1L).map(_._2)
      assert(empty.nonEmpty && empty === stream.filter(_._1 == 3L).map(_._2))
      assert(stream.filter(_._1 != 1L) === batch)
      assert(!stream.exists(_._1 == 2L))
    }
  }
}
