package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.news.Schemas
import graft.sources.Warehouse
import graft.streaming.NewsStream

/** End-to-end streaming semantics: landing-dir ingest, in-stream dedup,
  * checkpointed exactly-once resume across restarts. */
class NewsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkRow(id: Long, title: String, ingest: String): Row =
    Row(id, "globalnews", "ca", "politics", "Jane Doe", null, null, title,
      null, s"https://news/$title", ts("2024-01-01 00:00:00"), "content",
      "left", "english", ts(ingest))

  private def writeBatch(dir: String, rows: Seq[Row]): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.rawNews)
      .coalesce(1).write.mode("append").parquet(dir)

  private def logIds(checkpoint: String, log: String): Seq[Long] =
    new java.io.File(s"$checkpoint/$log").list().toSeq
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted

  /** Crash after batch `id`'s sink write, before its commit-log entry:
    * its commit and every later batch's log entries are deleted, so a
    * restart replays batch `id`. */
  private def uncommit(checkpoint: String, id: Long): Unit =
    for ((log, from) <- Seq("commits" -> id, "offsets" -> (id + 1));
         j <- logIds(checkpoint, log) if j >= from;
         name <- Seq(s"$j", s".$j.crc"))
      new java.io.File(s"$checkpoint/$log/$name").delete()

  test("streaming ingest dedups re-scraped articles and resumes " +
    "exactly-once from checkpoint") {
    val base = Files.createTempDirectory("graft-stream").toString
    val landing = s"$base/landing"
    val warehouse = s"$base/warehouse"
    val checkpoint = s"$base/checkpoint"

    // batch 1: two articles, one duplicated within the batch, the other
    // with two co-authors (one row each)
    def coAuthor(r: Row): Row = Row.fromSeq(r.toSeq.updated(4, "John Roe"))
    writeBatch(landing, Seq(
      mkRow(1, "T1", "2024-01-01 00:00:00"),
      mkRow(2, "T1", "2024-01-01 01:00:00"),
      mkRow(3, "T2", "2024-01-01 00:30:00"),
      coAuthor(mkRow(6, "T2", "2024-01-01 00:30:00"))))

    def runOnce(): Unit = NewsStream.runAvailableNow(
      NewsStream.toWarehouse(
        NewsStream.dedupedIngest(
          NewsStream.landingSource(spark, landing, Schemas.rawNews)),
        warehouse, checkpoint))

    runOnce()
    val out1 = Warehouse.read(spark, warehouse, "raw_news_stream")
    assert(out1.select($"article_key").distinct().count() == 2)
    assert(out1.count() == 3, "in-batch duplicate not dropped")
    assert(out1.filter($"title" === "T2").select($"author").as[String]
      .collect().toSet === Set("Jane Doe", "John Roe"),
      "a co-author row was lost")

    // batch 2: re-scrapes of both T2 co-author rows (cross-batch dups) +
    // new T3; restart the stream from the same checkpoint — batch 1
    // files must not replay
    writeBatch(landing, Seq(
      mkRow(4, "T2", "2024-01-01 02:00:00"),
      coAuthor(mkRow(7, "T2", "2024-01-01 02:00:00")),
      mkRow(5, "T3", "2024-01-01 02:30:00")))
    runOnce()
    val out2 = Warehouse.read(spark, warehouse, "raw_news_stream")
    assert(out2.count() == 4,
      s"expected 4 rows after resume, got ${out2.count()}")
    assert(out2.select($"article_key").distinct().count() == 3)
  }

  test("streaming daily counts with watermark produce per-day totals") {
    val base = Files.createTempDirectory("graft-stream2").toString
    val landing = s"$base/landing"
    writeBatch(landing, Seq(
      mkRow(1, "A", "2024-01-01 00:00:00"),
      mkRow(2, "B", "2024-01-01 01:00:00"),
      mkRow(3, "C", "2024-01-01 02:00:00")))
    val q = NewsStream.dailyCounts(
        NewsStream.landingSource(spark, landing, Schemas.rawNews))
      .writeStream.format("memory").queryName("daily_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("daily_counts").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_articles") == 3)
  }

  test("streaming session windows merge bursts and split on the gap") {
    val base = Files.createTempDirectory("graft-sess").toString
    val landing = s"$base/landing"
    // burst of 3 inside 5-min gaps, then 10 min of silence, then 1 more
    writeBatch(landing, Seq(
      mkRow(1, "T1", "2024-01-01 00:00:00"),
      mkRow(2, "T2", "2024-01-01 00:04:00"),
      mkRow(3, "T3", "2024-01-01 00:08:00"),
      mkRow(4, "T4", "2024-01-01 00:18:30")))
    val q = NewsStream.ingestSessions(
        NewsStream.landingSource(spark, landing, Schemas.rawNews))
      .writeStream.format("memory").queryName("ingest_sessions")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("ingest_sessions")
      .orderBy($"session_start").collect()
    assert(out.length == 2, s"expected 2 sessions, got ${out.length}")
    assert(out(0).getAs[Long]("n_articles") == 3)
    // session end = last event + gap (the merge extended the window)
    assert(out(0).getAs[Timestamp]("session_end")
      == ts("2024-01-01 00:13:00"))
    assert(out(1).getAs[Long]("n_articles") == 1)
    assert(out(1).getAs[Timestamp]("session_start")
      == ts("2024-01-01 00:18:30"))
  }

  test("incremental mart refresh: latest re-ingest wins across batches") {
    val base = Files.createTempDirectory("graft-inc").toString
    val landing = s"$base/landing"
    def row(id: Long, title: String, content: String,
        ingest: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, "globalnews", "ca", "politics",
        "Jane Doe", null, null, title, null, s"https://news/$title",
        ts("2024-01-01 00:00:00"), content, "left", "english", ts(ingest))
    def run(): Unit = NewsStream.runAvailableNow(
      NewsStream.incrementalArticlesMart(
        NewsStream.dedupedIngest(
          NewsStream.landingSource(spark, landing, Schemas.rawNews)),
        base, s"$base/ckpt", "2026-01-01 00:00:00"))

    writeBatch(landing, Seq(
      row(1, "T1", "first version content", "2024-01-01 00:00:00"),
      row(2, "T2", "other article", "2024-01-01 00:00:00")))
    val mart = s"$base/articles_mart"
    run()
    val m1 = Warehouse.readSnapshot(spark, mart)
    assert(m1.count() == 2)

    // re-ingest T1 with content that differs ONLY after the 50-char
    // clean-prefix: passes the content-hash ingest dedup (new hash) but
    // keeps the same ARTICLE_ID — the merge must supersede values and
    // SUM the version counts — plus one genuinely new article
    val longContent = "first version content padded out well beyond the " +
      "fifty character clean prefix boundary ORIGINAL tail"
    val changedTail = longContent.replace("ORIGINAL", "CHANGED")
    writeBatch(landing, Seq(
      row(3, "T9", longContent, "2024-01-01 12:00:00"),
      row(4, "T3", "third article", "2024-01-02 00:00:00")))
    run()
    writeBatch(landing, Seq(
      row(5, "T9", changedTail, "2024-01-03 00:00:00")))
    // the watermark's no-data batches follow data batches, so the
    // batch that carried the changed T9 is the first of this run
    val t9Batch = logIds(s"$base/ckpt", "commits").last + 1
    run()
    val m2 = Warehouse.readSnapshot(spark, mart)
    assert(m2.count() == 4, s"expected 4 mart rows, got ${m2.count()}")
    val t9 = m2.filter(col("TITLE") === "T9")
      .select(col("n_versions"), col("ARTICLE_CONTENT")).head()
    assert(t9.getLong(0) == 2L,
      s"cumulative versions should sum to 2, got ${t9.getLong(0)}")
    assert(t9.getString(1).contains("CHANGED"),
      "latest re-ingest's content must win")
    // superseded versions are deleted: one committed version remains,
    // the changed T9's; the no-data batches after it commit nothing
    val versions = Warehouse.snapshotVersions(spark, mart)
    assert(versions == Seq(t9Batch + 1),
      s"expected only the T9 batch's version ${t9Batch + 1}, got $versions")

    // crash after the changed T9's mart commit, before its checkpoint
    // commit: the restart replays that batch, which must not merge twice
    val clean = m2.collect().toSet
    uncommit(s"$base/ckpt", t9Batch)
    run()
    assert(Warehouse.snapshotVersions(spark, mart) === versions)
    assert(Warehouse.readSnapshot(spark, mart).collect().toSet === clean,
      "a replayed batch changed the mart")
  }

  test("stream-stream join matches sentiment to articles within the " +
    "2-day lookback window only") {
    val base = Files.createTempDirectory("graft-ssj").toString
    val (aDir, sDir) = (s"$base/articles", s"$base/sentiment")
    def aid(title: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$title-globalnews-https://news/$title".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    writeBatch(aDir, Seq(
      mkRow(1, "T1", "2024-01-01 00:00:00"),
      mkRow(2, "T2", "2024-01-01 00:00:00")))
    val sentRows = Seq(
      Row(1L, aid("T1"), "0.35", "0.70", "m1",
        ts("2024-01-01 12:00:00")), // in window → joins
      Row(2L, aid("T2"), "0.50", "N/A", "m1",
        ts("2024-01-06 00:00:00")), // past the 2-day lookback → dropped
      Row(3L, "nosuch", "0.10", "0.10", "m1",
        ts("2024-01-01 01:00:00"))) // unknown article → dropped
    spark.createDataFrame(
        spark.sparkContext.parallelize(sentRows), Schemas.sentimentRaw)
      .coalesce(1).write.mode("append").parquet(sDir)
    val joined = NewsStream.joinSentimentStream(
      spark.readStream.schema(Schemas.rawNews).parquet(aDir),
      spark.readStream.schema(Schemas.sentimentRaw).parquet(sDir), "inner")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("ssj").collect()
    assert(out.length == 1, s"expected 1 joined row, got ${out.length}")
    assert(out.head.getAs[String]("title") == "T1")
    assert(out.head.getAs[Double]("sentiment_mark") == 0.35)
  }

  test("stream-stream LEFT OUTER join emits unmatched articles " +
    "null-padded only after both watermarks close their window") {
    val base = Files.createTempDirectory("graft-ssjo").toString
    val (aDir, sDir, ckpt) =
      (s"$base/articles", s"$base/sentiment", s"$base/ckpt")
    def aid(title: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$title-globalnews-https://news/$title".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // mkRow pins publishedat; the outer join needs per-article times
    def mkRowP(id: Long, title: String, pub: String): Row =
      Row(id, "globalnews", "ca", "politics", "Jane Doe", null, null,
        title, null, s"https://news/$title", ts(pub), "content",
        "left", "english", ts(pub))
    def sentRow(id: Long, article: String, scored: String): Row =
      Row(id, article, "0.35", "0.70", "m1", ts(scored))
    def writeSent(rows: Seq[Row]): Unit =
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows), Schemas.sentimentRaw)
        .coalesce(1).write.mode("append").parquet(sDir)
    // file sink (not memory): the test restarts from the checkpoint,
    // which only fault-tolerant sinks support
    val outDir = s"$base/out"
    def runOnce(): Array[Row] = {
      val q = NewsStream.joinSentimentStream(
          spark.readStream.schema(Schemas.rawNews).parquet(aDir),
          spark.readStream.schema(Schemas.sentimentRaw).parquet(sDir),
          "left_outer")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).collect()
    }
    // batch 1: A1 gets scored in-window, A2 never gets scored
    writeBatch(aDir, Seq(
      mkRowP(1, "A1", "2024-01-01 00:00:00"),
      mkRowP(2, "A2", "2024-01-01 00:00:00")))
    writeSent(Seq(sentRow(1, aid("A1"), "2024-01-01 12:00:00")))
    val out1 = runOnce()
    assert(out1.count(_.getAs[String]("title") == "A1") == 1,
      "in-window match must emit immediately")
    assert(!out1.exists(r => r.getAs[String]("title") == "A2"),
      "A2's window is still open — the outer row must NOT emit yet")
    // batch 2: far-future rows on BOTH sides advance both watermarks
    // past A2's pub + 2-day window, proving no sentiment can ever match
    writeBatch(aDir, Seq(mkRowP(3, "A3", "2024-02-01 00:00:00")))
    writeSent(Seq(sentRow(2, "nosuch", "2024-02-05 00:00:00")))
    val out2 = runOnce()
    val a2 = out2.filter(_.getAs[String]("title") == "A2")
    assert(a2.length == 1,
      s"closed-window unmatched article must emit exactly once, " +
        s"got ${a2.length}")
    assert(a2.head.getAs[Timestamp]("scored_ts") == null &&
      a2.head.isNullAt(a2.head.fieldIndex("sentiment_mark")),
      "outer row must be null-padded on the sentiment side")
    assert(!out2.exists(_.getAs[String]("title") == "A3"),
      "A3's window is still open — it must stay in state, not emit")
    assert(out2.count(_.getAs[String]("title") == "A1") == 1,
      "A1's match must not re-emit on restart (exactly-once)")
  }

  test("stream-static join enriches micro-batches from the dimension") {
    val base = Files.createTempDirectory("graft-ssd").toString
    writeBatch(s"$base/landing", Seq(
      mkRow(1, "T1", "2024-01-01 00:00:00"),
      mkRow(2, "T2", "2024-01-01 01:00:00")))
    val dim = Seq(("globalnews", "centre-ish", 9),
        ("cbc", "public", 1))
      .toDF("source_name", "bias_label", "rank")
    val q = NewsStream.enrichWithSourceDim(
        NewsStream.landingSource(spark, s"$base/landing", Schemas.rawNews),
        dim)
      .writeStream.format("memory").queryName("ssd")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("ssd")
    assert(out.count() == 2)
    assert(out.filter($"bias_label" === "centre-ish").count() == 2,
      "every globalnews row must pick up the dim attributes")
  }

  test("streaming HLL sketch equals the batch estimate across " +
    "micro-batches") {
    val base = Files.createTempDirectory("graft-hll").toString
    val landing = s"$base/landing"
    // two landing files → two micro-batches (maxFilesPerTrigger=1), with
    // overlapping articles so the cross-batch buffer merge is exercised
    writeBatch(landing, (1 to 40).map(i =>
      mkRow(i.toLong, s"T$i", "2024-01-01 00:00:00")))
    writeBatch(landing, (30 to 70).map(i =>
      mkRow(i.toLong, s"T$i", "2024-01-01 01:00:00")))
    val q = NewsStream.distinctArticleSketch(
        NewsStream.landingSource(spark, landing, Schemas.rawNews,
          maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("hll_stream")
      .as[(String, Double)].collect().toMap
    val batch = graft.functions.Sketches.hllDistinctAgg(
        spark.read.parquet(landing), "source_name",
        concat_ws("-", $"title", $"url"))
      .as[(String, Double)].collect().toMap
    assert(streamed == batch,
      s"stream $streamed must be bit-identical to batch $batch")
    // 70 distinct titles → the estimate must be in HLL's error band
    val est = streamed("globalnews")
    assert(est > 55 && est < 85, s"estimate $est implausible for 70")
  }

  test("streaming min-K sample equals the batch sample across micro-batches") {
    val base = Files.createTempDirectory("graft-mink").toString
    val landing = s"$base/landing"
    writeBatch(landing, (1 to 40).map(i =>
      mkRow(i.toLong, s"T$i", "2024-01-01 00:00:00")))
    writeBatch(landing, (30 to 70).map(i =>
      mkRow(i.toLong, s"T$i", "2024-01-01 01:00:00")))
    val q = NewsStream.titleLengthSample(
        NewsStream.landingSource(spark, landing, Schemas.rawNews,
          maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("mink_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("mink_stream")
      .select($"source_name", $"sample", $"p50")
      .as[(String, Seq[Double], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = NewsStream.titleLengthSample(spark.read.parquet(landing))
      .as[(String, Seq[Double], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch,
      "streamed sample must be bit-identical to batch over the same rows")
    // sanity: median of 'T1'..'T70' lengths (2 or 3 chars) is 3
    assert(streamed.values.forall { case (s, p50) =>
      s.nonEmpty && p50 >= 2.0 && p50 <= 3.0 })
  }

  test("streaming cluster state folds batches incrementally with " +
    "time-travelable snapshots") {
    import graft.streaming.ClusterState
    val base = Files.createTempDirectory("graft-cc").toString
    val landing = s"$base/edges"
    val state = s"$base/state"
    def writeEdges(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("src", "dst").repartition(1)
        .write.mode("append").parquet(landing)
    // batch 1: {1,2}, {5,6}; batch 2: bridge 2-5 + new node 0 into {1,2}.
    // FileStreamSource orders files by modification time — space the
    // writes so the two batches can't share an mtime tick
    writeEdges(Seq((1L, 2L), (5L, 6L)))
    Thread.sleep(1100)
    writeEdges(Seq((2L, 5L), (0L, 1L)))
    val edges = spark.readStream
      .schema("src BIGINT, dst BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    def run(): Unit =
      ClusterState.sink(edges, state, s"$base/ckpt").start()
        .awaitTermination()
    run()
    assert(Warehouse.snapshotVersions(spark, state) === Seq(1L, 2L))
    val fin = Warehouse.readSnapshot(spark, state)
      .as[(Long, Long)].collect().toMap
    val full = graft.functions.ConnectedComponents.minLabel(
      Seq(0L, 1L, 2L, 5L, 6L).toDF("id"),
      Seq((1L, 2L), (5L, 6L), (2L, 5L), (0L, 1L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(fin === full, s"streamed state $fin vs full recompute $full")
    // time travel: before the bridge, 5 led its own cluster
    val v1 = Warehouse.readSnapshot(spark, state, Some(1L))
      .as[(Long, Long)].collect().toMap
    assert(v1(5L) === 5L && v1(6L) === 5L && !v1.contains(0L))
    // a batch replayed after its snapshot committed writes no new version
    uncommit(s"$base/ckpt", logIds(s"$base/ckpt", "commits").last)
    run()
    assert(Warehouse.snapshotVersions(spark, state) === Seq(1L, 2L))
    assert(Warehouse.readSnapshot(spark, state)
      .as[(Long, Long)].collect().toMap === fin)
  }

  test("CSV staging codec round-trips the raw_news schema") {
    val base = Files.createTempDirectory("graft-csv").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        mkRow(1, "T1", "2024-01-01 00:00:00"),
        mkRow(2, "T2", "2024-01-01 01:00:00"))), Schemas.rawNews)
    Warehouse.writeStagingCsv(df, Schemas.rawNews, s"$base/stage")
    val back = Warehouse.readStagingCsv(spark, Schemas.rawNews,
      s"$base/stage")
    assert(back.count() == 2)
    assert(back.schema.fieldNames.sameElements(Schemas.rawNews.fieldNames))
    assert(back.select($"title").as[String].collect().toSet ==
      Set("T1", "T2"))
  }

  test("ORC interchange round-trips the raw_news schema with pushdown") {
    val base = Files.createTempDirectory("graft-orc").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        mkRow(1, "T1", "2024-01-01 00:00:00"),
        mkRow(2, "T2", "2024-01-01 01:00:00"))), Schemas.rawNews)
    Warehouse.writeOrc(df, s"$base/orc")
    val back = Warehouse.readOrc(spark, s"$base/orc")
    assert(back.schema.fieldNames.sameElements(Schemas.rawNews.fieldNames))
    assert(back.count() == 2)
    // predicate reaches the ORC scan (stripe pruning at scale)
    val plan = back.filter($"title" === "T1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(title), " +
      "EqualTo(title,T1)]"), s"filter not pushed:\n$plan")
  }

  test("z-order layout keeps both dimensions skippable; single-column " +
    "sort serves only its own") {
    import org.apache.spark.sql.functions.input_file_name
    val base = Files.createTempDirectory("graft-z").toString
    val grid = spark.range(256L * 256L)
      .select(($"id" % 256).cast("int").as("x"),
        ($"id" / 256).cast("int").as("y"))
    val files = 16
    // layout A: sorted by x only
    grid.repartitionByRange(files, $"x").sortWithinPartitions($"x")
      .write.parquet(s"$base/by_x")
    // layout B: z-ordered on (x, y)
    Warehouse.writeZOrdered(grid, s"$base/by_z", "x", "y", files)
    def filesWithRows(path: String): Long =
      spark.read.parquet(path).filter($"y" < 16)
        .select(input_file_name()).distinct().count()
    val xFiles = filesWithRows(s"$base/by_x")
    val zFiles = filesWithRows(s"$base/by_z")
    // a y-predicate finds its rows smeared over every x-sorted file,
    // but confined to a few z-tiles (≤ half even when
    // repartitionByRange's sampled boundaries straddle tile edges)
    assert(xFiles === files,
      s"x-sort must spread y-rows over all $files files, got $xFiles")
    assert(zFiles <= files / 2,
      s"z-order must confine y-rows to a few tiles, got $zFiles")
    // and the z layout still serves x-predicates
    val zxFiles = spark.read.parquet(s"$base/by_z").filter($"x" < 16)
      .select(input_file_name()).distinct().count()
    assert(zxFiles <= files / 2,
      s"z-order must also confine x-rows, got $zxFiles")
  }

  test("manifest data skipping schedules only overlapping files, " +
    "result-identical to the full scan") {
    val base = Files.createTempDirectory("graft-m").toString
    val path = s"$base/tbl"
    val data = spark.range(100000L)
      .select($"id", ($"id" % 1000).as("k"))
      .repartitionByRange(16, $"id").sortWithinPartitions($"id")
    Warehouse.writeWithManifest(data, path, Seq("id"))
    // plain reads are unaffected by the underscore-prefixed manifest
    assert(spark.read.parquet(path).count() === 100000L)
    val (sel, total) = Warehouse.prunedFiles(spark, path, "id", 10000L, 19999L)
    assert(total === 16L)
    assert(sel.nonEmpty && sel.length <= 3,
      s"a 10% range must hit ~2 of 16 range-sorted files, got ${sel.length}")
    val got = Warehouse.readSkipping(spark, path, "id", 10000L, 19999L)
    assert(got.count() === 10000L)
    assert(got.agg(org.apache.spark.sql.functions.sum($"id")).head.getLong(0)
      === (10000L to 19999L).sum)
    // empty overlap short-circuits to an empty relation
    assert(Warehouse.readSkipping(spark, path, "id", -5000L, -1L)
      .count() === 0L)
  }

  test("quarantine CSV ingest splits good rows from corrupt, keeping raw text") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-q").toString
    val f = new java.io.PrintWriter(s"$dir/in.csv")
    f.println("id,score")
    f.println("1,10.5")
    f.println("not-a-number,oops,extra")
    f.println("2,20.0")
    f.close()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("score", DoubleType)))
    val (good, quarantine) =
      Warehouse.readCsvQuarantine(spark, schema, s"$dir/in.csv")
    assert(good.orderBy($"id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.5), (2L, 20.0)))
    val bad = quarantine.as[String].collect()
    assert(bad.length === 1 && bad.head.startsWith("not-a-number"),
      s"quarantine must keep the raw row: ${bad.toSeq}")
  }

  test("warehouse mart write partitions by date for pruning") {
    val base = Files.createTempDirectory("graft-wh").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        mkRow(1, "T1", "2024-01-01 00:00:00"),
        mkRow(2, "T2", "2024-01-02 01:00:00"))), Schemas.rawNews)
    Warehouse.writeMart(df, base, "articles", Some("ingest_ts"))
    val dirs = new java.io.File(s"$base/articles").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("part_date=2024-01-01")))
    assert(dirs.exists(_.startsWith("part_date=2024-01-02")))
    // pruned read touches one partition
    val pruned = spark.read.parquet(s"$base/articles")
      .filter($"part_date" === "2024-01-01")
    assert(pruned.count() == 1)
  }

  test("streaming CMS token sketch is cell-identical to batch and " +
    "keeps one-sided error") {
    val base = Files.createTempDirectory("graft-cms").toString
    val landing = s"$base/landing"
    // "alpha" planted 25x across two micro-batches; filler varies
    writeBatch(landing, (1 to 40).map(i =>
      mkRow(i.toLong, if (i <= 15) s"alpha w$i" else s"beta w$i",
        "2024-01-01 00:00:00")))
    writeBatch(landing, (41 to 70).map(i =>
      mkRow(i.toLong, if (i <= 50) s"alpha w$i" else s"gamma w$i",
        "2024-01-01 01:00:00")))
    val q = NewsStream.titleTokenSketch(
        NewsStream.landingSource(spark, landing, Schemas.rawNews,
          maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cms_stream")
      .as[(String, Seq[Long])].collect().toMap
    val batch = NewsStream.titleTokenSketch(spark.read.parquet(landing))
      .as[(String, Seq[Long])].collect().toMap
    assert(streamed === batch,
      "streamed CMS must be cell-for-cell identical to batch")
    // one-sided error on the planted token: estimate >= 25
    val sk = streamed("globalnews")
    val est = (0 until 4).map { l =>
      val h = graft.functions.Hashing.hash60("alpha") & 0x7fffffffL
      val b = graft.expressions.CmsSketchAgg.bucket(h, l)
      sk(l * 64 + b)
    }.min
    assert(est >= 25, s"CMS estimate $est below true count 25")
  }

  test("transformWithState capped balance equals the batch fold " +
    "across micro-batches") {
    import graft.streaming.CappedBalance
    import graft.streaming.CappedBalance.{Balance, Delta}
    val base = Files.createTempDirectory("graft-twstate").toString
    val landing = s"$base/landing"
    // two chronological batches; deltas oscillate so the zero floor
    // genuinely engages (user 2 dips negative mid-stream)
    val b1 = Seq(
      Delta(1L, 1000L, 1L, 500L), Delta(1L, 2000L, 2L, -200L),
      Delta(2L, 1500L, 3L, 100L), Delta(2L, 2500L, 4L, -400L))
    val b2 = Seq(
      Delta(1L, 3000L, 5L, -250L), Delta(2L, 3500L, 6L, 300L),
      Delta(3L, 4000L, 7L, -50L))
    b1.toDS().coalesce(1).write.mode("append").parquet(landing)
    b2.toDS().coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Delta]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing).as[Delta]
    // transformWithState needs the RocksDB provider (multiple column
    // families); scope it to this query and restore the default after
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val q = CappedBalance.run(stream)
        .writeStream.format("memory").queryName("tws_balance")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    // latest row per user = the one with the highest event count
    val streamed = spark.table("tws_balance").as[Balance]
      .collect().groupBy(_.userId)
      .map { case (u, rs) => u -> rs.maxBy(_.nEvents).cappedBalance }
    val want = (b1 ++ b2).groupBy(_.userId).map { case (u, ds) =>
      u -> ds.sortBy(d => (d.tsMicros, d.eventId))
        .foldLeft(0L)((acc, d) => math.max(0L, acc + d.cents))
    }
    assert(streamed === want,
      "streamed capped balances must equal the batch fold")
    // floor engaged: user 2 would be -300+300=0+300 without history,
    // with floor: 100-400→0, then +300→300
    assert(streamed(2L) === 300L)
    assert(streamed(1L) === 50L) // 500-200=300, 300-250=50
  }

  test("streaming Bloom words are bit-identical to batch and keep " +
    "no-false-negatives across micro-batches") {
    val base = Files.createTempDirectory("graft-bloom").toString
    val landing = s"$base/landing"
    writeBatch(landing, (1 to 30).map(i =>
      mkRow(i.toLong, s"t$i", "2024-01-01 00:00:00")))
    writeBatch(landing, (31 to 60).map(i =>
      mkRow(i.toLong, s"t$i", "2024-01-01 01:00:00")))
    val q = NewsStream.seenUrlBloom(
        NewsStream.landingSource(spark, landing, Schemas.rawNews,
          maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("bloom_stream")
      .as[(Long, Long)].collect().toMap
    val all = spark.read.parquet(landing)
    val batch = NewsStream.seenUrlBloom(all)
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch,
      "streamed Bloom words must equal the batch build")
    // no false negatives: every ingested url probes as a hit
    val bloom = spark.table("bloom_stream")
    val probed = graft.functions.Sketches.bloomProbe(
      all.select($"url"), $"url", bloom, "seen-url", 1024, 4)
    assert(probed.filter(!$"bloom_hit").count() === 0,
      "a seen key must never probe as a miss")
  }
}
