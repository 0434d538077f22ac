package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Storage layer: parquet warehouse + the reference's file codecs.
  *
  * Scale design: raw tables are append-only parquet partitioned by ingest
  * date; marts are partitioned by publish date so every dashboard /
  * sentiment predicate (F3/F5 date ranges) becomes partition pruning
  * (SURVEY.md §4). At 100 TB this is the difference between scanning a
  * day and scanning the table.
  */
object Warehouse {

  /** Append a batch to an append-only raw table (engine-native form of
    * the reference's Postgres COPY sink, S6: newsairflowtasks.py:73-95). */
  def appendRaw(df: DataFrame, warehouseDir: String, table: String): Unit =
    df.withColumn("ingest_date", to_date(col("ingest_ts")))
      .write.mode(SaveMode.Append)
      .partitionBy("ingest_date")
      .parquet(s"$warehouseDir/$table")

  /** Overwrite a mart table, partitioned by publish date (dbt
    * `+materialized: table` equivalent; ref dbt_project.yml:43-45).
    * Rows are sorted within partitions on the partition-source column —
    * the engine-native form of the reference's `sort='publishedat'`
    * declaration (W1: stg_articles.sql:1-5), giving parquet min/max
    * row-group pruning for time-range predicates. */
  def writeMart(df: DataFrame, warehouseDir: String, table: String,
      partitionCol: Option[String] = None): Unit = {
    val w = partitionCol match {
      case Some(c) => df.withColumn("part_date", to_date(col(c)))
        .sortWithinPartitions(col(c))
        .write.partitionBy("part_date")
      case None => df.write
    }
    w.mode(SaveMode.Overwrite).parquet(s"$warehouseDir/$table")
  }

  def read(spark: SparkSession, warehouseDir: String,
      table: String): DataFrame =
    spark.read.parquet(s"$warehouseDir/$table")

  /** Headerless CSV staging sink in schema column order (S5:
    * newsairflowtasks.py:56-71 — the reference's crash-resume staging
    * file; Structured Streaming checkpoints replace its branch logic,
    * see graft.streaming). */
  def writeStagingCsv(df: DataFrame, schema: StructType,
      path: String): Unit =
    df.select(schema.fieldNames.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("header", "false")
      .csv(path)

  def readStagingCsv(spark: SparkSession, schema: StructType,
      path: String): DataFrame =
    spark.read.schema(schema).option("header", "false").csv(path)

  /** Bucketed managed table: co-locates join/agg keys at write time so
    * repeated joins on `bucketCol` skip their shuffle entirely — the
    * 100 TB answer to "this join runs every 3 hours on the same key"
    * (raw_news ⋈ sentiment on article_id). Requires the session's
    * catalog (saveAsTable); bucket count should match downstream
    * parallelism, not file-size targets. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Z-value of two non-negative int columns: interleave the low
    * `bits` bits (a even positions, b odd) — points close in BOTH
    * dimensions get close z-values, so range-partitioning by z gives
    * every file a small 2-D tile of the key space. Pure bit arithmetic,
    * fully codegen'd. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
        .cast("long")
    }.reduce(_ + _)

  /** Multi-dimensional clustering (z-order) for data skipping: rows are
    * range-partitioned and sorted by the interleaved z-value of two
    * filter dimensions, so parquet file/row-group min-max stats stay
    * tight on BOTH columns — a predicate on either dimension (or a 2-D
    * box) prunes most files, where a single-column sort only serves
    * its own column. The lakehouse OPTIMIZE ZORDER BY, as a write
    * layout. Skipping is measured, not hoped for, in NewsStreamSpec. */
  def writeZOrdered(df: DataFrame, path: String, aCol: String,
      bCol: String, numFiles: Int): Unit =
    df.withColumn("__z", zValue(col(aCol), col(bCol)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC interchange sink/source: columnar alternative for consumers
    * outside the parquet warehouse (Hive-ecosystem handoff). Same
    * pruning properties as parquet (stripe-level min/max, predicate
    * pushdown); schema travels in the file so reads need no external
    * schema. zstd for parity with the parquet side's compression
    * economics at scale. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC bulk-load sink — the engine-native form of the reference's
    * Postgres COPY load (S6: airflow_news/dags/news/newsairflowtasks.py:73-95).
    * Append-mode batched INSERTs through Spark's JDBC writer. Scale
    * posture: every task holds one connection, so the frame is
    * coalesced to a bounded connection count (NOT repartitioned — no
    * shuffle for a sink), and `batchsize` bounds round-trips. The
    * optional `columnTypes` overrides dialect defaults at CREATE time
    * (e.g. VARCHAR widths instead of CLOB, which many DBs can't
    * filter/compare on). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      connections: Int = 8, columnTypes: Option[String] = None): Unit = {
    val base = df.coalesce(connections).write.mode(SaveMode.Append)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", "1000")
    columnTypes.fold(base)(ct =>
      base.option("createTableColumnTypes", ct)).save()
  }

  /** JDBC query source (S8: the reference's parameterized
    * `pd.read_sql(... WHERE publishedat >= %s ...)` reads,
    * sentiment_batch_job_tasks.py:46-60). One connection, one
    * partition — for dimension-sized tables; predicates on the
    * returned frame push into the remote WHERE clause (asserted in
    * JdbcRoundTripSpec). */
  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()

  /** Parallel JDBC source for big tables: `numPartitions` concurrent
    * range-bounded readers on `partitionCol` — the 100 TB form of S8
    * (a single-connection read of a large table serializes the whole
    * extract through one executor). Bounds are inclusive stride
    * endpoints; rows outside them still load (first/last partition
    * predicates are open-ended). */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long,
      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lower.toString)
      .option("upperBound", upper.toString)
      .option("numPartitions", numPartitions.toString)
      .load()

  /** JSONL sink (S9 request files): one JSON object per line. */
  def writeJsonl(df: DataFrame, jsonCol: String, path: String): Unit =
    df.select(col(jsonCol)).write.mode(SaveMode.Overwrite).text(path)

  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Permissive CSV ingest with corrupt-record quarantine: rows that
    * fail the schema land in a quarantine relation (raw text preserved
    * for replay/debugging) instead of killing the job or silently
    * nulling out — the at-scale form of the reference's row validation
    * gate (one bad scraped row must not fail a 3-hourly load). The
    * parsed frame is cached because Spark's CSV reader refuses a query
    * that selects ONLY the corrupt column; the cache also guarantees
    * good/quarantine split from one parse. */
  def readCsvQuarantine(spark: SparkSession, schema: StructType,
      path: String): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt", StringType, nullable = true))
    val parsed = spark.read.schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .cache()
    (parsed.filter(col("_corrupt").isNull).drop("_corrupt"),
      parsed.filter(col("_corrupt").isNotNull)
        .select(col("_corrupt").as("raw_record")))
  }

  /** File-level data skipping via a min/max stats manifest — the layer
    * Delta/Iceberg keep in their logs. Parquet already prunes ROW
    * GROUPS from footers, but only after every file is listed and
    * opened; at 100 TB / millions of files the win is deciding from
    * one small manifest which files to schedule at all. Pair with
    * `writeZOrdered` or a range-partitioned sorted write so per-file
    * ranges are tight — stats on randomly-laid-out data prune nothing.
    * The manifest lives under `_manifest` (underscore-prefixed paths
    * are invisible to Spark's file listing, so plain reads of the
    * table are unaffected). Stats columns: numeric or string. */
  def writeWithManifest(df: DataFrame, path: String,
      statsCols: Seq[String]): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val spark = df.sparkSession
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).json(s"$path/_manifest")
  }

  /** Files whose [min, max] interval overlaps [lo, hi], plus the total
    * file count (for skip-rate assertions/metrics). */
  def prunedFiles(spark: SparkSession, path: String, c: String,
      lo: Any, hi: Any): (Seq[String], Long) = {
    val m = spark.read.json(s"$path/_manifest")
    val sel = m.filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq
    (sel, m.count())
  }

  /** Range read that only schedules manifest-surviving files; the
    * residual filter stays because file granularity over-approximates. */
  def readSkipping(spark: SparkSession, path: String, c: String,
      lo: Any, hi: Any): DataFrame = {
    val (files, _) = prunedFiles(spark, path, c, lo, hi)
    if (files.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else
      spark.read.parquet(files: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Versioned snapshot table with time travel: the caller keys each
    * version (a streaming sink passes batchId + 1), it lands under
    * `v=<version>` and counts once Spark's `_SUCCESS` marker commits it;
    * reads resolve the latest committed (or a pinned) version. A replay
    * is a no-op when a committed version ≥ `version` exists, and an
    * uncommitted leftover of a crashed attempt is overwritten. `next`
    * builds the snapshot from the latest committed one (None on the
    * first write). The single-writer form of a Delta/Iceberg log —
    * multi-writer atomicity needs a log with compare-and-swap, not a
    * listing. */
  def writeSnapshot(spark: SparkSession, path: String, version: Long)(
      next: Option[DataFrame] => DataFrame): Unit = {
    val latest = snapshotVersions(spark, path).lastOption
    if (!latest.exists(_ >= version))
      next(latest.map(v => readSnapshot(spark, path, Some(v))))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/v=$version")
  }

  def readSnapshot(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"no snapshots under $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    spark.read.parquet(s"$path/v=$v")
  }

  /** Committed versions, ascending. */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
      .sorted
  }

  /** Retention for a snapshot table without time travel: deletes every
    * committed version below the latest. */
  def dropSupersededSnapshots(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotVersions(spark, path).dropRight(1)
      .foreach(v => fs.delete(new Path(p, s"v=$v"), true))
  }

  /** MERGE INTO as a relational transform: one full-outer shuffle join
    * on the key produces the next snapshot — WHEN MATCHED [AND delete]
    * THEN DELETE, WHEN MATCHED THEN UPDATE (delta wins, including its
    * NULLs), WHEN NOT MATCHED THEN INSERT. Equivalent to the
    * Delta/Iceberg MERGE semantics the reference's Postgres upsert
    * (ON CONFLICT DO UPDATE) expresses row-at-a-time; here both sides
    * shuffle once on the key and every executor merges its slice —
    * co-locate by bucketing both tables on the key to make the join
    * shuffle-free at 100 TB.
    *
    * @param delta same columns as target plus `deleteFlag` boolean;
    *              rows flagged true are dropped whether or not matched.
    * @param sumCols columns that a match sets to target + delta instead
    *              of the delta's value (a running count such as the
    *              news mart's `n_versions`); a missing side counts 0. */
  def mergeUpsert(target: DataFrame, delta: DataFrame, key: String,
      deleteFlag: String = "is_delete",
      sumCols: Seq[String] = Nil): DataFrame = {
    val cols = target.columns.toSeq
    // prefix-rename BOTH sides: the delta is usually derived from the
    // target, and dataset-qualified columns on a self-join are
    // ambiguous — by-name resolution over disjoint names never is
    val t = target.select(cols.map(c => col(c).as(s"__t_$c")): _*)
    val d = delta.select(
      (cols :+ deleteFlag).map(c => col(c).as(s"__d_$c")): _*)
    val matched = col(s"__d_$key").isNotNull
    t.join(d, col(s"__t_$key") === col(s"__d_$key"), "full_outer")
      .filter(!coalesce(col(s"__d_$deleteFlag"), lit(false)))
      .select(cols.map { c =>
        val (tc, dc) = (col(s"__t_$c"), col(s"__d_$c"))
        (if (sumCols.contains(c)) coalesce(dc, lit(0)) + coalesce(tc, lit(0))
         else when(matched, dc).otherwise(tc)).as(c)
      }: _*)
  }
}
