package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Warehouse

/** Structured-Streaming restatement of the reference's incremental
  * semantics (SURVEY.md §2.8):
  *
  *  - Airflow 3-hourly cron re-run          → Trigger.AvailableNow over a
  *    landing directory (or ProcessingTime for a live deployment)
  *  - temp-CSV write-ahead + branch resume  → checkpointLocation (offsets
  *    + sink commit log give exactly-once without any branch operator)
  *  - re-scraped duplicate articles         → dropDuplicatesWithinWatermark
  *    keyed by the article surrogate id
  *  - 2-day sentiment lookback              → watermark + windowed agg
  *
  * At cluster scale the landing dir is an object-store prefix written by
  * fetchers; each micro-batch shuffles only its own files.
  */
object NewsStream {

  /** File-landing source with the raw_news schema. maxFilesPerTrigger
    * bounds micro-batch size so one giant backlog doesn't become one
    * giant batch. */
  def landingSource(spark: SparkSession, landingDir: String,
      schema: StructType, maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)

  /** Streaming dedup of re-ingested rows: IDENTICAL re-ingests (same
    * article AND same content) within the watermark window are dropped;
    * a re-scrape with changed content hashes to a new key and flows
    * through so the mart's latest-wins dedup can supersede the old
    * version — without content in the key, dropDuplicates' first-wins
    * would pin the stale version forever. The author joins the dedup
    * key, not `article_key`: each co-author row of an article survives.
    * State is bounded by the watermark — at 100 TB/day this is what
    * keeps the dedup map from growing without limit. */
  def dedupedIngest(raw: DataFrame): DataFrame =
    raw.withColumn("article_key",
        md5(concat_ws("-", col("title"), col("source_name"), col("url"),
          coalesce(col("article_content"), lit("")))))
      .withWatermark("ingest_ts", "2 days")
      .dropDuplicatesWithinWatermark("article_key", "author")

  /** Windowed per-source daily counts with late-data tolerance — the
    * streaming form of the dashboard's daily resample (A9). */
  def dailyCounts(raw: DataFrame): DataFrame =
    raw.withWatermark("publishedat", "1 day")
      .groupBy(window(col("publishedat"), "1 day"), col("source_name"))
      .agg(count(lit(1)).as("n_articles"))
      .select(col("window.start").as("day"), col("source_name"),
        col("n_articles"))

  /** Session-window aggregation: per-source ingestion SESSIONS (bursts
    * of arrivals separated by ≥ `gap` of silence) — the streaming form
    * of the batch sessionize (q41), via the native session_window
    * state merge instead of a per-key sort + lag scan: windows extend
    * and MERGE as rows arrive (out of order within the watermark), and
    * closed sessions evict by watermark, so state is O(open sessions),
    * not O(events seen). At 100 TB/day this is the burst/scrape-run
    * detector over the firehose. */
  def ingestSessions(raw: DataFrame, gap: String = "5 minutes"): DataFrame =
    raw.withWatermark("ingest_ts", "1 day")
      .groupBy(session_window(col("ingest_ts"), gap), col("source_name"))
      .agg(count(lit(1)).as("n_articles"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("source_name"), col("n_articles"))

  /** Stream-static join: each micro-batch of the articles stream is
    * enriched with a warehouse dimension (the outlet→bias/country dim
    * the reference keeps in `config/outletinfo.json`). The static side
    * is re-planned every trigger — dim updates are picked up without
    * restarting the stream — and broadcasts when small, so the stream
    * side never shuffles. */
  def enrichWithSourceDim(articles: DataFrame,
      sourceDim: DataFrame): DataFrame =
    articles.join(broadcast(sourceDim), Seq("source_name"), "left")

  /** Stream-stream join: the articles stream matched with the sentiment
    * results stream (the reference runs these as two DAGs gated by a
    * daily batch handoff; here they meet in-flight). Event-time range
    * join — a sentiment row joins the article it scored only if it
    * arrives within the reference's 2-day lookback window
    * (sentiment_batch.py:64) — plus watermarks on BOTH sides so the
    * state store evicts: article state older than the join window +
    * sentiment watermark and sentiment state behind its own watermark
    * are dropped, keeping state O(window · arrival rate) regardless of
    * stream length. Without the range condition this would be an
    * unbounded-state join Spark rightly refuses in append mode.
    *
    * `joinType` is `"inner"` or `"left_outer"`. The outer form makes
    * every article eventually emit — scored articles as soon as their
    * sentiment arrives, unscored ones as a null-padded row once BOTH
    * watermarks pass the article's 2-day scoring window (the state
    * store can then prove no future sentiment can match, the only
    * sound time to emit the outer row). That is the "which articles
    * never got scored" audit as a continuous query; the inner form
    * drops them silently. */
  def joinSentimentStream(articles: DataFrame, sentiment: DataFrame,
      joinType: String): DataFrame = {
    val a = articles
      .withColumn("article_id",
        md5(concat_ws("-", col("title"), col("source_name"), col("url"))))
      .withWatermark("publishedat", "1 day")
    val sRaw = sentiment
      .withColumnRenamed("ingest_ts", "scored_ts")
      .withColumn("sentiment_mark",
        when(col("sentiment_mark") === "N/A", lit(null))
          .otherwise(col("sentiment_mark")).cast("double"))
      .withWatermark("scored_ts", "1 day")
    a.join(sRaw,
        a("article_id") === sRaw("article_id") &&
        col("scored_ts") >= col("publishedat") &&
        col("scored_ts") <= col("publishedat") + expr("INTERVAL 2 DAYS"),
        joinType)
      .select(a("article_id"), col("title"), col("source_name"),
        col("publishedat"), col("scored_ts"), col("sentiment_mark"),
        col("model"))
  }

  /** Streaming distinct-article cardinality per source via the buffer
    * HLL aggregate (expressions.HllSketchAgg): the state store holds ONE
    * 1 KB sketch buffer per source instead of one state row per distinct
    * key, so continuous distinct tracking at 100 TB/day costs
    * O(sources × 1 KB) state regardless of article cardinality. The
    * cross-micro-batch buffer merge goes through the aggregate's
    * serialize/merge path, so the streaming estimate is bit-identical to
    * the batch one over the same rows (NewsStreamSpec). */
  def distinctArticleSketch(raw: DataFrame): DataFrame =
    graft.functions.Sketches.hllDistinctAgg(raw, "source_name",
      concat_ws("-", col("title"), col("url")))

  /** Streaming heavy-hitter sketch: the count-min matrix
    * (expressions.CmsSketchAgg) as streaming state — per-source title
    * token frequencies tracked continuously in ONE 2 KB buffer per
    * source (element-wise-add merge), the third mergeable sketch in the
    * streaming tier beside HLL distinct and the min-K sample. Exact
    * long addition is order- and batching-independent, so the streamed
    * matrix is cell-for-cell identical to a batch aggregation over the
    * same rows (NewsStreamSpec); any constant probe key's estimate
    * reads `min_l sketch[l·64 + bucket_l]` with plan-time buckets, and
    * CMS's one-sided error (estimate ≥ true count) survives streaming
    * because merge is addition. */
  def titleTokenSketch(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.expressions.CmsSketchAgg(
        ColumnBridge.expression(col("tok")),
        ColumnBridge.expression(lit(1L))).toAggregateExpression())
    raw.select(col("source_name"),
        explode(graft.functions.TextOps.tokens(col("title"))).as("tok"))
      .groupBy(col("source_name")).agg(agg.as("cms"))
  }

  /** Streaming Bloom membership filter: the (word_idx, bits) register
    * form of [[graft.functions.Sketches.bloomWords]] as a streaming
    * aggregation — bit_or is idempotent, commutative and associative,
    * so the streamed words are bit-identical to a batch build over the
    * same rows (NewsStreamSpec) and a probe against the streamed
    * filter keeps the no-false-negative guarantee across restarts.
    * State: O(mBits/63) rows total — the cheapest continuously-
    * maintained "have we ever seen this key" structure there is
    * (vs one state row per key for exact dedup). */
  def seenUrlBloom(raw: DataFrame, mBits: Int = 1024,
      kLanes: Int = 4): DataFrame =
    graft.functions.Sketches.bloomWords(raw, col("url"), "seen-url",
      mBits, kLanes)

  /** Streaming grouped quantile monitoring via the min-K sample
    * aggregate (expressions.MinKSampleAgg): per-source title-length
    * median tracked continuously with O(sources × K) state-store
    * footprint. Membership is hash-decided, so the streamed sample —
    * merged across micro-batches through serialize/merge — is
    * bit-identical to a batch run over the same rows (NewsStreamSpec),
    * the property approx_percentile's arrival-order buffers can't give
    * a restarted stream. */
  def titleLengthSample(raw: DataFrame): DataFrame =
    graft.functions.Sketches.minKSampleAgg(raw, "source_name",
        concat_ws("-", col("title"), col("url")),
        length(col("title")).cast("double"))
      .withColumn("p50", expr(
        "(element_at(array_sort(sample), cast((size(sample)+1)/2 AS INT))" +
          " + element_at(array_sort(sample)," +
          " cast((size(sample)+2)/2 AS INT))) / 2"))

  /** Sink to the warehouse raw_news table with exactly-once checkpoint
    * resume (replaces S5's temp-CSV branch, newsairflowtasks.py:107-113). */
  def toWarehouse(deduped: DataFrame, warehouseDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    deduped.writeStream
      .format("parquet")
      .option("path", s"$warehouseDir/raw_news_stream")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** Drain-available-and-stop helper for batch-style invocations. */
  def runAvailableNow(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    q.awaitTermination()
  }

  /** Incremental mart refresh (the dbt-rebuild step of the reference's
    * 3-hourly DAG, done as merge-on-write instead of full recompute):
    * batch `b` MERGEs its transformed rows into the latest committed
    * mart (new values win, `n_versions` sums) and commits snapshot
    * `v=b+1`, then deletes the superseded versions. An empty batch (the
    * dedup watermark's no-data batches) and a replayed batch write
    * nothing, and a crash mid-write leaves the last version readable.
    * At scale a Delta/Iceberg MERGE INTO replaces the listing-based
    * commit; the rewrite granularity differs. */
  def incrementalArticlesMart(deduped: DataFrame, warehouseDir: String,
      checkpointDir: String, loadTs: String): DataStreamWriter[Row] = {
    import graft.news.NewsTransform
    val martPath = s"$warehouseDir/articles_mart"
    deduped.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the emptiness probe runs every partition once, which the
        // ingest dedup's state stores need to commit; the merge then
        // reads the cached rows
        val rows = batch.persist()
        try {
          if (rows.count() > 0) {
            Warehouse.writeSnapshot(spark, martPath, batchId + 1) { prior =>
              val newRows = NewsTransform.articlesMart(
                NewsTransform.transformed(rows.drop("article_key"), loadTs))
              prior.fold(newRows)(Warehouse.mergeUpsert(_,
                newRows.withColumn("is_delete", lit(false)), "ARTICLE_ID",
                sumCols = Seq("n_versions")))
            }
            Warehouse.dropSupersededSnapshots(spark, martPath)
          }
        } finally rows.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
  }
}
