package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.news.{Enrichment, NewsTransform, Schemas, StubScorer, StubTranslator}
import graft.sources.Warehouse
import graft.streaming.NewsStream

/** news_elt: the reference pipeline, one pass per unit, each pass into a
  * fresh warehouse:
  *
  *  1. ingest the landing micro-batches through the streaming layer
  *     (deduped raw table, then the incremental articles mart);
  *  2. rebuild `transformed` and the star-schema marts from the raw
  *     table and write them to the warehouse;
  *  3. enrich: translate french rows; sentiment candidates → request
  *     JSONL → scoring stand-in → result JSONL → parse → recode → sink;
  *  4. read the marts back for the dashboard aggregates (the timed
  *     queries of this workload).
  */
object NewsElt extends Workload {
  val name = "news_elt"
  val LoadTs = "2026-01-01 00:00:00"
  /** Candidate cutoff and subjects of the engine's own sentiment query
    * (q39), so its oracle SQL applies unchanged. */
  val Cutoff = "2024-01-05"
  val Subjects = Seq("data", "query")
  /** Engine oracle SQL the checks reuse with raw_news swapped for the
    * landing files. */
  val OracleQueries = Seq("q34_news_articles_mart", "q35_news_authors_dim",
    "q37_news_translate", "q39_news_sentiment_roundtrip")

  val ReadbackRounds = 3

  def warmPath(data: String): String = s"$data/landing"

  /** The dashboard aggregates over the written marts. Spark SQL over
    * temp views; run.py replays the same text in DuckDB on the same
    * files. */
  def readbackSql(windows: Seq[String]): Seq[(String, String)] = Seq(
    "sentiment_by_bias" ->
      """SELECT a.BIAS AS bias, count(*) AS n_articles,
        |  avg(NULLIF(CAST(s.sentiment_mark AS DOUBLE), 0.0)) AS avg_mark,
        |  avg(NULLIF(CAST(s.sentiment_poilievre AS DOUBLE), 0.0)) AS avg_poil
        |FROM articles a JOIN sentiment s ON a.ARTICLE_ID = s.article_id
        |WHERE a.NEWS_SOURCE_NAME <> 'rebelnews'
        |GROUP BY a.BIAS""".stripMargin,
    "top_authors" ->
      """SELECT au.AUTHOR_ID AS author_id, au.FIRST_NAME AS first_name,
        |  au.LAST_NAME AS last_name, count(*) AS n_articles
        |FROM bridge b JOIN authors au ON b.AUTHOR_ID = au.AUTHOR_ID
        |GROUP BY au.AUTHOR_ID, au.FIRST_NAME, au.LAST_NAME
        |ORDER BY n_articles DESC, author_id
        |LIMIT 10""".stripMargin,
  ) ++ windows.zipWithIndex.map { case (d, i) =>
    val end = java.time.LocalDate.parse(d).plusDays(3)
    s"daily_counts_$i" ->
      s"""SELECT part_date AS day, NEWS_SOURCE_NAME AS source, count(*) AS n
         |FROM articles
         |WHERE part_date >= DATE '$d' AND part_date < DATE '$end'
         |GROUP BY part_date, NEWS_SOURCE_NAME""".stripMargin
  }

  def run(ctx: Ctx, ph: Phase, seconds: Double): Unit = {
    implicit val formats: Formats = DefaultFormats
    val windows = (Json.read(s"${ctx.data}/sequence.json") \ "windows")
      .extract[Seq[String]]
    val t0 = System.nanoTime()
    var p = 0
    var ok = true
    while (ok && (p == 0 || elapsedSince(t0) < seconds)) {
      val dir = s"${ctx.work}/pass_$p"
      val keep = p == 0
      val u0 = System.nanoTime()
      try {
        val rows = pass(ctx.spark, s"${ctx.data}/landing", dir, windows, ph)
        ph.units += (System.nanoTime() - u0) / 1e9
        if (keep) {
          ctx.outputs("warehouse") = s"$dir/wh"
          ctx.outputs("readback") = rows.map { case (label, (schema, data)) =>
            label -> Results.encode(schema, data) }
          ctx.outputs("readback_sql") = readbackSql(windows).toMap
          ctx.outputs("news_oracles") = OracleQueries.map(q =>
            q -> graft.SparkEntry.oracleSql(q)).toMap
        }
      } catch { case t: Throwable => ph.fail(s"pass $p", t); ok = false }
      if (!keep) deleteTree(new File(dir))
      p += 1
    }
  }

  private def pass(spark: SparkSession, landing: String, dir: String,
      windows: Seq[String], ph: Phase)
      : Map[String, (org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row])] = {
    val wh = s"$dir/wh"
    def landed(): DataFrame =
      NewsStream.landingSource(spark, landing, Schemas.rawNews,
        maxFilesPerTrigger = 1)

    ph.op("streaming.ingest") {
      NewsStream.runAvailableNow(NewsStream.toWarehouse(
        NewsStream.dedupedIngest(landed()), wh, s"$dir/ckpt/raw"))
    }
    ph.op("streaming.incremental_mart") {
      NewsStream.runAvailableNow(NewsStream.incrementalArticlesMart(
        NewsStream.dedupedIngest(landed()), wh, s"$dir/ckpt/mart", LoadTs))
    }

    val raw = ph.op("sources.read") {
      Warehouse.read(spark, wh, "raw_news_stream").drop("article_key")
    }
    val tr = ph.op("news.transform") {
      val t = NewsTransform.transformed(raw, LoadTs).persist()
      t.count()
      t
    }
    ph.op("news.marts") {
      ph.op("sources.write.articles") {
        Warehouse.writeMart(NewsTransform.articlesMart(tr), wh, "articles",
          Some("PUBLISHEDAT"))
      }
      ph.op("sources.write.authors") {
        Warehouse.writeMart(NewsTransform.authorsDim(tr), wh, "authors")
      }
      ph.op("sources.write.sources") {
        Warehouse.writeMart(NewsTransform.sourcesDim(tr), wh, "sources")
      }
      ph.op("sources.write.bridge") {
        Warehouse.writeMart(NewsTransform.bridge(tr), wh, "bridge")
      }
    }
    tr.unpersist()

    ph.op("news.enrich") {
      ph.op("sources.write.raw_news_en") {
        Warehouse.appendRaw(Enrichment.translateFrench(raw, StubTranslator),
          wh, "raw_news_en")
      }
      val articles = ph.op("sources.read") {
        Warehouse.read(spark, wh, "articles")
      }
      val requests = Enrichment.buildRequests(
        Enrichment.sentimentCandidates(articles, Cutoff, Subjects)
          .withColumn("CLEAN_CONTENT",
            Enrichment.cleanContent(col("ARTICLE_CONTENT"))))
      ph.op("sources.write.sentiment_requests") {
        Warehouse.writeJsonl(requests, "request", s"$wh/sentiment_requests")
      }
      // stand-in for the batch scoring service: answers each request
      // line with a result line in the reference's JSONL shape
      val answered = ph.op("sources.read") {
        Warehouse.readJsonl(spark, s"$wh/sentiment_requests")
      }.select(
          get_json_object(col("value"), "$.custom_id").as("custom_id"),
          get_json_object(col("value"), "$.body.content").as("text"))
        .select(to_json(struct(col("custom_id"),
          struct(struct(array(struct(struct(to_json(struct(
            StubScorer.score(col("text"), Subjects(0)).as("sentiment_mark"),
            StubScorer.score(col("text"), Subjects(1))
              .as("sentiment_poilievre"))).as("content")).as("message")))
            .as("choices")).as("body")).as("response"))).as("value"))
      ph.op("sources.write.sentiment_results") {
        Warehouse.writeJsonl(answered, "value", s"$wh/sentiment_results")
      }
      val results = ph.op("sources.read") {
        Warehouse.readJsonl(spark, s"$wh/sentiment_results")
      }
      val scored = Enrichment.recodeNA(Enrichment.parseResults(results),
        Seq("sentiment_mark", "sentiment_poilievre"))
      ph.op("sources.write.sentiment") {
        Warehouse.writeMart(scored, wh, "sentiment")
      }
    }

    ph.op("sources.read") {
      for (t <- Seq("articles", "authors", "bridge", "sentiment"))
        Warehouse.read(spark, wh, t).createOrReplaceTempView(t)
    }
    // the dashboard refreshes its panels a few times; the first round's
    // results are the ones checked
    val rounds = (1 to ReadbackRounds).map { _ =>
      readbackSql(windows).map { case (label, sql) =>
        label -> ph.query("sources.readback", label) {
          val df = spark.sql(sql)
          (df.schema, df.collect())
        }
      }.toMap
    }
    rounds.head
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
