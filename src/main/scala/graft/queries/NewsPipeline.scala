package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.news.{Enrichment, NewsTransform, StubScorer, StubTranslator}

/** Integration queries: the full news-pipeline composition (staging →
  * transformed → marts → enrichment → dashboard) running on a synthetic
  * `raw_news` deterministically derived from the testdata tables, with a
  * single shared DuckDB CTE-chain oracle mirroring every stage.
  *
  * This is the "could a reference user switch" surface: the operators
  * exercised piecewise by q01-q21 here run in their real composition —
  * blacklist filters, trim/normalize, three window backfills, date
  * repair, surrogate keys, latest-wins dedup, dims, sentiment scoring
  * and dashboard aggregation — fused by Catalyst into one plan.
  */
object NewsPipeline {

  private val LoadTs = "2026-01-01 00:00:00"

  /** The `transformed` view and the articles mart are the shared trunk of
    * four queries (q33/q34/q36/q39) — the pipeline's materialization
    * boundary (SURVEY §4): in the reference these are dbt tables written
    * once per run, not recomputed per consumer. Each is a session trunk
    * ([[graft.Materialize.trunk]]); the mart fan-out then reads the
    * materialized frame instead of re-running the backfill window chain
    * (the single most expensive lineage in the suite — at sf1 it was
    * ~78 s of a 330 s bench when computed four times).
    *
    * Normal mode persists MEMORY_AND_DISK instead of checkpointing: the
    * frame keeps its lineage, so lost blocks recompute, and consumers
    * see an `InMemoryRelation` whose build side PlanQuality classifies
    * by the real backfill plan (a checkpoint scan would count as
    * reduced and loosen PlanSpec's nested-loop gate for q33–q39). The
    * frame is O(articles), far below executor memory at test SF, and
    * spills instead of OOMing at scale. */
  private def cached(s: SparkSession, dir: String, stage: String)
      (build: => DataFrame): DataFrame =
    graft.Materialize.trunk(s, ("NewsPipeline", dir, stage),
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(build)

  private def transformedShared(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "transformed")(
      NewsTransform.transformed(rawNews(s, dir), LoadTs))

  private def articlesShared(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "articles")(
      NewsTransform.articlesMart(transformedShared(s, dir)))

  /** Synthetic raw_news: events drive cardinality/keys, documents supply
    * content. Every edge case from FIXTURES.md §1 is planted
    * deterministically: NULL + blacklisted + padded authors, NULL and
    * backslash-n emails, NULL urls/content, blacklisted sources, french
    * rows, per-article multi-version rows (event_id % 200 collisions). */
  def rawNews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val srcArr = array(Seq("globalnews", "nationalpost", "toronto_star",
      "cbc", "ctvnews", "cp24", "thestar", "rebelnews", "financialpost")
      .map(lit): _*)
    val biasArr = array(Seq("left", "right", "centre").map(lit): _*)
    e.join(d, e("event_id") % 500 === d("doc_id"), "left")
      .select(
        $"event_id".as("id"),
        element_at(srcArr, ($"user_id" % 9 + 1).cast("int"))
          .as("source_name"),
        lit("ca").as("source_country"),
        $"event_type".as("category"),
        when($"user_id" % 7 === 0, lit(null).cast("string"))
          .when($"user_id" % 7 === 1, lit("www.facebook.com"))
          .when($"user_id" % 7 === 2,
            concat(lit("  Author "), ($"user_id" % 50).cast("string")))
          .otherwise(concat(lit("Author "),
            ($"user_id" % 50).cast("string"))).as("author"),
        when($"user_id" % 4 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("User"), ($"user_id" % 30).cast("string"),
            lit("@Example.COM\\n"))).as("author_email"),
        when($"user_id" % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("https://site/a"),
            ($"user_id" % 50).cast("string"))).as("author_page_url"),
        concat(lit("Title "), ($"event_id" % 200).cast("string"))
          .as("title"),
        lit(null).cast("string").as("description"),
        concat(lit("https://news/"), ($"event_id" % 200).cast("string"))
          .as("url"),
        date_trunc("second", $"ts").as("publishedat"),
        when($"user_id" % 6 === 0, lit(null).cast("string"))
          .otherwise($"text").as("article_content"),
        element_at(biasArr, (($"user_id" % 9) % 3 + 1).cast("int"))
          .as("bias"),
        when($"user_id" % 10 === 0, lit("french")).otherwise(lit("english"))
          .as("language"),
        $"ts".as("ingest_ts"))
  }

  /** q33 — the full `transformed` view. */
  val newsTransformed: Q = (s, dir) => {
    import s.implicits._
    transformedShared(s, dir)
      .select($"ID", $"AUTHOR", $"FIRST_NAME", $"LAST_NAME",
        $"AUTHOR_EMAIL", $"AUTHOR_URL", $"PUBLISHEDAT",
        $"ARTICLE_CONTENT_CLEAN", $"ARTICLE_ID", $"AUTHOR_ID",
        $"ARTICLE_AUTHOR_ID", $"SOURCE_ID")
  }

  /** q34 — articles mart (latest-wins dedup). */
  val newsArticles: Q = (s, dir) => {
    import s.implicits._
    articlesShared(s, dir)
      .select($"ARTICLE_ID", $"TITLE", $"NEWS_SOURCE_NAME", $"SOURCE_ID",
        $"PUBLISHEDAT", $"ARTICLE_CONTENT_CLEAN", $"BIAS", $"n_versions")
  }

  /** q35 — authors dimension (distinct combos, dbt unique contract). */
  val newsAuthors: Q = (s, dir) =>
    NewsTransform.authorsDim(transformedShared(s, dir))

  /** q36 — dashboard composite: stub-scored sentiment joined back to
    * marts, rebelnews filter, zero→NULL recode, per-bias averages
    * (ref A5/A6/F6/X10: sentiment_dashboard.py:61-65,194-199,263). */
  val newsDashboard: Q = (s, dir) => {
    import s.implicits._
    val arts = articlesShared(s, dir)
    val scored = arts.select($"ARTICLE_ID", $"BIAS", $"NEWS_SOURCE_NAME",
      StubScorer.score($"ARTICLE_CONTENT_CLEAN", "data").as("mark_s"),
      StubScorer.score($"ARTICLE_CONTENT_CLEAN", "query").as("poil_s"))
    val typed = scored
      .withColumn("mark", when($"mark_s" === "N/A", lit(null))
        .otherwise($"mark_s").cast("double"))
      .withColumn("poil", when($"poil_s" === "N/A", lit(null))
        .otherwise($"poil_s").cast("double"))
      .withColumn("mark", when($"mark" === 0.0, lit(null)).otherwise($"mark"))
      .withColumn("poil", when($"poil" === 0.0, lit(null)).otherwise($"poil"))
      .filter($"NEWS_SOURCE_NAME" =!= "rebelnews")
    typed.groupBy($"BIAS")
      .agg(
        round(round(sum($"mark"), 2) / count($"mark"), 6).as("avg_mark"),
        round(round(sum($"poil"), 2) / count($"poil"), 6).as("avg_poil"),
        count($"mark").as("n_mark"),
        count($"poil").as("n_poil"),
        count(lit(1)).as("n_articles"))
  }

  /** q37 — translation stage: french rows translated + language
    * overwritten, engine-native S11 (ref translate_french_news.py:17-63). */
  val newsTranslate: Q = (s, dir) => {
    import s.implicits._
    Enrichment.translateFrench(rawNews(s, dir), StubTranslator)
      .select($"id", $"title", $"language")
  }

  /** q38 — ingest validation (F8, ref PydanticModels.py:9-29): required
    * fields, email shape, bias enum as row validity; author regex as
    * coerce-to-NULL. */
  val newsValidation: Q = (s, dir) => {
    import s.implicits._
    import graft.news.Schemas
    rawNews(s, dir).select(
      $"id",
      ($"title".isNotNull && $"category".isNotNull && $"url".isNotNull &&
        $"source_name".isNotNull && $"source_country".isNotNull &&
        $"publishedat".isNotNull &&
        ($"author_email".isNull ||
          $"author_email".rlike(Schemas.EmailRe)) &&
        ($"bias".isNull || $"bias".isin(Schemas.BiasValues: _*)))
        .as("is_valid"),
      when($"author".rlike(Schemas.AuthorNameRe), $"author")
        .otherwise(lit(null)).as("author_coerced"))
  }

  /** q39 — sentiment batch round-trip: candidates → clean → JSONL
    * requests → simulated result JSONL → nested parse → N/A recode
    * (S9+S10+S7 composed). */
  val newsSentimentRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val arts = articlesShared(s, dir)
    val cand = Enrichment.sentimentCandidates(arts, "2024-01-05",
        Seq("data", "query"))
      .withColumn("CLEAN_CONTENT",
        Enrichment.cleanContent($"ARTICLE_CONTENT"))
    // one pass: build the request JSONL (S9) and the simulated scoring
    // result JSONL (deterministic, FIXTURES.md §4 shape) side by side —
    // no self-join, so the transformed chain is computed once
    val requests = Enrichment.buildRequests(cand)
      .withColumn("value", to_json(struct(
        $"ARTICLE_ID".as("custom_id"),
        struct(struct(array(struct(struct(
          to_json(struct(
            StubScorer.score($"CLEAN_CONTENT", "data")
              .as("sentiment_mark"),
            StubScorer.score($"CLEAN_CONTENT", "query")
              .as("sentiment_poilievre"))).as("content"))
          .as("message"))).as("choices")).as("body")).as("response"))))
      .withColumn("request_len", length($"request"))
    val parsed = Enrichment.parseResults(requests, "value",
      passThrough = Seq("request_len"))
    Enrichment.recodeNA(parsed,
        Seq("sentiment_mark", "sentiment_poilievre"))
      .select($"article_id", $"sentiment_mark", $"sentiment_poilievre",
        $"request_len")
  }

  val queries: Map[String, Q] = Map(
    "q33_news_transformed" -> newsTransformed,
    "q34_news_articles_mart" -> newsArticles,
    "q35_news_authors_dim" -> newsAuthors,
    "q36_news_dashboard" -> newsDashboard,
    "q37_news_translate" -> newsTranslate,
    "q38_news_validation" -> newsValidation,
    "q39_news_sentiment_roundtrip" -> newsSentimentRoundtrip,
  )

  // ---------------------------------------------------------- oracle SQL

  private val sqlMd5Null = "_dbt_utils_surrogate_key_null_"
  private def k(cols: String*): String =
    s"md5(concat_ws('-', ${cols.map(c =>
      s"coalesce(CAST($c AS VARCHAR), '$sqlMd5Null')").mkString(", ")}))"

  /** CTE chain mirroring rawNews + NewsTransform.transformed stage by
    * stage. */
  private val sqlChain: String =
    s"""WITH raw_news AS (
       |  SELECT e.event_id AS id,
       |    (['globalnews','nationalpost','toronto_star','cbc','ctvnews',
       |      'cp24','thestar','rebelnews','financialpost'])
       |      [CAST(e.user_id % 9 + 1 AS INTEGER)] AS source_name,
       |    'ca' AS source_country,
       |    e.event_type AS category,
       |    CASE WHEN e.user_id % 7 = 0 THEN NULL
       |         WHEN e.user_id % 7 = 1 THEN 'www.facebook.com'
       |         WHEN e.user_id % 7 = 2
       |           THEN '  Author ' || CAST(e.user_id % 50 AS VARCHAR)
       |         ELSE 'Author ' || CAST(e.user_id % 50 AS VARCHAR)
       |    END AS author,
       |    CASE WHEN e.user_id % 4 = 0 THEN NULL
       |         ELSE 'User' || CAST(e.user_id % 30 AS VARCHAR)
       |              || '@Example.COM\\n' END AS author_email,
       |    CASE WHEN e.user_id % 3 = 0 THEN NULL
       |         ELSE 'https://site/a' || CAST(e.user_id % 50 AS VARCHAR)
       |    END AS author_page_url,
       |    'Title ' || CAST(e.event_id % 200 AS VARCHAR) AS title,
       |    CAST(NULL AS VARCHAR) AS description,
       |    'https://news/' || CAST(e.event_id % 200 AS VARCHAR) AS url,
       |    CAST(date_trunc('second', e.ts) AS TIMESTAMP) AS publishedat,
       |    CASE WHEN e.user_id % 6 = 0 THEN NULL ELSE d.text END
       |      AS article_content,
       |    (['left','right','centre'])
       |      [CAST((e.user_id % 9) % 3 + 1 AS INTEGER)] AS bias,
       |    CASE WHEN e.user_id % 10 = 0 THEN 'french' ELSE 'english' END
       |      AS language,
       |    e.ts AS ingest_ts
       |  FROM events e LEFT JOIN documents d ON e.event_id % 500 = d.doc_id),
       |stg AS (
       |  SELECT id AS ID, source_name AS NEWS_SOURCE_NAME,
       |    source_country AS SOURCE_COUNTRY, category AS CATEGORY,
       |    author AS AUTHOR, author_email AS AUTHOR_EMAIL,
       |    author_page_url AS AUTHOR_URL, title AS TITLE,
       |    description AS DESCRIPTION, url AS URL,
       |    publishedat AS PUBLISHEDAT, article_content AS ARTICLE_CONTENT,
       |    bias AS BIAS, language AS LANGUAGE, ingest_ts AS INGEST_TS
       |  FROM raw_news),
       |f1 AS (SELECT * FROM stg
       |       WHERE AUTHOR IS NOT NULL AND AUTHOR <> 'www.facebook.com'),
       |cleaned AS (SELECT * REPLACE (trim(AUTHOR) AS AUTHOR,
       |    replace(lower(AUTHOR_EMAIL), '\\n', '') AS AUTHOR_EMAIL)
       |  FROM f1),
       |backfilled AS (SELECT * REPLACE (
       |    CASE WHEN AUTHOR_EMAIL IS NOT NULL AND URL IS NOT NULL
       |         THEN coalesce(ARTICLE_CONTENT, min(ARTICLE_CONTENT) OVER
       |           (PARTITION BY AUTHOR, AUTHOR_EMAIL, TITLE,
       |            NEWS_SOURCE_NAME, URL))
       |         ELSE ARTICLE_CONTENT END AS ARTICLE_CONTENT)
       |  FROM cleaned),
       |withclean AS (SELECT *,
       |    lower(substr(regexp_replace(ARTICLE_CONTENT,
       |      '[^a-zA-Z0-9 ]', '', 'g'), 1, 50)) AS ARTICLE_CONTENT_CLEAN
       |  FROM backfilled),
       |urlfilled AS (SELECT * REPLACE (coalesce(AUTHOR_URL,
       |    CASE WHEN AUTHOR_EMAIL IS NOT NULL THEN min(AUTHOR_URL) OVER
       |      (PARTITION BY AUTHOR, AUTHOR_EMAIL) END,
       |    min(AUTHOR_URL) OVER (PARTITION BY AUTHOR, NEWS_SOURCE_NAME))
       |    AS AUTHOR_URL)
       |  FROM withclean),
       |emailfilled AS (SELECT * REPLACE (coalesce(AUTHOR_EMAIL,
       |    CASE WHEN AUTHOR_URL IS NOT NULL THEN min(AUTHOR_EMAIL) OVER
       |      (PARTITION BY AUTHOR, AUTHOR_URL) END,
       |    min(AUTHOR_EMAIL) OVER (PARTITION BY AUTHOR, NEWS_SOURCE_NAME))
       |    AS AUTHOR_EMAIL)
       |  FROM urlfilled),
       |datefixed AS (SELECT * REPLACE (least(
       |    min(PUBLISHEDAT) OVER
       |      (PARTITION BY TITLE, AUTHOR, NEWS_SOURCE_NAME),
       |    min(PUBLISHEDAT) OVER
       |      (PARTITION BY URL, AUTHOR, NEWS_SOURCE_NAME),
       |    min(PUBLISHEDAT) OVER
       |      (PARTITION BY ARTICLE_CONTENT_CLEAN, AUTHOR,
       |       NEWS_SOURCE_NAME)) AS PUBLISHEDAT)
       |  FROM emailfilled),
       |transformed AS (
       |  SELECT *,
       |    split_part(AUTHOR, ' ', 1) AS FIRST_NAME,
       |    split_part(AUTHOR, ' ', 2) AS LAST_NAME,
       |    ${k("TITLE", "NEWS_SOURCE_NAME", "ARTICLE_CONTENT_CLEAN")}
       |      AS ARTICLE_ID,
       |    ${k("AUTHOR_URL", "split_part(AUTHOR, ' ', 1)",
            "split_part(AUTHOR, ' ', 2)", "AUTHOR_EMAIL")} AS AUTHOR_ID,
       |    ${k(k("TITLE", "NEWS_SOURCE_NAME", "ARTICLE_CONTENT_CLEAN"),
            k("AUTHOR_URL", "split_part(AUTHOR, ' ', 1)",
              "split_part(AUTHOR, ' ', 2)", "AUTHOR_EMAIL"))}
       |      AS ARTICLE_AUTHOR_ID,
       |    ${k("NEWS_SOURCE_NAME")} AS SOURCE_ID
       |  FROM datefixed
       |  WHERE NEWS_SOURCE_NAME NOT IN ('toronto_star', 'cbc')),
       |articles AS (
       |  SELECT ARTICLE_ID, TITLE, NEWS_SOURCE_NAME, SOURCE_ID,
       |    PUBLISHEDAT, ARTICLE_CONTENT, ARTICLE_CONTENT_CLEAN, BIAS,
       |    n_versions
       |  FROM (SELECT *,
       |      row_number() OVER (PARTITION BY ARTICLE_ID
       |        ORDER BY INGEST_TS DESC, ID DESC) AS rn,
       |      count(*) OVER (PARTITION BY ARTICLE_ID) AS n_versions
       |    FROM transformed) t
       |  WHERE rn = 1)""".stripMargin

  private def stubScore(textExpr: String, subject: String): String =
    s"""CASE WHEN $textExpr NOT LIKE '%$subject%' THEN 'N/A'
       |ELSE printf('%.2f',
       |  CAST(('0x' || substr(md5($textExpr || '$subject'), 1, 15))::BIGINT
       |    % 101 AS DOUBLE) / 100.0) END""".stripMargin

  // NOTE: sqlChain is concatenated (never re-interpolated into a
  // stripMargin block) — a second stripMargin would eat `||` at
  // continuation-line starts.
  val oracles: Map[String, String] = Map(
    "q33_news_transformed" -> (sqlChain + "\n" +
      """SELECT ID, AUTHOR, FIRST_NAME, LAST_NAME, AUTHOR_EMAIL,
        |  AUTHOR_URL, PUBLISHEDAT, ARTICLE_CONTENT_CLEAN, ARTICLE_ID,
        |  AUTHOR_ID, ARTICLE_AUTHOR_ID, SOURCE_ID
        |FROM transformed""".stripMargin),
    "q34_news_articles_mart" -> (sqlChain + "\n" +
      """SELECT ARTICLE_ID, TITLE, NEWS_SOURCE_NAME, SOURCE_ID,
        |  PUBLISHEDAT, ARTICLE_CONTENT_CLEAN, BIAS,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM articles""".stripMargin),
    "q35_news_authors_dim" -> (sqlChain + "\n" +
      """SELECT DISTINCT AUTHOR_ID, FIRST_NAME, LAST_NAME, AUTHOR_EMAIL,
        |  AUTHOR_URL
        |FROM transformed""".stripMargin),
    "q36_news_dashboard" -> (sqlChain + ",\n" +
      s"""scored AS (
         |  SELECT ARTICLE_ID, BIAS, NEWS_SOURCE_NAME,
         |    ${stubScore("ARTICLE_CONTENT_CLEAN", "data")} AS mark_s,
         |    ${stubScore("ARTICLE_CONTENT_CLEAN", "query")} AS poil_s
         |  FROM articles),
         |typed AS (
         |  SELECT BIAS,
         |    nullif(CAST(nullif(mark_s, 'N/A') AS DOUBLE), 0.0) AS mark,
         |    nullif(CAST(nullif(poil_s, 'N/A') AS DOUBLE), 0.0) AS poil
         |  FROM scored WHERE NEWS_SOURCE_NAME <> 'rebelnews')
         |SELECT BIAS,
         |  round(round(sum(mark), 2) / count(mark), 6) AS avg_mark,
         |  round(round(sum(poil), 2) / count(poil), 6) AS avg_poil,
         |  count(mark) AS n_mark, count(poil) AS n_poil,
         |  count(*) AS n_articles
         |FROM typed GROUP BY BIAS""".stripMargin),
    "q37_news_translate" -> (sqlChain + "\n" +
      """SELECT id,
        |  CASE WHEN language = 'french' THEN '[en] ' || title
        |       ELSE title END AS title,
        |  CASE WHEN language = 'french' THEN 'english' ELSE language END
        |    AS language
        |FROM raw_news""".stripMargin),
    "q38_news_validation" -> (sqlChain + "\n" +
      """SELECT id,
        |  (title IS NOT NULL AND category IS NOT NULL AND url IS NOT NULL
        |   AND source_name IS NOT NULL AND source_country IS NOT NULL
        |   AND publishedat IS NOT NULL
        |   AND (author_email IS NULL OR regexp_matches(author_email,
        |     '^[\w\.-]+@[\w\-]+\.[a-zA-Z]{2,6}$'))
        |   AND (bias IS NULL OR bias IN ('left', 'right', 'centre')))
        |    AS is_valid,
        |  CASE WHEN regexp_matches(author,
        |      '^[A-Za-zÀ-ÖØ-öø-ÿ''\.+ -]+$')
        |    THEN author ELSE NULL END AS author_coerced
        |FROM raw_news""".stripMargin),
    "q39_news_sentiment_roundtrip" -> {
      val clean =
        """regexp_replace(regexp_replace(
          |  split_part(split_part(replace(ARTICLE_CONTENT, '\n', ''),
          |    'trending now', 1), 'Trending Now', 1),
          |  '[\w\.-]+@[\w\-]+\.[a-zA-Z]{2,6}', '', 'g'),
          |  'www\.[a-zA-Z0-9\-]+\.[\w]{2,6}', '', 'g')""".stripMargin
      sqlChain + ",\n" +
        s"""cand AS (
           |  SELECT *, $clean AS CLEAN_CONTENT FROM articles
           |  WHERE (ARTICLE_CONTENT LIKE '%data%'
           |     OR ARTICLE_CONTENT LIKE '%query%')
           |    AND length(ARTICLE_CONTENT) >= 20
           |    AND PUBLISHEDAT >= TIMESTAMP '2024-01-05')
           |SELECT ARTICLE_ID AS article_id,
           |  nullif(${stubScore("CLEAN_CONTENT", "data")}, 'N/A')
           |    AS sentiment_mark,
           |  nullif(${stubScore("CLEAN_CONTENT", "query")}, 'N/A')
           |    AS sentiment_poilievre,
           |  CAST(length(to_json(struct_pack(
           |    custom_id := ARTICLE_ID,
           |    method := 'POST',
           |    url := '/v1/chat/completions',
           |    body := struct_pack(model := 'news-scorer',
           |      content := CLEAN_CONTENT)))) AS INTEGER) AS request_len
           |FROM cand""".stripMargin
    },
  )
}
