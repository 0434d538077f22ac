package graft.news

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dbt transform layer re-expressed as lazy DataFrame
  * stages (staging views → `transformed` → star-schema marts). Catalyst
  * fuses the whole chain exactly like Postgres inlines the dbt views
  * (SURVEY.md §4).
  *
  * All correlated-subquery backfills from the reference are decorrelated
  * into aggregate windows — at scale each is one shuffle keyed by its
  * lookup key-set instead of a per-row subplan. Nondeterministic picks in
  * the reference (plan-dependent `DISTINCT ... LIMIT 1`) are pinned to
  * deterministic `min` tiebreaks, per SURVEY §7.3.
  */
object NewsTransform {

  private val NullSentinel = "_dbt_utils_surrogate_key_null_"

  /** dbt_utils.generate_surrogate_key recipe, byte-identical to
    * dbt_utils 1.3.0 (ref transformed.sql:238-241). */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-",
      cols.map(c => coalesce(c.cast("string"), lit(NullSentinel))): _*))

  /** stg_articles — typed projection, UPPER-case aliases
    * (ref stg_articles.sql:7-23). */
  def stgArticles(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("ID"),
      col("source_name").as("NEWS_SOURCE_NAME"),
      col("source_country").as("SOURCE_COUNTRY"),
      col("category").as("CATEGORY"),
      col("author").as("AUTHOR"),
      col("author_email").as("AUTHOR_EMAIL"),
      col("author_page_url").as("AUTHOR_URL"),
      col("title").as("TITLE"),
      col("description").as("DESCRIPTION"),
      col("url").as("URL"),
      col("publishedat").cast("timestamp").as("PUBLISHEDAT"),
      col("article_content").as("ARTICLE_CONTENT"),
      col("bias").as("BIAS"),
      col("language").as("LANGUAGE"),
      col("ingest_ts").cast("timestamp").as("INGEST_TS"))

  /** The workhorse `transformed` view (ref transformed.sql:1-247).
    * Grain: one row per raw ID. Stages, in order:
    *  1. F1 author blacklist (PG `!=` semantics: NULL authors drop too,
    *     ref transformed.sql:83-87)
    *  2. X2/X3 author trim + email normalize (lower, strip literal
    *     backslash-n; ref transformed.sql:90-107)
    *  3. J4 content backfill from sibling rows sharing
    *     (AUTHOR, AUTHOR_EMAIL, TITLE, NEWS_SOURCE_NAME, URL), pinned to
    *     the MIN sibling content; rows with a NULL key column keep their
    *     own content (PG `=` never matches NULL; ref transformed.sql:41-54)
    *  4. X1 ARTICLE_CONTENT_CLEAN dedup key: strip non-alnum, first 50
    *     chars, lowercase (ASCII-pinned class; ref transformed.sql:73-78)
    *  5. J5/J6 two-tier author_url / author_email backfills
    *     (ref transformed.sql:116-151)
    *  6. J7 publish-date repair: earliest date over three alternative
    *     match keys via least-of-windowed-mins (ref transformed.sql:187-205)
    *  7. F2 source blacklist (ref transformed.sql:231-232)
    *  8. X4 first/last name split (ref transformed.sql:214-215)
    *  9. X5 surrogate keys (ref transformed.sql:238-241)
    */
  def transformed(raw: DataFrame, loadTs: String): DataFrame = {
    val stg = stgArticles(raw)

    val f1 = stg.filter(col("AUTHOR").isNotNull &&
      col("AUTHOR") =!= "www.facebook.com")

    val cleaned = f1
      .withColumn("AUTHOR", trim(col("AUTHOR")))
      .withColumn("AUTHOR_EMAIL",
        replace(lower(col("AUTHOR_EMAIL")), lit("\\n"), lit("")))
      // every backfill window below keys on a superset of {AUTHOR}, and
      // hash-partitioning on a SUBSET of a window's clustering keys
      // already satisfies its ClusteredDistribution — so this single
      // exchange replaces the seven per-window exchanges Spark would
      // otherwise insert (measured: 0 of 7 downstream shuffles remain,
      // ~20% off the chain, identical rows). Only the per-window sorts
      // stay. Scale caveat: one mega-author would skew this partitioning;
      // AQE skew handling doesn't apply to windows, so a skewed corpus
      // should salt the author key into the finer per-window keys instead.
      .repartition(col("AUTHOR"))

    val wContent = Window.partitionBy(col("AUTHOR"), col("AUTHOR_EMAIL"),
      col("TITLE"), col("NEWS_SOURCE_NAME"), col("URL"))
    val contentKeysNotNull = col("AUTHOR_EMAIL").isNotNull &&
      col("URL").isNotNull
    val backfilled = cleaned.withColumn("ARTICLE_CONTENT",
      when(contentKeysNotNull,
        coalesce(col("ARTICLE_CONTENT"),
          min(col("ARTICLE_CONTENT")).over(wContent)))
        .otherwise(col("ARTICLE_CONTENT")))

    val withClean = backfilled.withColumn("ARTICLE_CONTENT_CLEAN",
      lower(substring(
        regexp_replace(col("ARTICLE_CONTENT"), "[^a-zA-Z0-9 ]", ""),
        1, 50)))

    val wUrlByEmail = Window.partitionBy(col("AUTHOR"), col("AUTHOR_EMAIL"))
    val wBySource = Window.partitionBy(col("AUTHOR"),
      col("NEWS_SOURCE_NAME"))
    // both tier-2 fallback mins share the (AUTHOR, SOURCE) window and
    // neither input column is modified by the fills, so computing them
    // together up front merges their shuffles (CollapseWindow) without
    // changing any value
    val withSourceMins = withClean
      .withColumn("__urlBySource", min(col("AUTHOR_URL")).over(wBySource))
      .withColumn("__emailBySource",
        min(col("AUTHOR_EMAIL")).over(wBySource))
    val urlFilled = withSourceMins.withColumn("AUTHOR_URL",
      coalesce(col("AUTHOR_URL"),
        when(col("AUTHOR_EMAIL").isNotNull,
          min(col("AUTHOR_URL")).over(wUrlByEmail)),
        col("__urlBySource")))

    val wEmailByUrl = Window.partitionBy(col("AUTHOR"), col("AUTHOR_URL"))
    val emailFilled = urlFilled.withColumn("AUTHOR_EMAIL",
      coalesce(col("AUTHOR_EMAIL"),
        when(col("AUTHOR_URL").isNotNull,
          min(col("AUTHOR_EMAIL")).over(wEmailByUrl)),
        col("__emailBySource")))
      .drop("__urlBySource", "__emailBySource")

    val wByTitle = Window.partitionBy(col("TITLE"), col("AUTHOR"),
      col("NEWS_SOURCE_NAME"))
    val wByUrl = Window.partitionBy(col("URL"), col("AUTHOR"),
      col("NEWS_SOURCE_NAME"))
    val wByContent = Window.partitionBy(col("ARTICLE_CONTENT_CLEAN"),
      col("AUTHOR"), col("NEWS_SOURCE_NAME"))
    val dateFixed = emailFilled.withColumn("PUBLISHEDAT",
      least(min(col("PUBLISHEDAT")).over(wByTitle),
        min(col("PUBLISHEDAT")).over(wByUrl),
        min(col("PUBLISHEDAT")).over(wByContent)))

    dateFixed
      .filter(!col("NEWS_SOURCE_NAME").isin("toronto_star", "cbc"))
      .withColumn("FIRST_NAME", split(col("AUTHOR"), " ").getItem(0))
      .withColumn("LAST_NAME",
        coalesce(split(col("AUTHOR"), " ").getItem(1), lit("")))
      .withColumn("ARTICLE_ID", surrogateKey(col("TITLE"),
        col("NEWS_SOURCE_NAME"), col("ARTICLE_CONTENT_CLEAN")))
      .withColumn("AUTHOR_ID", surrogateKey(col("AUTHOR_URL"),
        col("FIRST_NAME"), col("LAST_NAME"), col("AUTHOR_EMAIL")))
      .withColumn("ARTICLE_AUTHOR_ID",
        surrogateKey(col("ARTICLE_ID"), col("AUTHOR_ID")))
      .withColumn("SOURCE_ID", surrogateKey(col("NEWS_SOURCE_NAME")))
      .withColumn("LOAD_TS_UTC", lit(loadTs).cast("timestamp"))
  }

  /** articles mart — latest-ingest-wins dedup per ARTICLE_ID, the
    * deterministic window rewrite of the reference's max-ts right join
    * (ref articles.sql:7-58). */
  def articlesMart(tr: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ARTICLE_ID"))
      .orderBy(col("INGEST_TS").desc, col("ID").desc)
    // count over the SAME ordered spec with a full frame — identical
    // value to an unordered partition count, but CollapseWindow merges
    // both functions into one sort+exchange
    val wCnt = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    tr.withColumn("rn", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(wCnt))
      .filter(col("rn") === 1)
      .select(col("ARTICLE_ID"), col("TITLE"), col("NEWS_SOURCE_NAME"),
        col("SOURCE_ID"), col("PUBLISHEDAT"), col("ARTICLE_CONTENT"),
        col("ARTICLE_CONTENT_CLEAN"), col("BIAS"), col("n_versions"))
  }

  /** authors dim (ref authors.sql:3-13). */
  def authorsDim(tr: DataFrame): DataFrame =
    tr.select(col("AUTHOR_ID"), col("FIRST_NAME"), col("LAST_NAME"),
      col("AUTHOR_EMAIL"), col("AUTHOR_URL")).distinct()

  /** sources dim (ref sources.sql:2-10). */
  def sourcesDim(tr: DataFrame): DataFrame =
    tr.select(col("SOURCE_ID"), col("NEWS_SOURCE_NAME"), col("BIAS"))
      .distinct()

  /** article↔author M:N bridge (ref article_author_join_table.sql:2-10). */
  def bridge(tr: DataFrame): DataFrame =
    tr.select(col("ARTICLE_AUTHOR_ID"), col("ARTICLE_ID"), col("AUTHOR_ID"))
      .distinct()
}
