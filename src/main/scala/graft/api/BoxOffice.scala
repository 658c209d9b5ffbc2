package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.dec
import graft.operators.Analytics
import graft.pipelines.{AtomicStore, BoxOfficePipeline, StoreTable}

/** User-facing facade: every query surface the reference serves — the
  * Streamlit dashboard pages (src/dashboard.py) and the AI agent's SQL
  * execution step (src/boxoffice/logic/ai_agent.py:118-124) — as library
  * calls over a [[graft.pipelines.BoxOfficePipeline]] store. A user of
  * the reference switches by pointing this at their store root; each
  * method cites the reference code path it replaces.
  *
  * All results are lazy DataFrames: callers compose further or collect.
  */
class BoxOffice(spark: SparkSession, storeRoot: String) {

  private def table(name: String): DataFrame = {
    // read-side resilience: roll forward any swap a crashed writer left
    // mid-flight (idempotent fs-metadata checks; see AtomicStore)
    AtomicStore.recover(spark, s"$storeRoot/$name")
    StoreTable.read(spark, s"$storeRoot/$name")
  }

  def boxoffice: DataFrame = table("boxoffice")
  def movies: DataFrame = table("movie")
  def goodsEvents: DataFrame = table("goods_event")
  def goodsStock: DataFrame = table("goods_stock")

  /** Period top-k movies by audience (dashboard.py:246-249: range filter
    * + groupby sum + nlargest). Deterministic tie-break on name.
    */
  def periodTopMovies(start: String, end: String, k: Int = 10): DataFrame =
    Analytics.topKByAgg(
      boxoffice.filter(col("target_dt").between(to_date(lit(start)), to_date(lit(end)))),
      groupCols = Seq(col("movie_nm")),
      aggs = Seq(sum(dec(col("audi_cnt"))).as("total_audience")),
      ord = Seq(col("total_audience").desc, col("movie_nm").asc),
      k = k)

  /** Top-k days by total audience in a period (dashboard.py:256). */
  def topDays(start: String, end: String, k: Int = 3): DataFrame =
    Analytics.topKByAgg(
      boxoffice.filter(col("target_dt").between(to_date(lit(start)), to_date(lit(end)))),
      groupCols = Seq(col("target_dt")),
      aggs = Seq(sum(dec(col("audi_cnt"))).as("total_audience")),
      ord = Seq(col("total_audience").desc, col("target_dt").asc),
      k = k)

  /** Genre rollup: distinct movie count + sorted movie list per genre
    * (dashboard.py:286-296: distinct → dim join → filter → multi-agg).
    */
  def genreRollup(start: String, end: String): DataFrame = {
    val period = boxoffice
      .filter(col("target_dt").between(to_date(lit(start)), to_date(lit(end))))
      .select("movie_cd", "movie_nm").distinct()
    val dim = movies.select("movie_cd", "rep_genre_nm")
    Analytics.distinctAndSortedList(
        graft.operators.Joins.broadcastLeft(period, dim, Seq("movie_cd"))
          .filter(col("rep_genre_nm").isNotNull && col("rep_genre_nm") =!= ""),
        groupCol = "rep_genre_nm", countCol = "movie_cd", listCol = "movie_nm")
      .withColumnRenamed("cnt_distinct", "movie_count")
      .withColumnRenamed("sorted_list", "movie_list")
  }

  /** Daily audience trend for selected movies (dashboard.py:328-335). */
  def dailyTrend(movieNames: Seq[String]): DataFrame =
    boxoffice
      .filter(col("movie_nm").isin(movieNames: _*))
      .groupBy("target_dt", "movie_nm")
      .agg(sum(dec(col("audi_cnt"))).as("total_audience"))

  /** Current stock per theater for one event (dashboard.py:101-119: the
    * W1 latest-per-key window + P14 event filter, 60 s cache in the
    * reference — here just a lazy plan the caller can cache).
    */
  def currentStock(eventId: String): DataFrame =
    BoxOfficePipeline.latestStock(spark, storeRoot)
      .filter(col("event_id") === eventId)

  /** Active (non-expired) events as of an injected date
    * (dashboard.py:89-93; injected "today" per SURVEY §7.5).
    */
  def activeEvents(asOf: String): DataFrame =
    goodsEvents.filter(try_to_date(col("end_date")) >= to_date(lit(asOf)))

  /** The reference's phase-1 candidate query (movie_events_scraper.py
    * :67-81 `query1`): names on the recent box office (target_dt ≥
    * asOf − 1 day) ∪ opening-soon movies (asOf − 1 day < open_dt <
    * asOf + 7 days, excluding names already on the box office). The
    * "today" is injected, per SURVEY §7.5.
    */
  def recentCandidateNames(asOf: String): DataFrame = {
    val d = to_date(lit(asOf))
    val boxNames = boxoffice.select("movie_nm").distinct()
    val recentBox = boxoffice
      .filter(col("target_dt") >= date_sub(d, 1))
      .select("movie_nm").distinct()
    val openingSoon = movies
      .filter(try_to_date(col("open_dt")) > date_sub(d, 1)
        && try_to_date(col("open_dt")) < date_add(d, 7))
      .select("movie_nm")
      .join(boxNames, Seq("movie_nm"), "left_anti")
    recentBox.unionByName(openingSoon).distinct()
  }

  /** Full goods-event ingestion against the store — the scraper batch's
    * complete path (movie_events_scraper.py get_events + the upsert in
    * goods_stock_pipeline.py): enrich the raw batch
    * ([[graft.pipelines.BoxOfficePipeline.enrichGoodsEvents]], with
    * phase-1 candidates drawn from THIS store via
    * [[recentCandidateNames]] and the movie dim as the catalog), then
    * crash-safe upsert into `goods_event` on event_id. Returns the
    * post-merge store row count.
    */
  def ingestGoodsEvents(rawEvents: DataFrame, aliases: DataFrame,
                        movieEvents: DataFrame, asOf: String): Long = {
    val enriched = BoxOfficePipeline.enrichGoodsEvents(
      rawEvents, aliases, recentCandidateNames(asOf),
      movies.select("movie_nm"), movieEvents)
    BoxOfficePipeline.upsertDim(spark, storeRoot, "goods_event",
      enriched, Seq("event_id"))
  }

  /** The AI agent's engine requirement: execute arbitrary SELECT text
    * against the 4-table schema (ai_agent.py:118-124). Registers the
    * store tables that exist as temp views on each call; existence is
    * checked on the store's own filesystem, so hdfs://, s3a:// and file:
    * roots register their tables too.
    */
  def ask(sql: String): DataFrame = {
    Seq("boxoffice", "movie", "goods_event", "goods_stock").foreach { t =>
      if (StoreTable.exists(spark, s"$storeRoot/$t"))
        table(t).createOrReplaceTempView(t)
    }
    spark.sql(sql)
  }
}
