package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Hints, Ingest, Joins, Upsert}

/** End-to-end re-expression of the reference's pipelines over a
  * parquet-backed store (ref: src/boxoffice/pipelines/kobis_pipeline.py,
  * goods_stock_pipeline.py, backfill_boxoffice.py, backfill_movie.py).
  *
  * Store layout (the Spark analog of the 4-table SQLite store,
  * sqlite_connector.py:25-67):
  *   {root}/boxoffice/   fact, append-only, PARTITIONED BY target_dt —
  *                       partition pruning serves the per-day reads the
  *                       reference does with WHERE date(target_dt)=…, and
  *                       dynamic partition overwrite replaces its
  *                       delete-then-insert backfill (S13)
  *   {root}/movie/       dimension, upsert on movie_cd (U1)
  *   {root}/goods_event/ dimension, upsert on event_id (U1)
  *   {root}/goods_stock/ fact, append-only (S10)
  *
  * At 100 TB: facts stay date-partitioned (daily ingest touches one
  * partition; backfills rewrite only their range); dimensions are small
  * and rewritten wholesale by the upsert — the same shape as any
  * lakehouse MERGE, minus the transaction log this environment lacks.
  */
object BoxOfficePipeline {

  /** Read a store table, or an empty frame with `schemaOf`'s schema when
    * the table does not exist yet (S12 create-if-missing). Existence is
    * resolved through the path's OWN Hadoop filesystem — a
    * `java.io.File` check here would be local-FS-only and silently
    * report "missing" for every hdfs://, s3a://, or file: URI store,
    * making every fold-style sink that bootstraps through this helper
    * discard its prior state (round-13 advice). An existing table is
    * read through [[StoreTable.read]]: no schema-inference job.
    */
  def readOrEmpty(spark: SparkSession, path: String, schemaOf: DataFrame): DataFrame =
    if (StoreTable.exists(spark, path)) StoreTable.read(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                               schemaOf.schema)

  /** `df` with a row counter attached: the count is read from the
    * returned [[Observation]] once an action (here: the write) has run
    * the plan — no second execution just to count.
    */
  private def counted(df: DataFrame): (DataFrame, Observation) = {
    val rows = Observation()
    (df.observe(rows, count(lit(1)).as("rows")), rows)
  }

  private def rowsOf(o: Observation): Long = o.get("rows").asInstanceOf[Long]

  /** Daily incremental ingest (ST1, kobis_pipeline.py:8-60): compute the
    * missing-date spine from the store's watermark, keep only the raw
    * rows for those dates, apply the transform chain (F3 coercing date
    * parse → P7 null-date drop → F5 elapsed_dt), append partitioned.
    * Re-runs are no-ops: already-ingested dates fall out of the spine.
    *
    * One job collects the spine (a few dates at most) to the driver; the
    * batch keeps its rows with a literal `isin` and is written once, its
    * row count observed on the write. An empty batch writes nothing: on
    * an up-to-date store the empty spine skips the write, and a store
    * with no table yet is checked for an empty batch first, so it never
    * gets a table directory without data files.
    */
  def ingestDaily(spark: SparkSession, root: String, raw: DataFrame,
                  asOf: String): Long = {
    val path = s"$root/boxoffice"
    val fresh = !StoreTable.exists(spark, path)
    val store = readOrEmpty(spark, path, raw.withColumn("elapsed_dt", lit(0)))
    val missing = Ingest.missingDates(store, "target_dt", asOf).collect().map(_.get(0))
    val batch = raw
      // F3 coerce→null: Spark 4 is ANSI by default, so the reference's
      // pd.to_datetime(errors='coerce') maps to try_to_date, not to_date
      .withColumn("open_dt", try_to_date(col("open_dt")))
      .filter(col("open_dt").isNotNull)                     // P7
      .withColumn("elapsed_dt", datediff(col("target_dt"), col("open_dt"))) // F5
      .filter(col("target_dt").isin(missing.toIndexedSeq: _*))
    if (missing.isEmpty || (fresh && batch.isEmpty)) 0L
    else {
      val (out, rows) = counted(batch)
      out.write.mode(SaveMode.Append).partitionBy("target_dt").parquet(path)
      rowsOf(rows)
    }
  }

  /** Backfill (S13, backfill_boxoffice.py:27-47): the reference deletes a
    * date range then re-inserts; the idiomatic Spark replacement rewrites
    * exactly the partitions present in the replacement batch.
    */
  def backfillRange(spark: SparkSession, root: String, replacement: DataFrame): Unit =
    // per-WRITE option, not a session conf: mutating the shared session's
    // partitionOverwriteMode would silently change the semantics of every
    // later partitioned overwrite in the same process (round-7 advice)
    replacement.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("target_dt").parquet(s"$root/boxoffice")

  /** Movie-dimension maintenance (kobis_pipeline.py:62-84): the reference
    * anti-joins to insert only new movie_cds (J2) — expressed here as the
    * general upsert with the store as the loser on conflicts.
    */
  def upsertMovies(spark: SparkSession, root: String, fresh: DataFrame): Long =
    upsertDim(spark, root, "movie", fresh, Seq("movie_cd"))

  /** Range backfill for a DIMENSION table — the reference's
    * delete-then-insert (backfill_movie.py:31-33: `DELETE FROM movie
    * WHERE substr(open_dt,1,4) BETWEEN y1 AND y2`, then insert the
    * freshly fetched rows). This is NOT an upsert: an in-range store row
    * absent from `fresh` must DISAPPEAR (the reference re-fetches the
    * whole range, so absence means the row no longer exists upstream).
    * SQL DELETE semantics on the predicate: only rows where `rangePred`
    * is TRUE are deleted — null/false survivors keep their rows.
    *
    * Atomic + idempotent: survivors ∪ fresh is built against the live
    * store, staged, and rename-swapped ([[AtomicStore]]) — a crash
    * leaves either the old or the new generation, never a hole, and a
    * rerun recomputes the identical result. Returns the post-swap count.
    *
    * 100 TB: dimensions are small by definition; the full rewrite is the
    * lakehouse `REPLACE WHERE` shape. Facts use [[backfillRange]]'s
    * partition overwrite instead — pruning does the range delete there.
    */
  def backfillDimRange(spark: SparkSession, root: String, tableName: String,
                       rangePred: org.apache.spark.sql.Column,
                       fresh: DataFrame): Long =
    mergeAndSwap(spark, s"$root/$tableName", fresh,
      store => store.filter(!coalesce(rangePred, lit(false))).unionByName(fresh))

  /** General dimension upsert against `{root}/{tableName}` — the same
    * crash-safe shape for every dimension the reference maintains
    * (movie on movie_cd, goods_event on event_id:
    * sqlite_connector.py:76-114). Returns the post-merge row count.
    */
  def upsertDim(spark: SparkSession, root: String, tableName: String,
                fresh: DataFrame, keys: Seq[String]): Long =
    mergeAndSwap(spark, s"$root/$tableName", fresh,
      store => Upsert.upsert(store, fresh, keys, lit(0)))

  /** The ONE crash-safe read-merge-swap choreography every whole-table
    * rewrite goes through ([[upsertDim]], [[backfillDimRange]] and the
    * `StreamingUpsert` sinks): roll forward any interrupted swap, read
    * the live store (empty with `fresh`'s schema when absent), apply
    * `merge`, then durable staging + rename swap — a crash anywhere
    * leaves a complete copy on disk, never the delete-then-write hole of
    * a live overwrite. Returns the
    * post-swap row count, observed on the staging write: the merge runs
    * exactly once, with nothing cached.
    */
  private[graft] def mergeAndSwap(spark: SparkSession, path: String,
                                  fresh: DataFrame,
                                  merge: DataFrame => DataFrame): Long =
    // The lock spans the WHOLE read-merge-write: locking only the swap
    // would let two concurrent upserts read the same base generation and
    // the later swap silently drop the earlier writer's rows (round-9
    // verdict #4). A concurrent upsert waits here, then merges against
    // the winner's output — both batches land.
    AtomicStore.withLock(spark, path) {
      AtomicStore.recover(spark, path) // roll forward a swap a crash interrupted
      val (out, rows) = counted(merge(readOrEmpty(spark, path, fresh)))
      AtomicStore.overwrite(out, path)
      rowsOf(rows)
    }

  /** Stock append (S10, goods_stock_pipeline.py:99-113) with the F18
    * ingestion timestamp stamped at write time (injected, not
    * current_timestamp(), for reproducibility — SURVEY §7.5).
    */
  def appendStock(spark: SparkSession, root: String, obs: DataFrame,
                  scrapedAtUs: Long): Unit =
    obs.withColumn("scraped_at_us", lit(scrapedAtUs))
      .write.mode(SaveMode.Append).parquet(s"$root/goods_stock")

  /** Current-stock view (W1 over the append log, dashboard.py:104-119). */
  def latestStock(spark: SparkSession, root: String): DataFrame =
    Analytics.latestPerKey(
      StoreTable.read(spark, s"$root/goods_stock"),
      Seq("event_id", "theater_name"),
      Seq(col("scraped_at_us").desc))

  /** Composed goods-event enrichment — the full chain a scraper batch
    * passes through before the upsert sink, mirroring
    * movie_events_scraper.py `get_events` (:307-367) with its alias map
    * (:151-188) and title ladder (:56-127):
    *
    *   1. F11 — goods-name alias normalization: broadcast (raw,
    *      canonical) join, unmapped names pass through;
    *   2. J6 — phased movie-title match: recent ∪ opening-soon first,
    *      full catalog second ([[graft.operators.FuzzyMatch.phasedBestMatch]]);
    *   3. J4 — two-key fallback enrichment from movie events:
    *      key₁ = (identifier, goods_name), key₂ = (identifier,
    *      start_date, end_date), identifier = movie_title-or-goods_name
    *      with Python's falsy-"" semantics (ref :316, :325).
    *
    * Reference-exact gating: the date-key lookup is consulted ONLY when
    * the goods-key lookup missed the row entirely (the `updated` flag,
    * ref :336/:352) — a per-column coalesce across both lookups would
    * wrongly backfill a field the goods-key match left null. Field
    * semantics differ per column (ref :341-344): `event_url` is
    * overwritten by a non-null match value; `image_url` keeps the goods
    * event's own value when present.
    *
    * Determinism: the reference's dicts keep the LAST movie event per
    * key (insertion order) and delete used entries; a distributed batch
    * has no row order, so each lookup is deduped per key preferring
    * richer entries (non-null event_url, then image_url, then url
    * order) — the SURVEY §7.5 determinization discipline. Both lookups
    * are dimension-sized and broadcast; the goods-event side never
    * shuffles (steps 1 and 3 are broadcast joins; step 2 matches the
    * DISTINCT titles only — its exchange moves the title list, never the
    * event rows).
    *
    * Expected columns — goodsEvents: (movie_title, goods_name,
    * start_date, end_date, event_url, image_url, …); aliases: (raw,
    * canonical); recentNames/catalog: (movie_nm); movieEvents:
    * (movie_title, goods_name, start_date, end_date, event_url,
    * image_url).
    */
  def enrichGoodsEvents(goodsEvents: DataFrame, aliases: DataFrame,
                        recentNames: DataFrame, catalog: DataFrame,
                        movieEvents: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // Python `a or b`: "" and NULL are both falsy (ref :316)
    def pyOr(a: Column, b: Column): Column =
      when(a.isNotNull && length(a) > 0, a).otherwise(b)

    // 1. F11 alias normalization
    val g1 = goodsEvents
      .join(Hints.bcast(aliases.select(col("raw"), col("canonical"))),
        col("goods_name") === col("raw"), "left")
      .withColumn("goods_name", coalesce(col("canonical"), col("goods_name")))
      .drop("raw", "canonical")

    // 2. J6 phased title match (messy scraped title → catalog name) —
    // computed per DISTINCT title, not per event: hot titles repeat
    // across events and the match is a function of the title alone, so
    // the containment join runs T×|candidates| (not N×) and the result
    // broadcast-joins back onto the events without shuffling them
    val titles = g1.select("movie_title")
      .filter(col("movie_title").isNotNull).distinct()
    val matched = graft.operators.FuzzyMatch
      .phasedBestMatch(titles, "movie_title", recentNames, "movie_nm", catalog, "movie_nm")
      .withColumnRenamed("matched", "__matched")
    val g2 = g1.join(Hints.bcast(matched), Seq("movie_title"), "left")
      .withColumn("movie_title", col("__matched")).drop("__matched")

    // 3. J4 gated two-key enrichment
    def dedupPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("event_url").desc_nulls_last, col("image_url").desc_nulls_last)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
    val me = movieEvents
      .withColumn("__ident", pyOr(col("movie_title"), col("goods_name")))
    val byGoods = dedupPerKey(
      me.filter(col("__ident").isNotNull && col("goods_name").isNotNull),
      Seq("__ident", "goods_name"))
      .select(col("__ident"), col("goods_name").as("__k_goods"),
        col("event_url").as("__ev1"), col("image_url").as("__img1"))
    val byDates = dedupPerKey(
      me.filter(col("__ident").isNotNull && col("start_date").isNotNull
        && col("end_date").isNotNull),
      Seq("__ident", "start_date", "end_date"))
      .select(col("__ident"), col("start_date").as("__k_start"),
        col("end_date").as("__k_end"),
        col("event_url").as("__ev2"), col("image_url").as("__img2"))

    val fact = g2.withColumn("__ident", pyOr(col("movie_title"), col("goods_name")))
    val joined = fact
      .join(Hints.bcast(byGoods.withColumn("__hit1", lit(true))),
        fact("__ident") === byGoods("__ident")
          && col("goods_name") === col("__k_goods"), "left")
      .drop(byGoods("__ident"))
      .join(Hints.bcast(byDates),
        fact("__ident") === byDates("__ident")
          && col("start_date") === col("__k_start")
          && col("end_date") === col("__k_end"), "left")
      .drop(byDates("__ident"))
    joined
      .withColumn("event_url",
        when(col("__hit1"), coalesce(col("__ev1"), col("event_url")))
          .otherwise(coalesce(col("__ev2"), col("event_url"))))
      .withColumn("image_url",
        when(col("__hit1"), coalesce(col("image_url"), col("__img1")))
          .otherwise(coalesce(col("image_url"), col("__img2"))))
      .drop("__ident", "__k_goods", "__k_start", "__k_end",
        "__ev1", "__img1", "__ev2", "__img2", "__hit1")
  }

  /** Small-file compaction for an append-heavy store path: rewrite to
    * ~`targetRowsPerFile` rows per file (row-count proxy for target file
    * size — a library without file-size introspection can still bound
    * file COUNT deterministically). The append sinks here (10-minute
    * stock polls, daily ingests) produce one small file per run — the
    * classic lakehouse small-files problem; periodic compaction keeps
    * scan task counts and footer overhead bounded. Partition columns of
    * the original layout are preserved when `partitionBy` is given, so
    * pruning still works after compaction. Returns (filesBefore,
    * filesAfter).
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long,
              partitionBy: Seq[String] = Nil): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(): Long = StoreTable.dataFiles(fs, p).size.toLong
    AtomicStore.recover(spark, path) // roll forward a swap a crash interrupted
    val before = parquetFiles()
    val df = StoreTable.read(spark, path)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    // durable staging + rename swap (reads the live path while writing the
    // staging copy, so no localCheckpoint needed; crash-safe either way)
    AtomicStore.overwrite(df.repartition(nFiles), path, partitionBy)
    (before, parquetFiles())
  }

  /** Cluster a table's storage layout for pruning locality: hash-
    * distribute by `distributeBy` (keeps each key's rows in one file)
    * and sort WITHIN each file by `sortBy`, so parquet row-group
    * min/max statistics become selective for range predicates on the
    * sort columns — the poor-man's Z-order this environment's plain
    * parquet supports, and the layout a 100 TB table needs for
    * skip-scanning without a table format's clustering metadata.
    */
  def clusteredWrite(df: DataFrame, path: String, nFiles: Int,
                     distributeBy: Seq[String], sortBy: Seq[String]): Unit =
    df.repartition(nFiles, distributeBy.map(col): _*)
      .sortWithinPartitions(sortBy.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Debug CSV dump (S14, movie_events_scraper.py:304). */
  def dumpCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Schema introspection (S15) as a relation (round-7 verdict #2): one
    * row per column of each
    * named table — (tbl, col, ord, dtype) — the engine-facing dual of the
    * reference's `PRAGMA table_info` loop (ai_agent.py:26-38), emitted as
    * a DataFrame so the driver's DuckDB oracle can hash-compare it
    * against `information_schema.columns` over the same parquet. `dtype`
    * is a dialect-neutral category ("long"/"int"/"double"/"string"/
    * "timestamp"/"date"/"array<float>"/...), since the engines' native
    * type NAMES differ for identical physical columns. Metadata-sized by
    * definition — driver-side construction is the honest shape, exactly
    * like the reference's catalog queries.
    */
  def describeTables(spark: SparkSession, tables: Seq[(String, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.types._
    def category(dt: DataType): String = dt match {
      case LongType                      => "long"
      case IntegerType                   => "int"
      case DoubleType                    => "double"
      case FloatType                     => "float"
      case StringType                    => "string"
      case DateType                      => "date"
      case TimestampType | TimestampNTZType => "timestamp"
      case ArrayType(e, _)               => s"array<${category(e)}>"
      case other                         => other.simpleString
    }
    val rows = tables.flatMap { case (name, df) =>
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        (name, f.name, (i + 1).toLong, category(f.dataType))
      }
    }
    import spark.implicits._
    rows.toDF("tbl", "col", "ord", "dtype")
  }
}
