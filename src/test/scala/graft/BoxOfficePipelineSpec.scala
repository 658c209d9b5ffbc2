package graft

import graft.pipelines.{BoxOfficePipeline, StoreTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Date

/** End-to-end store lifecycle on reference-shaped data (FIXTURES.md §1):
  * incremental ingest with watermark skip, partition-overwrite backfill,
  * dimension upsert, stock append + latest view, CSV dump, introspection.
  */
class BoxOfficePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft_store_").toString

  private def rawBoxoffice(rows: (String, String, String, String, Double)*) =
    rows.toDF("movie_cd", "movie_nm", "open_dt", "td", "audi_cnt")
      .withColumn("target_dt", to_date(col("td"))).drop("td")

  test("incremental ingest: watermark resume, null-date drop, re-run no-op") {
    val root = freshRoot()
    val day1 = rawBoxoffice(
      ("m1", "하얼빈", "2024-12-24", "2025-01-01", 340484.0),
      ("m2", "bad-date", "not a date", "2025-01-01", 10.0)) // P7 drop
    assert(BoxOfficePipeline.ingestDaily(spark, root, day1, "2025-01-01") == 1)

    // re-run same day → watermark makes it a no-op
    assert(BoxOfficePipeline.ingestDaily(spark, root, day1, "2025-01-01") == 0)

    // next day ingests only the new date, elapsed_dt derived (F5)
    val day2 = rawBoxoffice(
      ("m1", "하얼빈", "2024-12-24", "2025-01-01", 340484.0),  // already stored
      ("m1", "하얼빈", "2024-12-24", "2025-01-02", 228000.0))
    assert(BoxOfficePipeline.ingestDaily(spark, root, day2, "2025-01-02") == 1)

    val store = spark.read.parquet(s"$root/boxoffice")
    assert(store.count() == 2)
    val e = store.filter(col("target_dt") === Date.valueOf("2025-01-02"))
      .select("elapsed_dt").as[Int].head()
    assert(e == 9)
  }

  test("backfill rewrites only its partitions (S13 dynamic overwrite)") {
    val root = freshRoot()
    BoxOfficePipeline.ingestDaily(spark, root, rawBoxoffice(
      ("m1", "a", "2024-12-24", "2025-01-01", 1.0),
      ("m1", "a", "2024-12-24", "2025-01-02", 2.0)), "2025-01-02")
    // replacement for Jan 1 only, corrected count
    val repl = rawBoxoffice(("m1", "a", "2024-12-24", "2025-01-01", 99.0))
      .withColumn("open_dt", to_date(col("open_dt")))
      .withColumn("elapsed_dt", datediff(col("target_dt"), col("open_dt")))
    // dynamic overwrite is a per-write option: the session conf stays put
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(modeKey)
    BoxOfficePipeline.backfillRange(spark, root, repl)
    assert(spark.conf.get(modeKey) == modeBefore, s"backfill changed $modeKey")
    val store = spark.read.parquet(s"$root/boxoffice")
    assert(store.count() == 2) // Jan 2 untouched
    assert(store.filter(col("target_dt") === Date.valueOf("2025-01-01"))
      .select("audi_cnt").as[Double].head() == 99.0)
  }

  test("date filter prunes partitions at the scan (100 TB read path)") {
    val root = freshRoot()
    BoxOfficePipeline.ingestDaily(spark, root, rawBoxoffice(
      ("m1", "a", "2024-12-24", "2025-01-01", 1.0),
      ("m1", "a", "2024-12-24", "2025-01-02", 2.0),
      ("m1", "a", "2024-12-24", "2025-01-03", 3.0)), "2025-01-03")
    val filtered = spark.read.parquet(s"$root/boxoffice")
      .filter(col("target_dt") === Date.valueOf("2025-01-02"))
    // collect() (not count()) so the metrics land on THIS plan's scan
    assert(filtered.collect().length == 1)
    val plan = filtered.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters") && plan.toString.contains("target_dt"),
      s"partition filter missing from scan:\n$plan")
    // the scan's own metric: only the matching partition's file was read
    val numFiles = plan.collectLeaves().head.metrics.get("numFiles").map(_.value)
    assert(numFiles.contains(1L), s"expected 1 pruned file, got $numFiles")
  }

  test("movie dimension upsert: new rows insert, existing rows update") {
    val root = freshRoot()
    val v1 = Seq(("m1", "하얼빈", "드라마"), ("m2", "시크릿", "코미디"))
      .toDF("movie_cd", "movie_nm", "rep_genre_nm")
    assert(BoxOfficePipeline.upsertMovies(spark, root, v1) == 2)
    val v2 = Seq(("m2", "시크릿 2", "코미디"), ("m3", "판타스틱4", "SF"))
      .toDF("movie_cd", "movie_nm", "rep_genre_nm")
    assert(BoxOfficePipeline.upsertMovies(spark, root, v2) == 3)
    val dim = spark.read.parquet(s"$root/movie")
    assert(dim.filter(col("movie_cd") === "m2")
      .select("movie_nm").as[String].head() == "시크릿 2")
  }

  test("backfillDimRange: in-range rows absent from fresh are DELETED, rerun idempotent") {
    val root = freshRoot()
    // store: two 2024 movies, one 2023 movie, one null open_dt
    val v1 = Seq(("m1", "a", "2024-01-10"), ("m2", "b", "2024-06-01"),
        ("m3", "c", "2023-03-03"), ("m4", "d", null.asInstanceOf[String]))
      .toDF("movie_cd", "movie_nm", "open_dt")
    assert(BoxOfficePipeline.upsertDim(spark, root, "movie", v1, Seq("movie_cd")) == 4)
    // backfill 2024: fresh carries m1 (renamed) and a new m5 — m2 is
    // GONE upstream, so delete-then-insert must drop it (the upsert
    // would have kept it: backfill_movie.py:31 semantics)
    val fresh = Seq(("m1", "a2", "2024-01-10"), ("m5", "e", "2024-09-09"))
      .toDF("movie_cd", "movie_nm", "open_dt")
    val pred = substring(col("open_dt"), 1, 4).between("2024", "2024")
    assert(BoxOfficePipeline.backfillDimRange(spark, root, "movie", pred, fresh) == 4)
    val dim = spark.read.parquet(s"$root/movie")
    val byCd = dim.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // m2 deleted; m1 replaced; m3 (out of range) and m4 (null pred → not
    // TRUE → survives, like SQL DELETE) untouched
    assert(byCd == Map("m1" -> "a2", "m3" -> "c", "m4" -> "d", "m5" -> "e"))
    // rerun: identical result (idempotent)
    assert(BoxOfficePipeline.backfillDimRange(spark, root, "movie", pred, fresh) == 4)
    assert(spark.read.parquet(s"$root/movie").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == byCd)
  }

  test("backfillDimRange on a missing store creates it from fresh (S12 path)") {
    val root = freshRoot()
    val fresh = Seq(("m1", "a", "2024-01-10")).toDF("movie_cd", "movie_nm", "open_dt")
    val pred = substring(col("open_dt"), 1, 4).between("2024", "2024")
    assert(BoxOfficePipeline.backfillDimRange(spark, root, "movie", pred, fresh) == 1)
    assert(spark.read.parquet(s"$root/movie").count() == 1)
  }

  test("stock append + latest view + CSV dump + introspection") {
    val root = freshRoot()
    val obs1 = Seq(("e1", "CGV강남", "보유"), ("e1", "용산", "보유"))
      .toDF("event_id", "theater_name", "status")
    val obs2 = Seq(("e1", "CGV강남", "소진"))
      .toDF("event_id", "theater_name", "status")
    BoxOfficePipeline.appendStock(spark, root, obs1, 1000L)
    BoxOfficePipeline.appendStock(spark, root, obs2, 2000L)
    val latest = BoxOfficePipeline.latestStock(spark, root)
    assert(latest.count() == 2)
    assert(latest.filter(col("theater_name") === "CGV강남")
      .select("status").as[String].head() == "소진")

    val csvDir = freshRoot() + "/dump"
    BoxOfficePipeline.dumpCsv(latest, csvDir)
    assert(new java.io.File(csvDir).listFiles().exists(_.getName.endsWith(".csv")))

    val desc = BoxOfficePipeline.describeTables(spark,
        Seq("goods_stock" -> StoreTable.read(spark, s"$root/goods_stock")))
      .select("col", "dtype").as[(String, String)].collect().toMap
    assert(desc.get("scraped_at_us").contains("long") && desc.size == 4, s"got $desc")
  }

  test("compact merges many small append files and preserves all rows") {
    import spark.implicits._
    val path = freshRoot() + "/small_files"
    // 12 tiny appends → at least 12 part files
    (1 to 12).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .repartition(1).write.mode("append").parquet(path)
    }
    val beforeRows = spark.read.parquet(path).count()
    val (before, after) = BoxOfficePipeline.compact(spark, path, targetRowsPerFile = 100)
    assert(before >= 12 && after == 1, s"files before=$before after=$after")
    assert(spark.read.parquet(path).count() == beforeRows)
  }

  test("clusteredWrite produces files whose sort-column ranges do not interleave") {
    import spark.implicits._
    val path = freshRoot() + "/clustered"
    val df = (1L to 1000L).map(i => (i % 4, i)).toDF("k", "ts")
    BoxOfficePipeline.clusteredWrite(df, path, nFiles = 4,
      distributeBy = Seq("k"), sortBy = Seq("k", "ts"))
    // within every physical file, rows must be sorted by (k, ts) — the
    // property that makes row-group min/max stats selective
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    // hash-distribution may collide keys into the same partition (empty
    // partitions write no file) — bound, don't pin, the count
    assert(files.nonEmpty && files.length <= 4)
    files.foreach { f =>
      val rows = spark.read.parquet(f).select("k", "ts")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)), s"unsorted rows in $f")
    }
    assert(spark.read.parquet(path).count() == 1000)
  }

  test("enrichGoodsEvents: alias → phased title → gated two-key enrichment") {
    import spark.implicits._
    val goods = Seq(
      // key₁ hit: title matched via RECENT set, goods name via alias map
      (1L, "엔드게임 <굿즈>", "SX 포스터", "2024-01-01", "2024-01-31",
        null.asInstanceOf[String], null.asInstanceOf[String]),
      // key₁ miss, key₂ (date) hit; own image kept
      (2L, "하얼빈 대개봉", "포스터B", "2024-02-01", "2024-02-28",
        null.asInstanceOf[String], "own_img2"),
      // NULL title → identifier falls back to goods name; key₁ hit with
      // null event_url — the GATE means the date-key match (which has a
      // url) must NOT be consulted
      (3L, null.asInstanceOf[String], "4DX 라벨", "2024-03-01", "2024-03-31",
        "own_url3", null.asInstanceOf[String]))
      .toDF("event_id", "movie_title", "goods_name", "start_date", "end_date",
        "event_url", "image_url")
    val aliases = Seq(("SX 포스터", "SCREENX 포스터")).toDF("raw", "canonical")
    val recent = Seq("어벤져스 엔드게임").toDF("movie_nm")
    val catalog = Seq("엔드게임", "어벤져스 엔드게임", "하얼빈 대개봉 기념").toDF("movie_nm")
    val movieEvents = Seq(
      ("어벤져스 엔드게임", "SCREENX 포스터", "2024-01-05", "2024-01-25", "http://m1", "img1"),
      ("하얼빈 대개봉 기념", "다른 굿즈", "2024-02-01", "2024-02-28", "http://m2", "img2"),
      (null.asInstanceOf[String], "4DX 라벨", "2024-03-05", "2024-03-20",
        null.asInstanceOf[String], "img3"),
      ("4DX 라벨", "또다른 굿즈", "2024-03-01", "2024-03-31", "http://m4", "img4"))
      .toDF("movie_title", "goods_name", "start_date", "end_date", "event_url", "image_url")

    val out = BoxOfficePipeline.enrichGoodsEvents(goods, aliases, recent, catalog, movieEvents)
      .select("event_id", "movie_title", "goods_name", "event_url", "image_url")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap

    // 1: recent-phase title, aliased goods name, key₁ enrichment fills both
    assert(out(1L) == ("어벤져스 엔드게임", "SCREENX 포스터", "http://m1", "img1"))
    // 2: catalog-phase title, date-key fallback fills url, own image kept
    assert(out(2L) == ("하얼빈 대개봉 기념", "포스터B", "http://m2", "own_img2"))
    // 3: null title → goods identifier; key₁ hit gates out the date-key
    // match, so own url survives and image comes from the key₁ row
    assert(out(3L) == (null, "4DX 라벨", "own_url3", "img3"))
  }
}
