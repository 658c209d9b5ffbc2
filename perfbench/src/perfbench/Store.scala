package perfbench

import java.io.File
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{IncrementalAgg, Upsert}
import graft.pipelines.{AtomicStore, BoxOfficePipeline, BucketedFoldStore}

final case class BoxRow(movie_cd: String, movie_nm: String, open_dt: String,
                        target_dt: java.sql.Date, audi_cnt: Long, screen_cd: String)
final case class MovieRow(movie_cd: String, movie_nm: String, open_dt: String,
                          rep_genre_nm: String, updated_day: Int)
final case class GoodsRow(event_id: String, movie_title: String, goods_name: String,
                          start_date: String, end_date: String, event_url: String,
                          image_url: String, updated_day: Int)
final case class StockRow(event_id: String, theater_name: String, status: String,
                          scraped_at_us: Long)

/** `store_ingest`: the daily-ingest and stock-polling pipeline writing a
  * store that grows, with dashboard reads in between. One client, closed
  * loop. The traffic follows the reference deployment's envelope (the
  * constants in the companion object). Each simulated day, the same op
  * list: `ingestDaily` of the day's top-10 box office, drawn through
  * `orders`; `upsertMovies` and `upsertDim(goods_event)` of the active
  * goods events; [[PollsPerDay]] stock polls of every theater of every
  * active event, each landing as a parquet file drained by
  * `StreamingUpsert.start` on one persistent checkpoint; one
  * `BucketedFoldStore.foldOnce` of the day's `IncrementalAgg` state and
  * one seeded re-delivery that must be a no-op; a `compact` of the fact
  * table on even days; and reads through `api.BoxOffice` (`currentStock`,
  * `periodTopMovies`, `ask`), each after a write. A pass is one day.
  *
  * Every write and read is checked against a model the benchmark keeps
  * of what it sent; at the end the store is compared with one-shot
  * recomputes (a batch upsert of all polls, the `IncrementalAgg` one-shot
  * of all batches).
  */
final class Store(data: String, work: String, seed: Long) extends Workload {
  import Store._

  private var orders: Array[(Long, Long, Long)] = Array.empty // orderkey, custkey, price
  private var st: State = _

  final class State(val root: String) {
    val store = s"$root/store"
    val inbox = s"$root/inbox"
    val feed = s"$root/feed"
    val polls = s"$root/polls"
    val ckpt = s"$store/_checkpoint"
    val fold = s"$store/fold"
    var day = 0
    val box = mutable.ArrayBuffer.empty[BoxRow]
    val movies = mutable.Map.empty[String, MovieRow]
    val goods = mutable.Map.empty[String, GoodsRow]
    val stock = mutable.Map.empty[(String, String), StockRow]
    val batches = mutable.LinkedHashMap.empty[String, String] // fold batch id -> inbox dir
    var redeliveries = 0
    var noops = 0
  }

  private def date(d: Int): LocalDate = Day0.plusDays(d.toLong)
  private def movieCd(m: Int) = f"M$m%04d"
  private def movieNm(m: Int) = f"movie $m%04d"
  private def openDt(m: Int) = Day0.minusDays((m % 200).toLong).toString
  private def rnd(tag: Int, d: Int) = new Random(seed * 1000003L + d * 31L + tag)

  /** The day's box office: [[RowsPerDay]] distinct movies. */
  private def boxBatch(d: Int): Seq[BoxRow] = {
    val r = rnd(1, d)
    Iterator.continually(orders(r.nextInt(orders.length)))
      .distinctBy { case (_, ck, _) => ck % NMovies }.take(RowsPerDay)
      .map { case (ok, ck, price) =>
        val m = (ck % NMovies).toInt
        BoxRow(movieCd(m), movieNm(m), openDt(m), java.sql.Date.valueOf(date(d)),
          price, s"S${ok % 300}")
      }.toVector
  }

  private def movieRows(rows: Seq[BoxRow], d: Int): Seq[MovieRow] =
    rows.map(_.movie_cd).distinct.sorted.map { cd =>
      val m = cd.drop(1).toInt
      MovieRow(cd, movieNm(m), openDt(m), Genres(m % Genres.size), d)
    }

  /** Goods events open at an even rate, [[NEvents]] over [[HistoryDays]]
    * days, and each runs [[EventDays]] days.
    */
  private def eventStart(e: Int): Int = (e.toLong * HistoryDays / NEvents).toInt
  private def eventsOpenedBy(d: Int): Seq[Int] = Iterator.from(0).takeWhile(eventStart(_) <= d).toSeq
  private def activeEvents(d: Int): Seq[Int] = eventsOpenedBy(d).filter(e => d < eventStart(e) + EventDays)

  /** The events listing scraped on day `d` (the upsert re-sends each row). */
  private def goodsRows(events: Seq[Int], d: Int): Seq[GoodsRow] =
    events.map { e =>
      GoodsRow(f"E$e%03d", movieNm(e % NMovies), GoodsNames(e % GoodsNames.size),
        date(eventStart(e)).toString, date(eventStart(e) + EventDays - 1).toString,
        s"http://events/$e", s"http://img/$e/$d", d)
    }

  /** Poll `i` of day `d`: every theater of every active event. */
  private def pollRows(d: Int, i: Int): Seq[StockRow] = {
    val r = rnd(3 + i, d)
    val ts = date(d).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L +
      i * (86400L / PollsPerDay) * 1000000L + 600000000L
    for (e <- activeEvents(d); t <- Theaters)
      yield StockRow(f"E$e%03d", t, Statuses(r.nextInt(Statuses.size)), ts)
  }

  // ---- model renderings (same canonical text as Digest.canonRow) ----
  private def canonBox(b: BoxRow) =
    s"(audi_cnt=${b.audi_cnt},movie_cd=${b.movie_cd},movie_nm=${b.movie_nm},screen_cd=${b.screen_cd},target_dt=${b.target_dt})"
  private def canonMovie(m: MovieRow) =
    s"(movie_cd=${m.movie_cd},movie_nm=${m.movie_nm},open_dt=${m.open_dt},rep_genre_nm=${m.rep_genre_nm},updated_day=${m.updated_day})"
  private def canonGoods(g: GoodsRow) =
    s"(end_date=${g.end_date},event_id=${g.event_id},event_url=${g.event_url},goods_name=${g.goods_name},image_url=${g.image_url},movie_title=${g.movie_title},start_date=${g.start_date},updated_day=${g.updated_day})"
  private def canonStock(s: StockRow) =
    s"(event_id=${s.event_id},scraped_at_us=${s.scraped_at_us},status=${s.status},theater_name=${s.theater_name})"

  private def digestOf(df: DataFrame): String = Digest.ofRows(df.collect())

  private def expect(what: String, got: String, want: String): Unit =
    if (got != want) throw new IllegalStateException(s"$what: store $got != model $want")

  // ---- landing inputs (upstream's job: untimed, outside every op) ----
  private def land[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, rows: Seq[T], dir: String): Unit =
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(dir)

  /** Land poll `name` and move its single parquet file into the feed. */
  private def landPoll(spark: SparkSession, rows: Seq[StockRow], name: String): Unit = {
    val staging = s"${st.polls}/$name"
    land(spark, rows, staging)
    val part = new File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    new File(st.feed).mkdirs()
    if (!part.renameTo(new File(st.feed, s"$name.parquet")))
      throw new IllegalStateException(s"could not land poll $name")
    Util.deleteRecursively(new File(staging))
  }

  private def files(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isFile) Seq(f.getPath -> f.length())
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new File(root)).toMap
  }

  /** A write op; in a traced op, also the files and bytes it left under
    * the store that were not there before (renamed-in files count: a
    * swap writes the whole new generation).
    */
  private def commitOp(r: Runner, name: String)(body: Ctx => Result): Unit =
    r.op(name, "commit") { ctx =>
      val before = if (ctx.traced) files(st.store) else Map.empty[String, Long]
      val res = body(ctx)
      if (ctx.traced) {
        val fresh = files(st.store).filter { case (p, _) => !before.contains(p) }
        ctx.extra("pipelines.bytes_written") += fresh.values.sum.toDouble
        ctx.extra("pipelines.files_written") += fresh.size.toDouble
      }
      res
    }

  // ---- the pipeline steps, each one op ----
  private def ingest(r: Runner, rows: Seq[BoxRow], inboxDir: String, asOf: LocalDate): Unit =
    commitOp(r, "ingest_daily") { ctx =>
      val n = ctx.layer("pipelines.ingest_daily") {
        BoxOfficePipeline.ingestDaily(ctx.spark, st.store, ctx.spark.read.parquet(inboxDir), asOf.toString)
      }
      if (n != rows.size) throw new IllegalStateException(s"ingested $n rows, sent ${rows.size}")
      st.box ++= rows
      Result(n, "")
    }

  private def upsertMovies(r: Runner, rows: Seq[MovieRow]): Unit =
    commitOp(r, "upsert_movies") { ctx =>
      val fresh = ctx.spark.createDataFrame(rows)
      val n = ctx.layer("pipelines.upsert_dim") {
        BoxOfficePipeline.upsertMovies(ctx.spark, st.store, fresh)
      }
      rows.foreach(m => st.movies(m.movie_cd) = m)
      if (n != st.movies.size) throw new IllegalStateException(s"movie dim has $n rows, model ${st.movies.size}")
      Result(rows.size, "")
    }

  private def upsertGoods(r: Runner, rows: Seq[GoodsRow]): Unit =
    commitOp(r, "upsert_goods_event") { ctx =>
      val fresh = ctx.spark.createDataFrame(rows)
      val n = ctx.layer("pipelines.upsert_dim") {
        BoxOfficePipeline.upsertDim(ctx.spark, st.store, "goods_event", fresh, Seq("event_id"))
      }
      rows.foreach(g => st.goods(g.event_id) = g)
      if (n != st.goods.size) throw new IllegalStateException(s"goods_event has $n rows, model ${st.goods.size}")
      Result(rows.size, "")
    }

  /** Drain every landed poll into the stock table (one persistent checkpoint). */
  private def drain(ctx: Ctx): Unit = {
    val q = ctx.layer("streaming.query_start") {
      graft.streaming.StreamingUpsert.start(ctx.spark,
        ctx.spark.readStream.schema(StockSchema).parquet(st.feed),
        s"${st.store}/goods_stock", Seq("event_id", "theater_name"), "scraped_at_us", st.ckpt)
    }
    ctx.layer("streaming.await")(q.awaitTermination())
  }

  private def poll(r: Runner, rows: Seq[StockRow]): Unit =
    commitOp(r, "stock_poll") { ctx =>
      drain(ctx)
      rows.foreach(s => st.stock((s.event_id, s.theater_name)) = s)
      Result(rows.size, "")
    }

  private def foldAgg(spark: SparkSession, dir: String): DataFrame =
    IncrementalAgg.aggregateBatch(spark.read.parquet(dir), Seq("movie_cd"), "audi_cnt", "screen_cd", Kmv)

  private def foldOnce(spark: SparkSession, batchId: String, dir: String): Boolean =
    BucketedFoldStore.foldOnce(spark, st.fold, batchId, foldAgg(spark, dir), Seq("movie_cd"), FoldBuckets)(
      (s, d) => IncrementalAgg.merge(s, d, Seq("movie_cd"), Kmv))

  private def fold(r: Runner, batchId: String, dir: String): Unit =
    commitOp(r, "fold") { ctx =>
      val ran = ctx.layer("pipelines.fold")(foldOnce(ctx.spark, batchId, dir))
      if (!ran) throw new IllegalStateException(s"first delivery of $batchId was skipped")
      st.batches(batchId) = dir
      Result(0, "")
    }

  private def redeliver(r: Runner, batchId: String): Unit =
    commitOp(r, "fold_redelivery") { ctx =>
      st.redeliveries += 1
      val ran = ctx.layer("pipelines.fold")(foldOnce(ctx.spark, batchId, st.batches(batchId)))
      if (ran) throw new IllegalStateException(s"re-delivery of $batchId was applied again")
      st.noops += 1
      Result(0, "")
    }

  private def compact(r: Runner): Unit =
    commitOp(r, "compact") { ctx =>
      val (_, after) = ctx.layer("pipelines.compact") {
        BoxOfficePipeline.compact(ctx.spark, s"${st.store}/boxoffice", CompactRowsPerFile, Seq("target_dt"))
      }
      Result(0, "")
    }

  /** A facade read: recover the tables it reads, then consume the answer
    * and compare it with the model's.
    */
  private def read(r: Runner, name: String, tables: Seq[String], want: Seq[String])
                  (call: graft.api.BoxOffice => DataFrame): Unit = {
    val wantDigest = Digest.ofCanon(want.iterator)
    r.op(name, "read") { ctx =>
      tables.foreach { t =>
        ctx.layer("pipelines.recover")(AtomicStore.recover(ctx.spark, s"${st.store}/$t"))
      }
      val rows = ctx.layer("api.read")(call(new graft.api.BoxOffice(ctx.spark, st.store)).collect())
      expect(name, Digest.ofRows(rows), wantDigest)
      Result(rows.length, "")
    }
  }

  private def topMovies(from: LocalDate, to: LocalDate): Seq[String] =
    st.box.filter { b => val d = b.target_dt.toLocalDate; !d.isBefore(from) && !d.isAfter(to) }
      .groupBy(_.movie_nm).map { case (nm, bs) => nm -> bs.map(_.audi_cnt).sum }.toSeq
      .sortBy { case (nm, total) => (-total, nm) }.take(10)
      .map { case (nm, total) =>
        s"(movie_nm=$nm,total_audience=${java.math.BigDecimal.valueOf(total).setScale(6).toPlainString})"
      }

  private def dailyTotals(from: LocalDate): Seq[String] =
    st.box.filter(b => !b.target_dt.toLocalDate.isBefore(from)).groupBy(_.target_dt).toSeq
      .map { case (d, bs) => s"(audience=${bs.map(_.audi_cnt).sum},n=${bs.size},target_dt=$d)" }

  // ---- workload ----

  /** Seed a fresh store as the reference pipeline bootstraps an empty
    * one: one `ingestDaily` of the last [[BootstrapDays]] days. Then the
    * dimensions at the reference's size (the 283-movie catalog, the goods
    * events opened so far), the fold store, one drained poll and a
    * compaction.
    */
  override def prepare(r: Runner): Unit = {
    val spark = r.spark
    orders = graft.Tables.load(spark, data, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    st = new State(s"$work/store_ingest")
    Util.deleteRecursively(new File(st.root))
    val last = FirstDay - 1
    val seedRows = (FirstDay - BootstrapDays until FirstDay).flatMap(boxBatch)
    land(spark, seedRows, s"${st.inbox}/seed")
    ingest(r, seedRows, s"${st.inbox}/seed", date(last))
    upsertMovies(r, (0 until NMovies).map(m => MovieRow(movieCd(m), movieNm(m), openDt(m), Genres(m % Genres.size), last)))
    upsertGoods(r, goodsRows(eventsOpenedBy(last), last))
    fold(r, "seed_0", s"${st.inbox}/seed")
    val p = pollRows(last, 0)
    landPoll(spark, p, "seed-0")
    poll(r, p)
    compact(r)
    reads(r, last, p.head.event_id)
    st.day = FirstDay
  }

  /** One set-up repetition: what the pipeline service does when it starts
    * on the existing store: roll forward any interrupted swap, list and
    * read the schema of every table, open the fold store's state, and
    * register the tables as views.
    */
  def setup(spark: SparkSession): Unit = {
    StoreTables.foreach { t =>
      val path = s"${st.store}/$t"
      AtomicStore.recover(spark, path)
      spark.read.parquet(path).createOrReplaceTempView(t)
    }
    BucketedFoldStore.readState(spark, st.fold).schema
  }

  /** One simulated day of writes and reads. */
  private def simulateDay(r: Runner): Unit = {
    val spark = r.spark
    val d = st.day
    val rows = boxBatch(d)
    val inboxDir = s"${st.inbox}/day_$d"
    land(spark, rows, inboxDir)
    ingest(r, rows, inboxDir, date(d))
    upsertMovies(r, movieRows(rows, d))
    upsertGoods(r, goodsRows(activeEvents(d), d))
    val dayRnd = rnd(9, d)
    (0 until PollsPerDay).foreach { i =>
      val p = pollRows(d, i)
      landPoll(spark, p, s"$d-$i")
      poll(r, p)
      if (i == 0) readStock(r, p(dayRnd.nextInt(p.size)).event_id)
      else if (i == PollsPerDay - 1) readTop(r, d)
    }
    fold(r, s"day_$d", inboxDir)
    val ids = st.batches.keys.toIndexedSeq
    redeliver(r, ids(dayRnd.nextInt(ids.size)))
    if (d % CompactEvery == 0) compact(r)
    readAsk(r, d)
    st.day += 1
  }

  private def readStock(r: Runner, ev: String): Unit =
    read(r, "read_current_stock", Seq("goods_stock"),
      st.stock.valuesIterator.filter(_.event_id == ev).map(canonStock).toSeq)(_.currentStock(ev))

  private def readTop(r: Runner, d: Int): Unit =
    read(r, "read_period_top", Seq("boxoffice"), topMovies(date(d - 6), date(d)))(
      _.periodTopMovies(date(d - 6).toString, date(d).toString, 10))

  private def readAsk(r: Runner, d: Int): Unit =
    read(r, "read_ask", Seq("boxoffice", "movie", "goods_event", "goods_stock"), dailyTotals(date(d - 6)))(
      _.ask(s"SELECT target_dt, COUNT(*) AS n, SUM(audi_cnt) AS audience FROM boxoffice " +
        s"WHERE target_dt >= DATE '${date(d - 6)}' GROUP BY target_dt"))

  private def reads(r: Runner, d: Int, ev: String): Unit = {
    readStock(r, ev); readTop(r, d); readAsk(r, d)
  }

  def pass(r: Runner, p: Int): Unit = simulateDay(r)

  /** A warm simulated day takes about 10 s. */
  def nominalPassSeconds: Double = 10.0

  /** [[prepare]] has run every op kind once. */
  override def warmupPasses: Int = 0

  override def verify(r: Runner): Unit = {
    r.op("verify_boxoffice", "verify") { ctx =>
      val got = digestOf(ctx.spark.read.parquet(s"${st.store}/boxoffice")
        .select("movie_cd", "movie_nm", "target_dt", "audi_cnt", "screen_cd"))
      expect("boxoffice", got, Digest.ofCanon(st.box.iterator.map(canonBox)))
      Result(st.box.size, "")
    }
    r.op("verify_movie", "verify") { ctx =>
      expect("movie", digestOf(ctx.spark.read.parquet(s"${st.store}/movie")),
        Digest.ofCanon(st.movies.valuesIterator.map(canonMovie)))
      Result(st.movies.size, "")
    }
    r.op("verify_goods_event", "verify") { ctx =>
      expect("goods_event", digestOf(ctx.spark.read.parquet(s"${st.store}/goods_event")),
        Digest.ofCanon(st.goods.valuesIterator.map(canonGoods)))
      Result(st.goods.size, "")
    }
    r.op("verify_stock_vs_batch_upsert", "verify") { ctx =>
      val s = ctx.spark
      val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], StockSchema)
      val oneShot = digestOf(Upsert.upsert(empty, s.read.schema(StockSchema).parquet(st.feed),
        Seq("event_id", "theater_name"), col("scraped_at_us")))
      val got = digestOf(s.read.parquet(s"${st.store}/goods_stock"))
      expect("goods_stock vs one-shot upsert", got, oneShot)
      expect("goods_stock", got, Digest.ofCanon(st.stock.valuesIterator.map(canonStock)))
      Result(st.stock.size, "")
    }
    r.op("verify_fold_vs_one_shot", "verify") { ctx =>
      val s = ctx.spark
      val all = st.batches.values.map(s.read.parquet).reduce(_ unionByName _)
      val oneShot = IncrementalAgg.aggregateBatch(all, Seq("movie_cd"), "audi_cnt", "screen_cd", Kmv)
      val stored = BucketedFoldStore.readState(s, st.fold)
      val want = digestOf(IncrementalAgg.finalize(oneShot, Seq("movie_cd"), Kmv))
      expect("fold store vs IncrementalAgg one-shot",
        digestOf(IncrementalAgg.finalize(stored, Seq("movie_cd"), Kmv)), want)
      Result(st.batches.size, "")
    }
  }

  private def commits(recs: Seq[OpRec]) = recs.filter(_.kind == "commit")

  def storeBytes: Long = Util.du(new File(st.store))._1
  def inputBytes: Long = Util.du(new File(st.inbox))._1 + Util.du(new File(st.feed))._1

  def report(best: Seq[Util.OpFigure], recs: Seq[OpRec]): Seq[(String, Double, String)] = {
    val c = best.filter(_.kind == "commit").map(_.ms)
    val rd = best.filter(_.kind == "read").map(_.ms)
    Seq(("ingest_commit_p50_ms", Util.quantile(c, 0.5), "ms"),
      ("ingest_commit_p95_ms", Util.quantile(c, 0.95), "ms"),
      ("ingest_read_p50_ms", Util.quantile(rd, 0.5), "ms"),
      ("ingest_rows_per_s", commits(recs).map(_.rows).sum / (commits(recs).map(_.ms).sum / 1000.0), "1/s"),
      ("store_bytes_per_input_byte", storeBytes.toDouble / inputBytes, "ratio"),
      ("store_bytes", storeBytes.toDouble, "bytes"),
      ("store_days", st.day.toDouble, "count"))
  }

  override def layerExtras(traced: Seq[OpRec]): Map[String, Double] = Map(
    "pipelines.redelivery_noop_ratio" ->
      (if (st.redeliveries == 0) 1.0 else st.noops.toDouble / st.redeliveries),
    "pipelines.store_bytes" -> storeBytes.toDouble)
}

object Store {
  // The traffic follows the reference deployment's envelope (BASELINE.md,
  // "Reference envelope"): box office over 2025-01-01 to 2025-07-25 (206
  // days, about 10 rows a day), 283 movies, 82 goods events, about 45
  // theaters per event, an empty store bootstrapped with its last 7 days.
  // Kept: the rows per day, the dimension sizes, the theaters per event,
  // the bootstrap. Scaled for the time budget: the reference polls stock
  // every 10 minutes (144 polls a day); a simulated day here runs
  // PollsPerDay polls, so streaming's share of a day is smaller than there.
  // The fact table starts from the bootstrap, not from the reference's 203
  // days: with one partition per day those made a simulated day take 21 s.
  // EventDays is not in the envelope; 14 days keeps 5-6 events active.
  val Day0: LocalDate = LocalDate.of(2025, 1, 1)
  val StoreTables = Seq("boxoffice", "movie", "goods_event", "goods_stock")
  val HistoryDays = 206
  val RowsPerDay = 10
  val BootstrapDays = 7 // the reference's first ingest into an empty store
  val FirstDay: Int = HistoryDays // the first simulated day: 2025-07-26
  val NMovies = 283
  val NEvents = 82
  val EventDays = 14
  val TheatersPerEvent = 45
  val PollsPerDay = 3
  val CompactEvery = 2
  val Kmv = 16
  val FoldBuckets = 4 // one per core, for 283 movie keys
  val CompactRowsPerFile = 20000L
  val Genres = Seq("drama", "comedy", "action", "thriller", "animation", "documentary")
  val GoodsNames = Seq("poster", "badge", "ticket", "figure", "card")
  val Theaters: Seq[String] = (0 until TheatersPerEvent).map { t =>
    f"${Seq("CGV", "Lotte Cinema", "Megabox")(t % 3)} ${t / 3 + 1}%02d"
  }
  val Statuses = Seq("in stock", "running low", "sold out")

  val StockSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[StockRow].schema
}
