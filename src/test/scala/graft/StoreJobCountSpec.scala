package graft

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.BoxOffice
import graft.pipelines.{AtomicStore, BoxOfficePipeline, BucketedFoldStore, StoreTable}
import graft.streaming.StreamingUpsert

/** Pins the exact number of Spark jobs the store layer launches, the
  * way [[PlanShapeSpec]] pins plan shapes: a store read costs no job
  * before its action, and each store commit runs its plan once, with
  * no job spent on schema inference or on counting before the write.
  *
  * Counts repeat exactly for a fixed input with AQE on (each AQE query
  * stage is its own job, so a commit's count is its shuffle stages plus
  * its result stage). Each case runs on its own session, so settings
  * other specs leave on the shared session cannot move a count. Jobs are
  * attributed by job group (batch calls, and a streaming run's
  * micro-batch: the run id a streaming run sets as its job group),
  * never by timing.
  */
class StoreJobCountSpec extends SparkSpec {

  private val started = new ConcurrentLinkedQueue[Properties]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties).getOrElse(new Properties()))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  private def drained(): Seq[Properties] = {
    org.apache.spark.graftspec.BusDrain.drain(spark.sparkContext)
    started.asScala.toSeq
  }

  /** Run `body` under a fresh job group; returns its result and the
    * number of Spark jobs it launched.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"store-jobs-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "store job count", interruptOnCancel = false)
    try {
      val out = body
      (out, drained().count(_.getProperty("spark.jobGroup.id") == group))
    } finally sc.clearJobGroup()
  }

  private def freshRoot() = Files.createTempDirectory("graft_jobs_").toString

  private def raw(s: SparkSession, day: String, n: Int): DataFrame = {
    import s.implicits._
    (0 until n).map(i => (s"m$i", s"movie $i", "2024-12-24", day, i.toLong * 100))
      .toDF("movie_cd", "movie_nm", "open_dt", "td", "audi_cnt")
      .withColumn("target_dt", to_date(col("td"))).drop("td")
  }

  private def movies(s: SparkSession, from: Int, to: Int): DataFrame = {
    import s.implicits._
    (from until to).map(i => (s"m$i", s"movie $i", "drama")).toDF("movie_cd", "movie_nm", "rep_genre_nm")
  }

  /** A store with every table kind: partitioned fact, dimension, stock
    * log, an in-table-ledger fold store and a bucketed fold store.
    */
  private def seededStore(s: SparkSession): String = {
    import s.implicits._
    val root = freshRoot()
    BoxOfficePipeline.ingestDaily(s, root, raw(s, "2025-01-01", 5), "2025-01-01")
    BoxOfficePipeline.upsertMovies(s, root, movies(s, 0, 5))
    BoxOfficePipeline.upsertDim(s, root, "goods_event",
      Seq(("e1", "movie 1", "2025-01-09")).toDF("event_id", "movie_title", "end_date"),
      Seq("event_id"))
    BoxOfficePipeline.appendStock(s, root,
      Seq(("e1", "CGV 01", "in stock")).toDF("event_id", "theater_name", "status"), 1L)
    val delta = Seq(("k1", 1L)).toDF("k", "n")
    val sumMerge = (st: DataFrame, d: DataFrame) =>
      st.unionByName(d).groupBy("k").agg(sum("n").as("n"))
    AtomicStore.foldOnce(s, s"$root/fold", "b_1", delta)(sumMerge)
    BucketedFoldStore.foldOnce(s, s"$root/bfold", "b_1", delta, Seq("k"), 4)(sumMerge)
    root
  }

  test("store-table reads launch no Spark job before their action") {
    val s = spark.newSession()
    val root = seededStore(s)
    val ((schemas, described), jobs) = jobsOf {
      val api = new BoxOffice(s, root)
      val schemas = Seq(
        StoreTable.read(s, s"$root/boxoffice"),
        BoxOfficePipeline.readOrEmpty(s, s"$root/movie", movies(s, 0, 1)),
        BoxOfficePipeline.latestStock(s, root),
        api.periodTopMovies("2025-01-01", "2025-01-01"),
        api.genreRollup("2025-01-01", "2025-01-01"),
        api.currentStock("e1"),
        api.ask("SELECT COUNT(*) AS n FROM boxoffice JOIN movie USING (movie_cd)"),
        AtomicStore.readState(s, s"$root/fold"),
        BucketedFoldStore.readState(s, s"$root/bfold")
      ).map(_.schema)
      (schemas, BoxOfficePipeline.describeStore(s, root, Seq("boxoffice", "nope")))
    }
    assert(schemas.forall(_.nonEmpty))
    assert(described.contains("target_dt: date") && described.contains("nope: <empty>"))
    assert(jobs == 0, s"$jobs job(s) launched while building store reads")
  }

  test("upsertDim on an existing table: 2 jobs (merge shuffle stage + the write)") {
    val s = spark.newSession()
    val root = seededStore(s)
    val (n, jobs) = jobsOf(BoxOfficePipeline.upsertMovies(s, root, movies(s, 3, 8)))
    assert(n == 8)
    assert(jobs == 2, s"upsertDim launched $jobs jobs")
  }

  test("ingestDaily of one new day: 3 jobs (spine: 2, the write: 1)") {
    val s = spark.newSession()
    val root = seededStore(s)
    val (n, jobs) = jobsOf(BoxOfficePipeline.ingestDaily(s, root, raw(s, "2025-01-02", 5), "2025-01-02"))
    assert(n == 5)
    assert(jobs == 3, s"ingestDaily launched $jobs jobs")
    // an up-to-date store stops after the spine: no write job
    val (n2, jobs2) = jobsOf(BoxOfficePipeline.ingestDaily(s, root, raw(s, "2025-01-02", 5), "2025-01-02"))
    assert(n2 == 0)
    assert(jobs2 == 2, s"a no-op ingestDaily launched $jobs2 jobs")
  }

  test("one StreamingUpsert micro-batch into an existing store: 2 jobs") {
    val s = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val dir = freshRoot()
    val input = MemoryStream[(String, String, Long)]
    val stream = input.toDS().toDF("event_id", "status", "scraped_at")
    def drain(): Int = {
      val q = StreamingUpsert.start(s, stream, s"$dir/store", Seq("event_id"),
        "scraped_at", s"$dir/ckpt")
      q.awaitTermination()
      // a run's jobs carry its run id as their job group
      val run = q.runId.toString
      drained().count(_.getProperty("spark.jobGroup.id") == run)
    }
    input.addData(("e1", "open", 1L), ("e2", "open", 1L))
    drain() // first batch creates the store
    input.addData(("e1", "closed", 2L), ("e3", "open", 2L))
    val jobs = drain()
    assert(s.read.parquet(s"$dir/store").count() == 3)
    assert(jobs == 2, s"one micro-batch launched $jobs jobs")
  }
}
