package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Guards the schema-adaptive `events.ts` contract (round-6 verdict #1).
  *
  * The round-6 testdata regeneration flipped `events.ts` from parquet
  * TIMESTAMP(NANOS) (read as Long via `nanosAsLong`) to `timestamp[us]`
  * (read as TIMESTAMP_NTZ), and every events query threw while the unit
  * suite stayed green — no spec read a micros-typed fixture. This spec
  * writes BOTH physical layouts and runs the flagship q_w1 operator chain
  * over each, so the suite can never again be green while the oracle tier
  * is structurally broken on a `ts` schema change.
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  // (event_id, micros-since-epoch, user_id, event_type, value): user 1's
  // latest "click" is event 3 (later ts); user 2's is event 4; the
  // equal-ts pair for user 3 breaks the tie on event_id (6 wins)
  private val rows = Seq(
    (1L, 1000000L, 1L, "click", 1.0),
    (3L, 2000000L, 1L, "click", 3.0),
    (4L, 9000000L, 2L, "click", 4.0),
    (5L, 5000000L, 3L, "click", 5.0),
    (6L, 5000000L, 3L, "click", 6.0))

  private def writeFixture(kind: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ts_$kind").toString
    val base = rows.toDF("event_id", "us", "user_id", "event_type", "value")
    val df = kind match {
      // the round-6 testdata shape: parquet timestamp[us], isAdjustedToUTC
      // = false → Spark reads TIMESTAMP_NTZ
      case "micros_ntz" =>
        base.select(col("event_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      // micros with isAdjustedToUTC = true → Spark reads TIMESTAMP (LTZ)
      case "micros_ltz" =>
        base.select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
      // the pre-round-6 shape: epoch-nanos Long (what TIMESTAMP(NANOS) +
      // nanosAsLong produces)
      case "nanos_long" =>
        base.select(col("event_id"), (col("us") * 1000L).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    }
    // LTZ timestamps must land as annotated micros (not INT96) so the
    // read-back type is deterministic across Spark defaults
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def latestViaW1Chain(dir: String): Map[(Long, String), Long] = {
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType == LongType,
      s"normalizeEventTs must yield Long nanos, got ${ev.schema("ts").dataType}")
    operators.Analytics.latestPerKey(
        ev.withColumn("ts_us", expr("ts div 1000")),
        Seq("user_id", "event_type"),
        Seq(col("ts_us").desc, col("event_id").desc))
      .select("user_id", "event_type", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  private val expected =
    Map((1L, "click") -> 3L, (2L, "click") -> 4L, (3L, "click") -> 6L)

  for (kind <- Seq("micros_ntz", "micros_ltz", "nanos_long")) {
    test(s"q_w1 chain over a $kind events fixture") {
      assert(latestViaW1Chain(writeFixture(kind)) == expected)
    }
  }

  test("normalized ts values equal epoch nanos exactly for every layout") {
    val vals = Seq("micros_ntz", "micros_ltz", "nanos_long").map { k =>
      Tables.load(spark, writeFixture(k), "events")
        .orderBy("event_id").select("ts").as[Long].collect().toSeq
    }
    assert(vals.distinct.size == 1, s"layouts disagree: $vals")
    assert(vals.head == rows.sortBy(_._1).map(_._2 * 1000L))
  }

  /** A file whose footer carries a real TIMESTAMP(NANOS) annotation — the
    * pre-round-6 testdata layout. Spark cannot WRITE this type, so the
    * fixture goes through parquet-mr's example writer directly. INFERRING
    * its schema requires `spark.sql.legacy.parquet.nanosAsLong=true` or
    * the footer-schema conversion throws `Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS,...))` — exactly the conf a fresh
    * `spark.newSession()` would lose (round-7 advice #1); [[Tables.load]]
    * converts the footer itself and needs no conf.
    */
  private def writeNanosAnnotatedFixture(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_nanos_annot").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .named("spark_schema")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us, uid, et, v) =>
      writer.write(gf.newGroup()
        .append("event_id", id).append("ts", us * 1000L).append("user_id", uid)
        .append("event_type", et).append("value", v))
    } finally writer.close()
    dir
  }

  test("batch q_w1 chain over a TIMESTAMP(NANOS)-annotated events fixture") {
    val dir = writeNanosAnnotatedFixture()
    // premise: the annotation is really in the footer — schema INFERENCE
    // without the legacy conf must reject it (this is the only point where
    // Spark converts the footer schema; explicit-schema reads bypass it)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val thrown = intercept[Exception] {
      spark.read.parquet(s"$dir/events.parquet").schema
    }
    assert(thrown.getMessage.contains("TIMESTAMP(NANOS"), thrown.getMessage)
    assert(latestViaW1Chain(dir) == expected) // the reader converts the footer itself
  }

  test("a TIMESTAMP(NANOS) table reads with nanosAsLong inference's schema, session conf untouched") {
    val dir = writeNanosAnnotatedFixture()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    val loaded = Tables.load(spark, dir, "events")
    assert(spark.conf.get(key) == "false", s"Tables.load changed $key")
    spark.conf.set(key, "true")
    val inferred =
      try spark.read.parquet(s"$dir/events.parquet").schema
      finally spark.conf.set(key, "false")
    assert(Tables.loadRaw(spark, dir, "events").schema == inferred)
    assert(loaded.schema == inferred) // Long nanos: normalizeEventTs passes it through
  }

  test("streaming drain reads a TIMESTAMP(NANOS) source as Long") {
    val dir = writeNanosAnnotatedFixture()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val raw = Tables.loadRaw(spark, dir, "events")
    assert(raw.schema("ts").dataType == LongType) // premise: nanos read as Long
    val out = streaming.StreamDrain.drain(spark, s"$dir/events.parquet",
        raw.schema, "ts_nanos_drain_spec", "update") { src =>
      val ev = Tables.normalizeEventTs(src) // Long passthrough
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .as[faces.Fixtures.EventLatest]
      streaming.LatestPerKeyStream.latestByVersion(ev)(
        e => (e.user_id, e.event_type), e => (e.ts_us, e.event_id)).toDF()
    }
    val got = out.select("user_id", "event_type", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("streaming drain re-establishes the Long-nanos contract on a micros source") {
    val dir = writeFixture("micros_ntz")
    val raw = Tables.loadRaw(spark, dir, "events")
    assert(raw.schema("ts").dataType != LongType) // premise: physically a timestamp
    val out = streaming.StreamDrain.drain(spark, s"$dir/events.parquet",
        raw.schema, "ts_schema_spec", "update") { src =>
      val ev = Tables.normalizeEventTs(src)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .as[faces.Fixtures.EventLatest]
      streaming.LatestPerKeyStream.latestByVersion(ev)(
        e => (e.user_id, e.event_type), e => (e.ts_us, e.event_id)).toDF()
    }
    val got = out.select("user_id", "event_type", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }
}
