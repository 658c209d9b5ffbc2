package graft

import org.apache.spark.sql.functions._

/** Guards the round-15 `registerAll` view-registration memo: skipping the
  * per-call `createOrReplaceTempView`×10 is only sound if the memo
  * re-registers exactly when the underlying plans can differ — a table
  * file overwritten in place (new mtime → new [[Tables.scanKey]]) or a
  * different sf dir. A memo bug here would silently serve STALE views to
  * every SQL-surface query, so each invalidation edge is pinned
  * behaviorally (what the view reads), not structurally.
  */
class TablesRegisterMemoSpec extends SparkSpec {
  import spark.implicits._

  /** Writes all 10 testdata table names as tiny single-file tables so
    * registerAll can load the full set; `orders` carries `tag` so reads
    * through the view can tell fixture generations apart.
    */
  private def writeFixture(dir: String, tag: String): Unit = {
    Tables.all.foreach { n =>
      val df =
        if (n == "orders") Seq((1L, tag)).toDF("o_orderkey", "tag")
        else Seq((1L, n)).toDF("id", "name")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
  }

  private def viewTag(): String =
    spark.table("orders").select(col("tag")).head().getString(0)

  test("repeat registerAll serves the same views; overwrite re-registers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_regmemo").toString
    writeFixture(dir, "gen1")
    Tables.registerAll(spark, dir)
    assert(viewTag() == "gen1")
    // repeated call (the memoized fast path) still serves the live view
    Tables.registerAll(spark, dir)
    assert(viewTag() == "gen1")
    // overwrite the table IN PLACE: the view memo keys on (mtime, length,
    // newest-child mtime, child count), so the new file set must
    // invalidate the registration. A fixed sleep was
    // flaky on coarse-mtime filesystems (round-15 advice: equal-length
    // gen1/gen2 rewrites can land on the SAME observed key within mtime
    // resolution) — instead poll the OBSERVED key inputs and rewrite
    // until they actually differ, which is the exact precondition the
    // memo contract invalidates on.
    val op = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    val fs = op.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def observedKey(): (Long, Long, Long, Int) = {
      val st = fs.getFileStatus(op)
      val kids = fs.listStatus(op)
      (st.getModificationTime, st.getLen,
        kids.map(_.getModificationTime).max, kids.length)
    }
    val gen1Key = observedKey()
    writeFixture(dir, "gen2")
    var tries = 0
    while (observedKey() == gen1Key && tries < 500) {
      Thread.sleep(4)
      writeFixture(dir, "gen2")
      tries += 1
    }
    assert(observedKey() != gen1Key,
      "fixture rewrite never produced a distinct (mtime, length) key")
    Tables.registerAll(spark, dir)
    assert(viewTag() == "gen2",
      "overwritten table must re-register, not serve the stale view")
  }

  test("in-place part rewrite with pinned dir mtime invalidates via child stats") {
    // round-16 verdict #7 edge: a rewrite that preserves the DIRECTORY's
    // own (mtime, length) — here pinned back explicitly — must still
    // invalidate, because the memo key now carries the newest immediate
    // child's mtime and the child count.
    val dir = java.nio.file.Files.createTempDirectory("graft_regmemo_ip").toString
    writeFixture(dir, "gen1")
    Tables.registerAll(spark, dir)
    assert(viewTag() == "gen1")
    val ordersDir = new java.io.File(s"$dir/orders.parquet")
    // build a gen3 part file elsewhere and splice its BYTES into the
    // existing part file path (no create/delete of the part itself)
    val alt = java.nio.file.Files.createTempDirectory("graft_regmemo_alt").toString
    Seq((1L, "gen3")).toDF("o_orderkey", "tag")
      .coalesce(1).write.mode("overwrite").parquet(s"$alt/orders.parquet")
    val newPart = new java.io.File(s"$alt/orders.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val oldPart = ordersDir.listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val dirMtime = ordersDir.lastModified()
    java.nio.file.Files.copy(newPart.toPath, oldPart.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the stale checksum sidecar must go (content changed under it)
    ordersDir.listFiles().filter(_.getName == s".${oldPart.getName}.crc")
      .foreach(_.delete())
    oldPart.setLastModified(oldPart.lastModified() + 5000) // deterministic delta
    ordersDir.setLastModified(dirMtime) // pin the pre-round-16 key half
    Tables.registerAll(spark, dir)
    assert(viewTag() == "gen3",
      "in-place part rewrite must invalidate via newest-child mtime/count")
  }

  test("switching sf dirs re-registers the views") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_regmemo_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_regmemo_b").toString
    writeFixture(dirA, "dirA")
    writeFixture(dirB, "dirB")
    Tables.registerAll(spark, dirA)
    assert(viewTag() == "dirA")
    Tables.registerAll(spark, dirB)
    assert(viewTag() == "dirB")
    Tables.registerAll(spark, dirA)
    assert(viewTag() == "dirA")
  }
}
