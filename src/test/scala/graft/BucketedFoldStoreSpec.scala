package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.pipelines.BucketedFoldStore

/** The engine's one exactly-once fold store (round-14 verdict #1): one
  * commit makes state and ledger visible together, and a fold rewrites
  * ONLY the hash buckets its delta touches. The gate faces
  * (`q_fold_bucketed_store`, `q_stream_incremental_agg` and the stored
  * quantile sketches) oracle-check the arithmetic on real data;
  * this spec pins the store machinery itself: touched-bucket rewrite
  * granularity, re-delivery no-ops, manifest atomicity, compaction
  * watermarks, GC retention, and the key-local-merge guard.
  */
class BucketedFoldStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store() =
    Files.createTempDirectory("bucketfold_spec_").toString + "/store"

  private def delta(rows: (String, Long)*) = rows.toDF("k", "n")

  private def mergeSum(state: org.apache.spark.sql.DataFrame,
                       d: org.apache.spark.sql.DataFrame) =
    state.unionByName(d).groupBy("k").agg(sum("n").as("n"))

  private def stateMap(path: String) =
    BucketedFoldStore.readState(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def fold(path: String, id: String, d: org.apache.spark.sql.DataFrame,
                   buckets: Int = 8) =
    BucketedFoldStore.foldOnce(spark, path, id, d, Seq("k"), buckets)(mergeSum)

  test("folds accumulate; a re-delivered batch id is a no-op") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L, "b" -> 2L)))
    assert(fold(path, "b2", delta("a" -> 10L, "c" -> 3L)))
    assert(!fold(path, "b1", delta("a" -> 999L)))
    assert(!fold(path, "b1", delta("a" -> 1L, "b" -> 2L)))
    assert(stateMap(path) == Map("a" -> 11L, "b" -> 2L, "c" -> 3L))
    assert(BucketedFoldStore.processed(spark, path, "b1"))
    assert(!BucketedFoldStore.processed(spark, path, "b3"))
  }

  test("a fold touching 1 of N buckets rewrites exactly 1 bucket") {
    val path = store()
    val n = 16
    // seed: enough distinct keys that several buckets are populated
    val seed = (0 until 64).map(i => s"key_$i" -> i.toLong)
    assert(fold(path, "seed", delta(seed: _*), buckets = n))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketsAfterSeed = fs.listStatus(new Path(path, "data-g1"))
      .map(_.getPath.getName).filter(_.startsWith(BucketedFoldStore.BucketCol))
    assert(bucketsAfterSeed.length > 4, "seed should populate several buckets")
    // fold a single-key delta: the new generation dir must contain
    // EXACTLY the one bucket that key hashes into
    assert(fold(path, "one", delta("key_7" -> 1000L), buckets = n))
    val g2 = fs.listStatus(new Path(path, "data-g2"))
      .map(_.getPath.getName).filter(_.startsWith(BucketedFoldStore.BucketCol))
    assert(g2.length == 1, s"expected 1 rewritten bucket dir, got ${g2.toSeq}")
    // untouched buckets still resolve to the seed generation: the state
    // is complete and correct across the two generations
    val m = stateMap(path)
    assert(m("key_7") == 1007L)
    assert(m("key_0") == 0L && m("key_63") == 63L && m.size == 64)
  }

  test("numBuckets is a creation-time property; later values are ignored") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L), buckets = 4))
    assert(fold(path, "b2", delta("b" -> 2L), buckets = 999))
    assert(stateMap(path) == Map("a" -> 1L, "b" -> 2L))
  }

  test("empty delta commits its batch id without touching data") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    assert(fold(path, "empty", Seq.empty[(String, Long)].toDF("k", "n")))
    assert(!fold(path, "empty", delta("x" -> 9L)))
    assert(stateMap(path) == Map("a" -> 1L))
  }

  test("compaction: old and recent ids both stay no-ops; new ids still fold") {
    val path = store()
    assert(fold(path, "mb_0", delta("a" -> 1L)))
    assert(fold(path, "mb_1", delta("a" -> 2L)))
    assert(fold(path, "mb_2", delta("a" -> 4L)))
    assert(BucketedFoldStore.compactLedger(spark, path, retainLast = 1) == 2)
    // pre-watermark (compacted away) and recent (retained) — both no-op
    assert(!fold(path, "mb_0", delta("a" -> 100L)))
    assert(!fold(path, "mb_2", delta("a" -> 100L)))
    // genuinely new id folds
    assert(fold(path, "mb_3", delta("a" -> 8L)))
    assert(stateMap(path) == Map("a" -> 15L))
    // compacting again with nothing below the tail is a no-op
    assert(BucketedFoldStore.compactLedger(spark, path, retainLast = 2) == 0)
    // non-conforming ids are never subsumed by a watermark
    assert(fold(path, "adhoc-backfill", delta("a" -> 1L)))
    assert(!fold(path, "adhoc-backfill", delta("a" -> 1L)))
  }

  test("a merge that emits keys outside the touched buckets is rejected and commits nothing") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L),
      buckets = 16))
    val before = stateMap(path)
    val e = intercept[IllegalStateException] {
      BucketedFoldStore.foldOnce(spark, path, "bad", delta("a" -> 1L),
        Seq("k"), 16) { (_, _) =>
        // key-local violation: invents keys the delta never carried
        delta("zz_invented_1" -> 1L, "zz_invented_2" -> 1L,
          "zz_invented_3" -> 1L, "qq_other" -> 1L)
      }
    }
    assert(e.getMessage.contains("key-local"))
    assert(stateMap(path) == before)
    // the failed batch id did NOT commit — a corrected retry folds
    assert(fold(path, "bad", delta("a" -> 1L), buckets = 16))
  }

  test("a merge that changes the column set is rejected loudly") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    val e = intercept[IllegalArgumentException] {
      BucketedFoldStore.foldOnce(spark, path, "b2", delta("a" -> 1L),
        Seq("k")) { (st, d) => mergeSum(st, d).withColumnRenamed("n", "total") }
    }
    assert(e.getMessage.contains("column set"))
    // inputs the store rejects before it reads anything: a delta that
    // already carries the internal bucket column, and a batch id that
    // would break the manifest's one-line-per-entry format
    val carries = intercept[IllegalArgumentException] {
      fold(path, "b3", delta("a" -> 1L).withColumn(BucketedFoldStore.BucketCol, lit(0)))
    }
    assert(carries.getMessage.contains(BucketedFoldStore.BucketCol))
    val multiLine = intercept[IllegalArgumentException] {
      fold(path, "b4\nbatch=b1", delta("a" -> 1L))
    }
    assert(multiLine.getMessage.contains("single-line"))
    // nothing committed: the store still holds b1 alone
    assert(stateMap(path) == Map("a" -> 1L))
    assert(!BucketedFoldStore.processed(spark, path, "b2"))
    assert(!BucketedFoldStore.processed(spark, path, "b3"))
  }

  test("an uncommitted manifest temp file is invisible to readers") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-commit: a half-written next-gen temp file
    val tmp = new Path(path, ".manifest-99.tmp")
    val out = fs.create(tmp, true); out.write("gen=99\n".getBytes); out.close()
    assert(stateMap(path) == Map("a" -> 1L))
    // the next fold proceeds normally and sweeps the leftover
    assert(fold(path, "b2", delta("a" -> 1L)))
    assert(stateMap(path) == Map("a" -> 2L))
    assert(!fs.exists(tmp))
  }

  test("GC retains current and previous generations only") {
    val path = store()
    (0 to 4).foreach(i => assert(fold(path, s"mb_$i", delta("a" -> 1L))))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(path)).map(_.getPath.getName).toSet
    val manifests = names.filter(_.startsWith("manifest-"))
    assert(manifests.size == 2, s"expected 2 retained manifests, got $manifests")
    // data dirs: every retained manifest's references exist; nothing else
    val dataDirs = names.filter(_.startsWith("data-g"))
    assert(dataDirs.nonEmpty && dataDirs.size <= 2,
      s"unexpected data dirs: $dataDirs")
    assert(stateMap(path) == Map("a" -> 5L))
  }

  test("readState on a never-committed path fails loudly") {
    intercept[java.io.FileNotFoundException] {
      BucketedFoldStore.readState(spark, store())
    }
    ()
  }
}
