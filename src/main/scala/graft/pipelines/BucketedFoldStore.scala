package graft.pipelines

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The exactly-once fold store: every fold-style sink in the engine
  * (the incremental-agg rollups, the quantile-sketch store, the nightly
  * `q_fold_bucketed_store` face) commits through it. One commit makes
  * a fold's state and its processed-batch ledger visible together, a
  * re-delivered batch id is a no-op, and old ids collapse into a
  * per-prefix watermark ([[compactLedger]]). The per-batch rewrite is
  * O(delta), not O(state): the state is hash-bucketed on the fold keys
  * and a fold rewrites ONLY the buckets the delta touches — the
  * touched-partition discipline of a dynamic partition overwrite, made
  * atomic with a single MANIFEST swap instead of per-partition
  * overwrites. A store small enough to rewrite whole per fold
  * (a quantile sketch) simply uses one bucket:
  *
  * {{{
  * store/
  *   manifest-000000000007          # the COMMIT: current generation
  *   data-g3/__fold_bucket=0/…      # immutable once referenced
  *   data-g7/__fold_bucket=5/…
  * }}}
  *
  * The manifest is a small text file holding (a) the bucket → data-dir
  * map, (b) the processed-batch ledger, (c) per-prefix compaction
  * watermarks, and (d) the state schema (DDL of the rows last written,
  * so an emptied store keeps its shape and reads need no
  * schema-inference job). A fold writes the merged touched buckets to a NEW
  * `data-g{n}` directory (partitioned by the internal bucket column),
  * then commits by renaming a fully-written `manifest-{n}` into place —
  * one atomic metadata operation covering state AND ledger. A crash
  * before the rename leaves the previous manifest (and every directory
  * it references) untouched; orphaned data directories are swept by
  * the next fold's GC, which retains the current and previous
  * generations so a reader holding the prior manifest never loses its
  * files mid-read. This is the minimal transaction-log shape (a
  * Delta/Iceberg commit in one file) — the class doc of [[AtomicStore]]
  * names full table formats as the next step beyond it.
  *
  * SCALE: per fold — one distinct over the delta's bucket values
  * (≤ numBuckets longs to the driver), a partition-PRUNED read of only
  * the touched buckets (its schema comes from the manifest, so the read
  * itself launches no job), one merge shuffle over (touched state ∪ delta),
  * and file writes bounded by the touched buckets. The ledger check is
  * a driver-side set lookup on the manifest: zero Spark jobs. With
  * numBuckets sized so a bucket ≈ a few HDFS blocks, a billion-key
  * nightly store folds in O(delta). CHOOSE THE BUCKETING KEYS FOR DELTA LOCALITY: rewrite
  * cost is touchedBuckets × bucketSize, so bucket on the delta's
  * natural clustering dimension (ingest date, tenant, shard) — a
  * single-day fold into a date-bucketed store touches one bucket; the
  * same fold into a store bucketed on a uniform id touches
  * min(|delta|, numBuckets) buckets and degrades toward O(state).
  * `keys` may be any subset of the state's key columns — it only
  * drives bucket placement; `merge` still sees whole rows
  * (`tools/fold_decade_r15.json` records the O(delta)-vs-O(state)
  * decade).
  *
  * CONTRACT on `merge`: it must be KEY-LOCAL on the fold keys — the
  * output for a key depends only on input rows of that key (true of
  * every keyed rollup/sketch merge in this repo). Keys absent from the
  * delta live in untouched buckets and must pass through unchanged,
  * which is exactly what not rewriting their buckets implements; a
  * merge that invents keys outside its inputs would route rows into
  * buckets the fold did not read, and is rejected loudly after the
  * write (the new directory's bucket listing must be a subset of the
  * touched set) BEFORE the manifest commits, leaving the store intact.
  * `merge(state, delta)` must also return exactly `delta`'s column set.
  *
  * Writers serialize on the [[AtomicStore.withLock]] lease lock;
  * readers are lock-free (a manifest, once written, is immutable).
  */
object BucketedFoldStore {

  /** Internal partition column carrying `pmod(xxhash64(keys), n)`. */
  val BucketCol = "__fold_bucket"

  private[pipelines] case class Manifest(
      gen: Long,
      numBuckets: Int,
      schemaDdl: String,
      buckets: Map[Int, String],    // bucket -> data dir name (relative)
      batches: Set[String],         // processed-batch ledger
      watermarks: Map[String, Long] // compacted ledger prefixes
  )

  /** Fold `delta` into the store EXACTLY ONCE per `batchId`.
    *
    * Returns true when the fold ran, false when `batchId` was already
    * in the ledger (or at/below its prefix's compaction watermark) and
    * the whole call was a no-op. `numBuckets` is a creation-time
    * property: it sizes the store on first fold and is read back from
    * the manifest afterwards (a differing value on a later call is
    * ignored — rebucketing an existing store is a rebuild, not a fold).
    */
  def foldOnce(spark: SparkSession, storePath: String, batchId: String,
               delta: DataFrame, keys: Seq[String], numBuckets: Int = 64)
              (merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    require(keys.nonEmpty, "BucketedFoldStore.foldOnce: fold keys required")
    require(numBuckets >= 1,
      s"BucketedFoldStore.foldOnce: numBuckets must be >= 1, got $numBuckets")
    require(!delta.columns.contains(BucketCol),
      s"BucketedFoldStore.foldOnce: delta already carries $BucketCol")
    require(!batchId.contains('\n') && !batchId.contains('\r'),
      "BucketedFoldStore.foldOnce: batch ids must be single-line")
    val missing = keys.filterNot(delta.columns.contains)
    require(missing.isEmpty,
      s"BucketedFoldStore.foldOnce: delta lacks fold key(s) ${missing.mkString(", ")}")
    AtomicStore.withLock(spark, storePath) {
      val root = new Path(storePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val man = readManifest(fs, root).getOrElse(
        Manifest(0L, numBuckets, delta.schema.toDDL, Map.empty, Set.empty,
          Map.empty))
      if (seen(man, batchId)) false
      else {
        val n = man.numBuckets
        val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int")
        val d = delta.persist()
        try {
          val touched = d.select(bucketOf.as(BucketCol)).distinct()
            .collect().map(_.getInt(0)).toSet
          val gen = man.gen + 1
          val (newBuckets, schemaDdl) =
            if (touched.isEmpty) (man.buckets, man.schemaDdl) // empty delta: ledger-only commit
            else {
              val state = readBuckets(spark, fs, root, man,
                touched.filter(man.buckets.contains))
              val merged = merge(state, d)
              val expected = d.columns.sorted
              require(merged.columns.sorted.sameElements(expected),
                "BucketedFoldStore: merge(state, delta) must return exactly " +
                  s"delta's column set ${expected.mkString("(", ", ", ")")} — " +
                  s"got ${merged.columns.sorted.mkString("(", ", ", ")")}")
              val dataDir = new Path(root, s"data-g$gen")
              // cluster rows by bucket before the partitioned write:
              // without this every write task emits one file PER bucket
              // it happens to hold (tasks × buckets tiny files); with it
              // each bucket's rows land in few task-partitions (AQE
              // coalesces small ones), so file count tracks touched
              // buckets, not touched × parallelism
              merged.withColumn(BucketCol, bucketOf)
                .repartition(col(BucketCol))
                .write.mode(SaveMode.Overwrite)
                .partitionBy(BucketCol).parquet(dataDir.toString)
              // physical truth: which buckets did the merge actually emit?
              val written = listBuckets(fs, dataDir)
              val escaped = written -- touched
              if (escaped.nonEmpty) {
                fs.delete(dataDir, true) // store untouched: manifest not committed
                throw new IllegalStateException(
                  "BucketedFoldStore: merge emitted keys in bucket(s) " +
                    s"${escaped.toSeq.sorted.mkString(", ")} that the delta " +
                    "never touched — merge must be key-local on the fold " +
                    s"keys ${keys.mkString("(", ", ", ")")}")
              }
              // touched buckets now live in the new dir; a touched bucket
              // the merge emptied simply leaves the map (absent = empty)
              ((man.buckets -- touched) ++
                written.map(_ -> dataDir.getName).toMap, merged.schema.toDDL)
            }
          val next = man.copy(gen = gen, schemaDdl = schemaDdl,
            buckets = newBuckets, batches = man.batches + batchId)
          commit(fs, root, next)
          gc(fs, root, next)
          true
        } finally { d.unpersist(); () }
      }
    }
  }

  /** The state rows of the store at its current committed generation —
    * a lock-free consistent snapshot (manifests and the data dirs they
    * reference are immutable). Empty store (manifest with no buckets)
    * returns an empty frame with the recorded schema; a store that was
    * never folded into throws, loudly.
    */
  def readState(spark: SparkSession, storePath: String): DataFrame = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = readManifest(fs, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"BucketedFoldStore: no committed manifest under $storePath"))
    readBuckets(spark, fs, root, man, man.buckets.keySet)
  }

  /** Ledger compaction, at manifest cost only (the ledger lives in the
    * manifest, so compaction rewrites NO data files): batch ids shaped
    * `<prefix>_<digits>` — the shape every streaming sink emits
    * (`mb_17`, `night#mb_3`) — are grouped by prefix and all but the
    * `retainLast` highest-numbered per prefix collapse into the
    * prefix's watermark; later re-delivery of a compacted id stays a
    * no-op. Ids that don't parse are kept verbatim.
    *
    * CONTRACT: the watermark asserts every id `prefix_k` with
    * k ≤ watermark was processed — sound only when ids below the
    * retained tail were delivered contiguously, which Spark's
    * monotonically increasing micro-batch ids guarantee. Don't compact
    * a ledger whose numbered ids can arrive sparsely out of order.
    * Returns the number of ledger entries removed.
    */
  def compactLedger(spark: SparkSession, storePath: String,
                    retainLast: Int = 8): Int = {
    require(retainLast >= 0,
      s"BucketedFoldStore.compactLedger: retainLast must be >= 0, got $retainLast")
    AtomicStore.withLock(spark, storePath) {
      val root = new Path(storePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val man = readManifest(fs, root).getOrElse(
        throw new java.io.FileNotFoundException(
          s"BucketedFoldStore: no committed manifest under $storePath"))
      val parsed = man.batches.toSeq.flatMap(id => parseSeq(id).map(id -> _))
      val byPrefix = parsed.groupBy(_._2._1)
      val drop = byPrefix.flatMap { case (_, ids) =>
        ids.sortBy(_._2._2).dropRight(retainLast)
      }.toSeq
      if (drop.isEmpty) 0
      else {
        val newWm = drop.groupBy(_._2._1).map { case (p, ids) =>
          p -> math.max(man.watermarks.getOrElse(p, Long.MinValue),
            ids.map(_._2._2).max)
        }
        val next = man.copy(gen = man.gen + 1,
          batches = man.batches -- drop.map(_._1),
          watermarks = man.watermarks ++ newWm)
        commit(fs, root, next)
        gc(fs, root, next)
        drop.size
      }
    }
  }

  /** The ledger key of a streaming sink's micro-batch: `mb_<id>`, or
    * `<streamName>#mb_<id>` when the sink is named. Micro-batch ids
    * restart from 0 with a NEW checkpoint, so a query that restarts
    * against a RETAINED store with a fresh checkpoint (or a second query
    * on the same store) needs a distinct `streamName`, or its batch
    * 0/1/2… silently no-op against the previous run's entries. The
    * `_<digits>` suffix is what [[compactLedger]] collapses.
    */
  def ledgerKey(streamName: String, batchId: Long): String =
    if (streamName.isEmpty) s"mb_$batchId" else s"$streamName#mb_$batchId"

  /** True iff the store would treat `batchId` as already processed. */
  def processed(spark: SparkSession, storePath: String,
                batchId: String): Boolean = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root).exists(seen(_, batchId))
  }

  // ---------------------------------------------------------------- //

  private def seen(man: Manifest, batchId: String): Boolean =
    man.batches.contains(batchId) || parseSeq(batchId).exists {
      case (p, n) => man.watermarks.get(p).exists(n <= _)
    }

  private val SeqId = "^(.*)_(\\d{1,18})$".r
  private def parseSeq(id: String): Option[(String, Long)] = id match {
    case SeqId(p, n) => Some((p, n.toLong))
    case _           => None
  }

  /** Union the requested buckets across the generation dirs the
    * manifest maps them to — each read is partition-pruned to that
    * dir's wanted `__fold_bucket=` subdirectories. The schema is the
    * manifest's, so no read infers one.
    */
  private def readBuckets(spark: SparkSession, fs: FileSystem, root: Path,
                          man: Manifest, buckets: Set[Int]): DataFrame = {
    val want = man.buckets.view.filterKeys(buckets.contains).toMap
    val schema = StructType.fromDDL(man.schemaDdl)
    if (want.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else want.groupBy(_._2).map { case (dir, entries) =>
      val ids = entries.keys.toSeq
      spark.read.schema(schema.add(BucketCol, IntegerType))
        .parquet(new Path(root, dir).toString)
        .filter(col(BucketCol).isin(ids: _*))
        .drop(BucketCol)
    }.reduce(_ unionByName _)
  }

  private def listBuckets(fs: FileSystem, dataDir: Path): Set[Int] =
    fs.listStatus(dataDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BucketCol + "="))
      .map(_.getPath.getName.stripPrefix(BucketCol + "=").toInt).toSet

  /** Write `manifest-{gen}` via a temp file + atomic rename — the ONE
    * operation that makes a fold's state and ledger visible together.
    */
  private def commit(fs: FileSystem, root: Path, man: Manifest): Unit = {
    val sb = new StringBuilder
    sb ++= s"gen=${man.gen}\n"
    sb ++= s"numBuckets=${man.numBuckets}\n"
    sb ++= s"schema=${man.schemaDdl}\n"
    man.buckets.toSeq.sorted.foreach { case (b, d) => sb ++= s"bucket=$b:$d\n" }
    man.batches.toSeq.sorted.foreach(id => sb ++= s"batch=$id\n")
    man.watermarks.toSeq.sorted.foreach { case (p, n) => sb ++= s"wm=$p#$n\n" }
    val tmp = new Path(root, s".manifest-${man.gen}.tmp")
    val out = fs.create(tmp, true)
    out.write(sb.toString.getBytes("UTF-8"))
    out.close()
    val dst = new Path(root, f"manifest-${man.gen}%012d")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"BucketedFoldStore: could not commit manifest generation ${man.gen} at $dst")
  }

  private[pipelines] def readManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    if (!fs.exists(root)) return None
    val gens = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("manifest-"))
      .flatMap(n => scala.util.Try(n.stripPrefix("manifest-").toLong).toOption)
    if (gens.isEmpty) None else readManifestAt(fs, root, gens.max)
  }

  private def readManifestAt(fs: FileSystem, root: Path,
                             gen: Long): Option[Manifest] = {
    val p = new Path(root, f"manifest-$gen%012d")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      Some(parseManifest(gen, text))
    }
  }

  /** The one parser of [[commit]]'s manifest text. */
  private def parseManifest(gen: Long, text: String): Manifest = {
    var numBuckets = 0
    var schema = ""
    val buckets = Map.newBuilder[Int, String]
    val batches = Set.newBuilder[String]
    val wm = Map.newBuilder[String, Long]
    text.linesIterator.foreach { line =>
      val cut = line.indexOf('=')
      if (cut > 0) {
        val (k, v) = (line.substring(0, cut), line.substring(cut + 1))
        k match {
          case "numBuckets" => numBuckets = v.toInt
          case "schema"     => schema = v
          case "batch"      => batches += v
          case "bucket" =>
            val c = v.indexOf(':')
            buckets += v.substring(0, c).toInt -> v.substring(c + 1)
          case "wm" =>
            val c = v.lastIndexOf('#')
            wm += v.substring(0, c) -> v.substring(c + 1).toLong
          case _ => // gen= is implicit in the file name; unknown keys skipped
        }
      }
    }
    Manifest(gen, numBuckets, schema, buckets.result(), batches.result(), wm.result())
  }

  /** Sweep generations older than (current − 1): manifests below the
    * retained pair, and data dirs neither retained manifest references.
    * Keeping one generation of lag means a reader that resolved the
    * previous manifest just before this commit still finds its files.
    * Crash-safe by construction — GC only ever deletes what no retained
    * manifest references, and runs strictly after the commit rename.
    * `current` is the manifest just committed, so only the previous
    * generation's file is read back.
    */
  private def gc(fs: FileSystem, root: Path, current: Manifest): Unit = {
    val currentGen = current.gen
    val entries = fs.listStatus(root).toSeq
    val referenced: Set[String] = current.buckets.values.toSet ++
      readManifestAt(fs, root, currentGen - 1).toSeq.flatMap(_.buckets.values)
    entries.foreach { s =>
      val nm = s.getPath.getName
      val dropManifest = nm.startsWith("manifest-") &&
        scala.util.Try(nm.stripPrefix("manifest-").toLong).toOption
          .exists(_ < currentGen - 1)
      val dropData = nm.startsWith("data-g") && s.isDirectory &&
        !referenced.contains(nm)
      val dropTmp = nm.startsWith(".manifest-") && nm.endsWith(".tmp")
      if (dropManifest || dropData || dropTmp) fs.delete(s.getPath, true)
    }
  }
}
