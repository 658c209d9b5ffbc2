package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.forRun("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Testdata-schema smoke (round-6 verdict #2): the round-6 regeneration
    // silently flipped events.ts from TIMESTAMP(NANOS)/Long to
    // timestamp[us] and 19 queries vanished from the correctness artifact
    // instead of failing loudly. Print the physical schemas up front so
    // the artifact trail always records what the engine actually read.
    Tables.all.foreach { n =>
      // per-table try: a missing/corrupt table must be a visible line in
      // the smoke, never a crash that takes the whole run's coverage out
      val line = try Tables.loadRaw(spark, sfDir, n).schema.simpleString
                 catch { case e: Throwable => s"UNREADABLE (${e.getMessage})" }
      System.err.println(s"[verify] schema $n: $line")
    }
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRec)
      f.delete(); ()
    }
    // optional comma-separated filter for local iteration on a few
    // queries (same contract as Bench); the driver leaves it unset, so
    // its runs always dump everything. A filtered run leaves every OTHER
    // query's dump stale in outDir while oracle_sql.json is rewritten in
    // full — a subsequent full compare would silently bless those stale
    // outputs (round-3 review), so the filter is recorded in a marker
    // that tools/check.py surfaces as a warning; a full run clears it.
    // A typo'd name would otherwise run ZERO queries yet mark itself
    // fresh, and a scripted gate would go green with no coverage
    // (round-4 review): selectOnly fails loudly instead.
    val only = SparkEntry.selectOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val marker = Paths.get(s"$outDir/FILTERED_RUN")
    val succeeded = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop any stale dump FIRST: a query that throws must surface as
      // "no spark output" in the compare, never silently reuse a prior
      // run's parquet (round-3 lesson: a leftover warehouse location made
      // the stored-index query fail while its old dump kept passing)
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) rmRec(dest)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        succeeded += name
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
        errors += name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      finally graft.operators.OpCache.clear() // release operator-internal persists
    }
    // The marker transitions AFTER the dumps, and records the REQUESTED
    // set alongside the names whose dump succeeded THIS run: writing it
    // up front (or accumulating prior runs' names — the round-3 form)
    // let a JVM killed mid-run bless dumps it never rewrote, and
    // check.py would PASS outdated Spark output (round-4 reviews), while
    // recording only successes let a query that THREW during a filtered
    // run be misread as merely stale and skipped instead of failed
    // (round-4 advice). A kill mid-run still leaves the PREVIOUS marker
    // state — conservative: stale-skip keeps applying. To compare
    // several queries together, list them all in one SPARK_GRAFT_ONLY
    // invocation. Names are bare identifiers, so plain quoting is JSON-safe.
    only match {
      case Some(names) =>
        def arr(xs: Seq[String]) = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        Files.writeString(marker,
          s"""{"requested": ${arr(names.toSeq)}, "succeeded": ${arr(succeeded.toSeq)}}""")
      case None => Files.deleteIfExists(marker)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    // the family that declares each query: tools/check.py groups its
    // failures by it
    Files.writeString(Paths.get(s"$outDir/families.json"), obj(SparkEntry.familyOf))
    // Explicit failure ledger (round-6 verdict #2): a thrown query must
    // leave a machine-readable `err` record in the artifact directory —
    // absence from the correctness JSON must never read as "all green".
    // Written on every run (empty object when clean) so a stale ledger
    // from a prior broken run can't outlive the fix.
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(errors))
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} queries THREW (see $outDir/errors.json): " +
          errors.keys.mkString(", "))
    }
    spark.stop()
  }
}
