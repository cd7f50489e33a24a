package graft

import graft.operators.{ColumnMeta, DriftReport, Flatten, SchemaDiff, StateMerge}
import graft.sources.{Cricsheet, Sinks, ZipIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's entire daily DAG (SURVEY.md §3.1: ingest → unzip
  * fan-out → identify new files → schema drift check → flatten →
  * stage → state update) as one idempotent function over a landing
  * directory. Orchestration state that the reference spreads across
  * XCom, DynamoDB and S3 head-object checks collapses into one keyed
  * state table merged relationally.
  *
  * Each stage is a distributed operator: unzip fans out per-archive,
  * new-file selection is an anti-join against the ledger, extraction
  * writes from the executors that already hold the bytes (via the
  * Hadoop FileSystem API — in a cluster deployment `workDir` must be
  * a shared filesystem / object store, exactly like any Spark output
  * path; local mode satisfies this trivially), flatten is the
  * fix-point plan builder, staging is parquet partitioned by
  * file_key. Running again with no new input is a no-op.
  *
  * Exactly-once: staging uses dynamic partition overwrite keyed by
  * file_key, so re-processing a file replaces its own partition
  * instead of appending a duplicate. A crash between the staging write
  * and the ledger update therefore costs a re-run, never a
  * double-count; a crash between the two moves of the ledger swap is
  * finished by the next run's `loadState`.
  */
object Pipeline {

  case class RunResult(
      newFiles: Long,
      stagedRows: Long,
      driftReport: String,
      hadDrift: Boolean,
      corruptFiles: Long = 0)

  /** Strip the extension of the final path segment only — a dot in a
    * directory name must not swallow the rest of the path (and with it
    * distinct files' identities).
    */
  private val ExtensionRe = "\\.[^./]*$"

  /** Escape Hadoop glob metacharacters in a path fragment so it is
    * read as a literal name, not a pattern.
    */
  private[graft] def globEscape(name: String): String =
    name.replaceAll("([\\\\\\[\\]{}*?])", "\\\\$1")

  /** The ledger, finishing a swap a crash interrupted first: `state`
    * missing while `state.old` exists means the run died between its
    * two moves, after `state.tmp` was fully written — move it into
    * place instead of treating all history as new.
    */
  private def loadState(spark: SparkSession, statePath: String): DataFrame = {
    val p = new java.io.File(statePath)
    if (!p.exists() && new java.io.File(s"$statePath.old").exists())
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$statePath.tmp"), p.toPath)
    if (p.exists() && p.listFiles() != null && p.listFiles().nonEmpty)
      spark.read.parquet(statePath)
    else {
      import spark.implicits._
      Seq.empty[operators.FileState].toDF()
    }
  }

  /** Executor-side extraction of one partition of (entry_name, bytes)
    * through the Hadoop FileSystem API, so `extractedRoot` may be any
    * supported scheme (local path, hdfs://, s3a://); parent dirs are
    * created implicitly. Entry names that would escape the extraction
    * root (absolute, or `../` — zip-slip) fail the task loudly rather
    * than writing elsewhere.
    */
  private def writeEntries(extractedRoot: String)(
      it: Iterator[(String, Array[Byte])]): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    it.foreach { case (name, bytes) =>
      val rel = java.nio.file.Paths.get(name).normalize()
      require(!rel.isAbsolute && !rel.startsWith(".."),
        s"zip entry '$name' escapes the extraction dir (zip-slip)")
      val target = new org.apache.hadoop.fs.Path(extractedRoot, rel.toString)
      val fs = target.getFileSystem(conf)
      val out = fs.create(target, true)
      try out.write(bytes)
      finally out.close()
    }
  }

  /** Staging maintenance — run periodically (not per batch): the
    * incremental pipeline writes one parquet file per new source file
    * into its own `file_key=` partition, so a long-running deployment
    * accretes exactly the small-file problem [[Sinks.compact]] exists
    * for. Compaction preserves the partition layout, so dynamic
    * partition overwrite (the exactly-once mechanism) and partition
    * pruning keep working on the compacted staging dir.
    *
    * @return (filesBefore, filesAfter), (0, 0) when nothing staged yet
    */
  def maintain(
      spark: SparkSession,
      workDir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val stagingDir = s"$workDir/staging"
    // Unconditional: Sinks.compact no-ops when nothing is staged, and
    // its recovery preamble restores a `.compact_old` left by a
    // compaction that crashed between its two renames — a caller-side
    // existence guard would skip exactly that recovery.
    Sinks.compact(spark, stagingDir, targetBytes, partitionBy = Seq("file_key"))
  }

  /** One incremental run.
    *
    * @param landingDir  dir of zip archives of match JSON (the S3 bucket)
    * @param workDir     scratch root: extracted files, staging, state, schema log
    * @param maxDriverRows bound on the two metadata collects that come
    *   to the driver (new-entry NAMES for the scoped read, schema-log
    *   rows for the drift diff). Both are metadata — tiny at the
    *   reference's daily cadence — but a million-file backfill would
    *   otherwise accrete an unbounded driver array; past the bound the
    *   run fails LOUDLY with the batching remedy instead of slowly
    *   OOMing the driver.
    * @param notifyDrift drift-notification transport — the reference emails
    *   the same report via SNS (`notifyChanges`,
    *   /root/reference/airflow-setup/Scripts/compare_schema.py:106-124);
    *   here the transport is the caller's choice (email, chat webhook,
    *   ticket). Invoked with the rendered report exactly when the run
    *   detects drift; the default logs to stderr. A notifier failure
    *   must not fail the run (the reference's publish is likewise
    *   outside its DAG's critical path), so exceptions are caught and
    *   logged.
    */
  def runOnce(
      spark: SparkSession,
      landingDir: String,
      workDir: String,
      maxDriverRows: Long = 100000L,
      notifyDrift: String => Unit = msg => System.err.println(s"[pipeline] $msg")): RunResult = {
    import spark.implicits._
    val extractedDir = s"$workDir/extracted"
    val stagingDir = s"$workDir/staging"
    val statePath = s"$workDir/state"
    val schemaPath = s"$workDir/schema_log"

    // 1. unzip fan-out (S2), idempotent per entry: anti-join against
    //    the ledger replaces the reference's per-file head_object loop.
    //    file_key = entry path minus extension (dirs kept, so
    //    2024/m1.json and 2025/m1.json stay distinct); when one run
    //    sees the same key twice (re-delivery in a second archive, or
    //    m1.json vs m1.txt), the lexicographically-last (zip, entry)
    //    wins — the ordering includes entry_name so same-archive
    //    collisions resolve deterministically too.
    val entries = ZipIngest.unzipEntries(spark, landingDir)
      .withColumn("file_key", regexp_replace(col("entry_name"), ExtensionRe, ""))
    val state = loadState(spark, statePath)
    val latestWins = Window.partitionBy(col("file_key"))
      .orderBy(col("zip_path").desc, col("entry_name").desc)
    val newEntries = StateMerge
      .notYetPresent(entries, state.select("file_key"))
      .withColumn("_rn", row_number().over(latestWins))
      .filter(col("_rn") === 1).drop("_rn")
      .persist()
    try {
      val nNew = newEntries.count()
      if (nNew == 0) return RunResult(0, 0, "no new files", hadDrift = false)
      if (nNew > maxDriverRows)
        throw new IllegalStateException(
          s"Pipeline.runOnce: $nNew new files exceeds maxDriverRows=$maxDriverRows — " +
            "the scoped read collects new-entry NAMES to the driver. Backfills this " +
            "large should run in batches (ingest the landing dir in slices and call " +
            "runOnce per slice), or raise maxDriverRows if the driver has headroom.")

      // 2. land extracted JSON (one file per match, like the json
      //    bucket), written by the executors that already hold the
      //    bytes — no collect of file contents through the driver
      val extRoot = new java.io.File(extractedDir).getAbsolutePath
      new java.io.File(extractedDir).mkdirs()
      newEntries.select("entry_name", "content").as[(String, Array[Byte])]
        .foreachPartition(writeEntries(extRoot) _)

      // 3. read ONLY the new matches (the reference scopes its crawler
      //    to new prefixes the same way) — explicit schema fast path.
      //    Names are metadata: collecting them (not contents) is fine.
      //    Entry names are glob-escaped: Hadoop path resolution treats
      //    [ ] { } * ? as patterns, so an entry like 'm[1].json' would
      //    otherwise be written literally but read as a (non-matching)
      //    glob.
      val newPaths = newEntries.select("entry_name").as[String].collect()
        .map(n => s"$extractedDir/${globEscape(n)}").toSeq
      val allMatches = Cricsheet.readMatchFiles(spark, newPaths)
      // corrupt files degrade to null rows (PERMISSIVE) — filter them
      // out of staging and surface the count instead of failing the run.
      // Both counters ride ONE scan via observe (CollectMetrics): a
      // separate total count + valid count would read every new file
      // twice — at 100 TB the monitoring must not double the ingest IO.
      val validFlag =
        if (allMatches.columns.contains("innings"))
          when(col("innings").isNotNull, 1L).otherwise(0L)
        else lit(0L)
      val validity = org.apache.spark.sql.Observation()
      val observed = allMatches.observe(validity,
        count(lit(1)).as("n_total"), coalesce(sum(validFlag), lit(0L)).as("n_valid"))
      observed.count() // the single materializing action; metrics land in `validity`
      val nValid = validity.get("n_valid").asInstanceOf[Long]
      val nCorrupt = validity.get("n_total").asInstanceOf[Long] - nValid
      val matches = Cricsheet.validMatches(allMatches)

      // 3b. drift check = the reference's crawler + compare_schema
      //     stage: INFER the schema of the new files (the explicit
      //     matchSchema is a constant and can never drift) and diff its
      //     leaves against the recorded log. Scoped inference cannot see
      //     columns that merely don't occur in this batch, so 'dropped'
      //     is expected noise — drift is added/retyped only, and the log
      //     records the union (new type wins) like a crawler's catalog.
      val inferred = Cricsheet.readMatchFiles(spark, newPaths, inferSchema = true).schema
      val newCols = SchemaDiff.leafColumns(inferred)
        .filterNot(c => c.name == "match_file" || c.name.startsWith("_corrupt_record"))
      val oldCols =
        if (new java.io.File(schemaPath).exists()) {
          val log = spark.read.parquet(schemaPath)
          val nCols = log.count()
          if (nCols > maxDriverRows)
            throw new IllegalStateException(
              s"Pipeline.runOnce: schema log holds $nCols columns, exceeding " +
                s"maxDriverRows=$maxDriverRows — the drift diff collects the log to the " +
                "driver. A leaf-column count this size means runaway schema inference " +
                "(e.g. map-typed data inferred as per-key struct fields); fix the input " +
                "schema, or raise maxDriverRows if the driver has headroom.")
          log.as[ColumnMeta].collect().toSeq
        } else newCols
      val diff = SchemaDiff.diffDf(oldCols.toDF(), newCols.toDF())
      val (hadDrift, driftMsg) =
        DriftReport.render(diff.filter(col("change") =!= "dropped"), "ipl_matches")
      if (hadDrift) {
        try notifyDrift(driftMsg)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[pipeline] drift notifier failed: ${e.getMessage}")
        }
      }
      val newNames = newCols.map(_.name).toSet
      val unionCols = newCols ++ oldCols.filterNot(c => newNames.contains(c.name))
      unionCols.toDF().write.mode("overwrite").parquet(schemaPath)

      // 4. flatten + stage (S5), partitioned by file_key with dynamic
      //    partition overwrite: each file replaces exactly its own
      //    partition, making the write idempotent under re-runs (and
      //    partition-prunable downstream). Skipped when every new file
      //    is corrupt — an empty write must not touch staging.
      if (nValid > 0) {
        // input_file_name() is a percent-encoded URI; decode it before
        // stripping the extraction root, or any encodable character in
        // workDir ('%', space, …) makes the prefix never match and
        // every row collapses into one empty partition key. url_decode
        // also maps '+' to space (form encoding), so literal '+' is
        // pre-escaped to %2B.
        val decodedPath =
          url_decode(regexp_replace(col("match_file"), "\\+", "%2B"))
        val fileKey = regexp_replace(
          regexp_extract(decodedPath,
            java.util.regex.Pattern.quote(extRoot) + "/(.*)$", 1),
          ExtensionRe, "")
        val flat = Flatten
          .flatten(matches.withColumn("file_key", fileKey).drop("match_file"), outer = true)
        flat.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("file_key")
          .parquet(stagingDir)
      }
      val staged =
        if (new java.io.File(stagingDir).exists()) spark.read.parquet(stagingDir).count()
        else 0L

      // 5. state update (S8): one relational merge flips all flags
      val updates = newEntries.select(col("file_key"))
        .withColumn("ingested", lit(true))
        .withColumn("crawled", lit(true))
        .withColumn("transformed", lit(true))
        .withColumn("loaded", lit(true))
      val merged = StateMerge.merge(state, updates)
      // write via temp + swap (state is input and output of this run);
      // Files.move throws on failure instead of renameTo's silent false
      val tmp = s"$statePath.tmp"
      Sinks.stageParquet(merged, tmp)
      val stateDir = java.nio.file.Paths.get(statePath)
      if (java.nio.file.Files.exists(stateDir)) {
        val old = new java.io.File(s"$statePath.old")
        if (old.exists()) org.apache.commons.io.FileUtils.deleteDirectory(old)
        java.nio.file.Files.move(stateDir, old.toPath)
      }
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), stateDir)

      RunResult(nNew, staged, driftMsg, hadDrift, nCorrupt)
    } finally newEntries.unpersist()
  }
}
