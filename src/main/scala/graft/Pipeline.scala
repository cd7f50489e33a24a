package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import graft.operators.{ColumnMeta, DriftReport, Flatten, SchemaDiff}
import graft.sources.{Cricsheet, Sinks, ZipIngest}
import graft.sources.ZipIngest.Archive
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{GraftFromJsonBridge, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.json.GraftInferSchemaBridge
import org.apache.spark.sql.functions._

/** The reference's entire daily DAG (SURVEY.md §3.1: ingest → unzip
  * fan-out → identify new files → schema drift check → flatten →
  * stage → state update) as one idempotent function over a landing
  * directory. Orchestration state that the reference spreads across
  * XCom, DynamoDB and S3 head-object checks collapses into one keyed
  * state table.
  *
  * The data work is distributed and the bookkeeping is not. Staging
  * parses the new entries straight from their archives' bytes on the
  * executors (only the picked entries are inflated, nothing is
  * unpacked to disk), and the same scan infers their JSON schema for
  * the drift check; flatten is one generator planned on the schema;
  * staging is parquet partitioned by file_key.
  * Selection and the ledger, about a kilobyte of metadata a day, stay
  * on the driver, as the reference's driver loop over S3 objects and
  * DynamoDB lookups does: the fresh archives' entry names come from
  * their central directories, the ledger rows are read and written and
  * the schema log is read with parquet-hadoop, and no Spark job or SQL
  * execution is spent on them. A new-data run starts one Spark job,
  * the staging write (two on a run that writes the schema log).
  * Running again with no new input is a no-op that runs no Spark job.
  *
  * Selection opens only the archives the ledger has not seen, as the
  * reference looks each S3 object up in its ProcessedFiles table
  * before it reads it (the reference matches by object name only).
  * Each ledger version keeps, in `state/_archives`, the landing archives
  * its run listed, by (path, length, modification time); an archive
  * missing from that record is read, one in it is not. The listing is
  * taken before any archive is read and every failure comes before the
  * ledger swap, so every entry key of every recorded archive is in the
  * ledger. Limits: an archive rewritten in place with the same length
  * and modification time is not read again; a ledger pruned by hand
  * must drop its `_archives` (a ledger dir without one reads every
  * archive, as a legacy ledger does); and the record holds only the
  * last run's listing of its `landingDir`, so one `workDir` should be
  * fed from one landing path: runs that alternate paths or globs over
  * one `workDir` (a sliced backfill, per-day globs) overwrite each
  * other's record, and the next run over the whole dir reads every
  * archive again. The output stays correct either way.
  *
  * Every access to `workDir` (staging, ledger, schema log) goes
  * through the Hadoop FileSystem of that path, so `workDir` may be
  * any Spark output path: a local path, a `file:` URI, hdfs://, s3a://.
  * In a cluster deployment it must be a shared filesystem / object
  * store; local mode satisfies this trivially.
  *
  * Exactly-once: staging uses dynamic partition overwrite keyed by
  * file_key, so re-processing a file replaces its own partition
  * instead of appending a duplicate. A crash between the staging write
  * and the ledger update therefore costs a re-run, never a
  * double-count; a crash between the two moves of the ledger swap is
  * finished by the next run's `loadState`. The schema log is swapped
  * in the same way, before the ledger, so a crash while it is written
  * leaves the last complete log for the rerun to diff against. A
  * [[maintain]] that crashed inside its compaction's directory swap is
  * finished before the next run reads or writes staging.
  *
  * The ledger (`workDir/state`) holds one [[LedgerRow]] per processed
  * file_key: the reference's four flags plus `staged_rows`, the rows
  * that key's staging partition held when the run that processed it
  * wrote it (0 for a corrupt file). `RunResult.stagedRows` is their
  * sum, so a run never re-reads staged history: every bookkeeping step
  * costs O(new files). A ledger written before `staged_rows` existed is
  * migrated once, from one count per key over staging.
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

  /** One ledger row: the reference's per-file flags (its DynamoDB
    * `ProcessedFiles` item) plus the rows the file left in staging.
    */
  case class LedgerRow(
      file_key: String,
      ingested: Boolean,
      crawled: Boolean,
      transformed: Boolean,
      loaded: Boolean,
      staged_rows: Long)

  /** The ledger's parquet schema: [[LedgerRow]] as Spark writes it. */
  private val LedgerType = MessageTypeParser.parseMessageType(
    "message spark_schema { optional binary file_key (STRING); required boolean ingested; " +
      "required boolean crawled; required boolean transformed; required boolean loaded; " +
      "required int64 staged_rows; }")
  private val LedgerFile = "part-00000.parquet"

  private val ExtensionPattern = Pattern.compile(ExtensionRe)

  /** Spark's string order: unsigned UTF-8 bytes, not UTF-16 units. */
  private val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  private val NoNewFiles = RunResult(0, 0, "no new files", hadDrift = false)

  /** The landing archives a ledger version covers, one [[Archive]] a
    * row, kept in the ledger's dir: the `_` prefix hides it from every
    * Spark read of the ledger, and it moves with the ledger rows in the
    * swap.
    */
  private val ArchivesFile = "_archives"
  private val ArchivesType = MessageTypeParser.parseMessageType(
    "message archive { required binary path (STRING); required int64 length; required int64 modificationTime; }")

  /** Data files of a directory written by Spark (not `_SUCCESS`, not
    * `.crc` side files), empty when the directory does not exist.
    */
  private def dataFiles(dir: Path, conf: Configuration): Seq[Path] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
  }

  /** `file` opened with `conf` itself: default read options would load
    * a fresh Hadoop `Configuration`, parsing its XML defaults, per file.
    */
  private def footer[T](file: Path, conf: Configuration)(read: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try read(reader)
    finally reader.close()
  }

  /** The rows of `files` in order, read on the driver (no Spark job),
    * at most `limit` of them.
    */
  private def readRows(files: Seq[Path], conf: Configuration, limit: Int): Vector[Group] =
    files.iterator.flatMap { f =>
      footer(f, conf) { reader =>
        val schema = reader.getFooter.getFileMetaData.getSchema
        val columns = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { rowGroup =>
          val records = columns.getRecordReader(rowGroup, new GroupRecordConverter(schema))
          Iterator.fill(rowGroup.getRowCount.toInt)(records.read())
        }.take(limit).toVector
      }
    }.take(limit).toVector

  private def writeRows(file: Path, schema: MessageType, conf: Configuration)(rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows(new SimpleGroupFactory(schema)).foreach(writer.write)
    finally writer.close()
  }

  /** A ledger row with `g`'s flags and `stagedRows`. */
  private def ledgerRow(g: Group, stagedRows: Long): LedgerRow =
    LedgerRow(g.getString("file_key", 0), g.getBoolean("ingested", 0), g.getBoolean("crawled", 0),
      g.getBoolean("transformed", 0), g.getBoolean("loaded", 0), stagedRows)

  /** Rows staged under each key, summed on the driver from the parquet
    * footers of its `file_key=` partition: no Spark job, one listing
    * and a few footer reads per key. A key without a partition (its
    * file was corrupt) has 0.
    */
  private def stagedRowsOf(conf: Configuration, stagingDir: String, keys: Seq[String]): Map[String, Long] =
    keys.map { k =>
      val part = new Path(stagingDir, ExternalCatalogUtils.getPartitionPathString("file_key", k))
      k -> dataFiles(part, conf).map(f => footer(f, conf)(_.getRecordCount)).sum
    }.toMap

  /** Rename that throws on failure: Hadoop's `rename` reports it as a
    * silent `false`, which would leave the ledger half-swapped.
    */
  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"Pipeline: could not move $from to $to")

  /** Replace the directory `path` with the one `write` makes at
    * `path.tmp`: the old one moves to `path.old`, then the new one into
    * place, so a crash never leaves `path` half written. A crash
    * between the two moves is finished by [[finishSwap]].
    */
  private def swapDir(path: String, conf: Configuration)(write: Path => Unit): Unit = {
    val dir = new Path(path)
    val tmp = new Path(s"$path.tmp")
    val fs = dir.getFileSystem(conf)
    fs.delete(tmp, true)
    write(tmp)
    if (fs.exists(dir)) {
      val old = new Path(s"$path.old")
      fs.delete(old, true)
      move(fs, dir, old)
    }
    move(fs, tmp, dir)
  }

  /** Finish a [[swapDir]] a crash interrupted: `path` missing while
    * `path.old` exists means the run died between the two moves, after
    * `path.tmp` was fully written — move it into place instead of
    * treating the directory as never written.
    */
  private def finishSwap(path: String, conf: Configuration): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir) && fs.exists(new Path(s"$path.old")))
      move(fs, new Path(s"$path.tmp"), dir)
  }

  /** Write the ledger via [[swapDir]] (the ledger is input and output
    * of a run), on the driver: its rows as one parquet file, then the
    * record of the `archives` it covers, so the record moves with the
    * rows it describes.
    */
  private def swapState(rows: Seq[LedgerRow], statePath: String, archives: Seq[Archive], conf: Configuration): Unit =
    swapDir(statePath, conf) { tmp =>
      writeRows(new Path(tmp, LedgerFile), LedgerType, conf) { row =>
        rows.map(r => row.newGroup().append("file_key", r.file_key).append("ingested", r.ingested)
          .append("crawled", r.crawled).append("transformed", r.transformed).append("loaded", r.loaded)
          .append("staged_rows", r.staged_rows))
      }
      writeRows(new Path(tmp, ArchivesFile), ArchivesType, conf) { row =>
        archives.map(a => row.newGroup().append("path", a.path).append("length", a.length)
          .append("modificationTime", a.modificationTime))
      }
    }

  /** The archives the ledger version covers (none when it has no
    * record), read on the driver after two repairs of the ledger:
    *  - a swap a crash interrupted is finished first ([[finishSwap]]),
    *    instead of treating all history as new;
    *  - a ledger whose footer schema lacks `staged_rows` (written before
    *    the column existed) would read it as null and undercount, so it
    *    is migrated once: each key's staged rows from its partition's
    *    footers, 0 for keys with none, written back through the swap
    *    with no archive record.
    */
  private def loadState(conf: Configuration, statePath: String, stagingDir: String): Set[Archive] = {
    val state = new Path(statePath)
    val fs = state.getFileSystem(conf)
    finishSwap(statePath, conf)
    val files = dataFiles(state, conf)
    files.headOption.foreach { f =>
      if (!footer(f, conf)(_.getFooter.getFileMetaData.getSchema.containsField("staged_rows"))) {
        val legacy = readRows(files, conf, Int.MaxValue)
        val rowsOf = stagedRowsOf(conf, stagingDir, legacy.map(_.getString("file_key", 0)))
        swapState(legacy.map(g => ledgerRow(g, rowsOf(g.getString("file_key", 0)))), statePath, Nil, conf)
      }
    }
    val record = new Path(state, ArchivesFile)
    if (!fs.exists(record)) Set.empty
    else readRows(Seq(record), conf, Int.MaxValue)
      .map(g => Archive(g.getString("path", 0), g.getLong("length", 0), g.getLong("modificationTime", 0)))
      .toSet
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
    // Unconditional: Sinks.compact no-ops when nothing is staged, and
    // finishes a compaction that crashed between its two renames
    // (as runOnce does before it reads or writes staging)
    Sinks.compact(spark, s"$workDir/staging", targetBytes, partitionBy = Seq("file_key"))
  }

  /** One incremental run.
    *
    * @param landingDir  dir of zip archives of match JSON (the S3 bucket),
    *   a Spark path (a glob expands)
    * @param workDir     root of the run's outputs: staging, state, schema log
    * @param maxDriverRows bound on the two kinds of metadata row the
    *   driver picks or reads per run: the picks, one (zip path, entry
    *   name, file_key) per distinct new key, which both select the batch
    *   and size it, and the schema-log rows for the drift diff. The
    *   per-key footer reads, the new ledger rows and the picked names
    *   that ride in the batch tasks' closure (about 2 MB at the default
    *   bound, shipped once per stage) follow the first bound. The driver
    *   also holds, unbounded by it, the ledger rows (one per processed
    *   file: about 1.1k for all IPL to date) and the entry names of the
    *   archives the ledger has not seen. All of it is metadata — tiny
    *   at the reference's daily cadence — but a million-file backfill
    *   would otherwise accrete an unbounded pick list; at the
    *   `maxDriverRows + 1`-th distinct new key the run fails LOUDLY with
    *   the batching remedy instead of slowly OOMing the driver. It fails
    *   before any entry is inflated or staged and before the ledger
    *   gains a row; a schema log past the bound fails the run at the
    *   same point, before any Spark job.
    * @param notifyDrift drift-notification transport — the reference emails
    *   the same report via SNS (`notifyChanges`,
    *   /root/reference/airflow-setup/Scripts/compare_schema.py:106-124);
    *   here the transport is the caller's choice (email, chat webhook,
    *   ticket). Invoked with the rendered report when the run detects
    *   drift, after staging and before the schema log and the ledger
    *   are written; the default logs to stderr. Delivery is
    *   at-least-once: a run that fails after notifying leaves the
    *   ledger as it was, so its rerun lands the day again and notifies
    *   again. A notifier failure must not fail the run (the
    *   reference's publish is likewise outside its DAG's critical
    *   path), so exceptions are caught and logged.
    */
  def runOnce(
      spark: SparkSession,
      landingDir: String,
      workDir: String,
      maxDriverRows: Long = 100000L,
      notifyDrift: String => Unit = msg => System.err.println(s"[pipeline] $msg")): RunResult = {
    import spark.implicits._
    val stagingDir = s"$workDir/staging"
    val statePath = s"$workDir/state"
    val schemaPath = s"$workDir/schema_log"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(workDir).getFileSystem(conf)
    // one row past the bound tells "over it" apart from "at it"
    val collectBound = (maxDriverRows + 1).min(Int.MaxValue).toInt

    // 1. unzip fan-out (S2) and selection, idempotent per entry, on the
    //    driver: a lookup in the ledger's keys replaces the reference's
    //    per-file head_object loop. The landing archives are listed
    //    before any is read, and only those the ledger's `_archives`
    //    record lacks are opened, by path; when there are none the call
    //    ends here. Selection needs only the entry names, read from each
    //    archive's central directory: no entry is inflated. file_key =
    //    entry path minus extension (dirs kept, so 2024/m1.json and
    //    2025/m1.json stay distinct); when one run sees the same key
    //    twice (re-delivery in a second archive, or m1.json vs m1.txt),
    //    the last (zip, entry) in unsigned UTF-8 byte order wins, the
    //    order Spark compares strings in — the ordering includes
    //    entry_name so same-archive collisions resolve deterministically
    //    too.
    val listed = ZipIngest.archiveFiles(spark, landingDir)
    Sinks.recoverCompaction(stagingDir, conf)
    val fresh = listed.filterNot(loadState(conf, statePath, stagingDir))
    if (fresh.isEmpty) return NoNewFiles
    val ledger = readRows(dataFiles(new Path(statePath), conf), conf, Int.MaxValue)
      .map(g => ledgerRow(g, g.getLong("staged_rows", 0)))
    val known = ledger.iterator.map(_.file_key).toSet
    val latest = Ordering.Tuple2(Utf8Order, Utf8Order)
    val picks = scala.collection.mutable.HashMap.empty[String, (String, String)]
    for (archive <- fresh; name <- ZipIngest.entryNames(archive.path, conf)) {
      val key = ExtensionPattern.matcher(name).replaceAll("")
      if (!known(key) && picks.get(key).forall(latest.lt(_, (archive.path, name)))) {
        picks(key) = (archive.path, name)
        if (picks.size > maxDriverRows)
          throw new IllegalStateException(
            s"Pipeline.runOnce: more than maxDriverRows=$maxDriverRows new files — " +
              "the run collects new-entry names and keys to the driver. Backfills this " +
              "large should run in batches (ingest the landing dir in slices and call " +
              "runOnce per slice), or raise maxDriverRows if the driver has headroom.")
      }
    }
    // fresh archives without a new entry (a re-delivery, a corrected
    // copy) leave the rows as they are and only extend the record
    if (picks.isEmpty) {
      swapState(ledger, statePath, listed, conf)
      return NoNewFiles
    }
    val picked = picks.toSeq.map { case (key, (zip, name)) => (zip, name, key) }

    // 2. the recorded schema, read on the driver before any Spark work
    //    (finishing a log swap a crash interrupted), so a log past the
    //    bound fails the run before anything is staged
    finishSwap(schemaPath, conf)
    val logged =
      if (!fs.exists(new Path(schemaPath))) None
      else {
        val log = readRows(dataFiles(new Path(schemaPath), conf), conf, collectBound)
          .map(g => ColumnMeta(g.getString("name", 0), g.getString("dataType", 0)))
        if (log.length > maxDriverRows)
          throw new IllegalStateException(
            s"Pipeline.runOnce: schema log holds more than maxDriverRows=$maxDriverRows " +
              "columns — the drift diff collects the log to the driver. A leaf-column " +
              "count this size means runaway schema inference (e.g. map-typed data " +
              "inferred as per-key struct fields); fix the input schema, or raise " +
              "maxDriverRows if the driver has headroom.")
        Some(log)
      }

    // 3. the batch, in the run's one Spark job: re-read ONLY the
    //    archives that hold new entries (the reference scopes its
    //    crawler to new prefixes the same way) and inflate exactly the
    //    picked entries, keyed as selection keyed them — an archive that
    //    lands mid-run is not in the batch, so staging matches the
    //    ledger. The picked names (at most maxDriverRows) ride in the
    //    tasks' closure; nothing is written to disk but staging. The one
    //    scan also feeds the two checks:
    //     - the reference's crawler: each task that inflates an entry
    //       INFERS its JSON type into `inferred` (the explicit
    //       matchSchema is a constant and can never drift);
    //     - validity: corrupt matches parse to null rows (PERMISSIVE),
    //       are filtered out of staging and counted instead of failing
    //       the run; both counters ride the scan via observe
    //       (CollectMetrics).
    //    Parse (explicit schema fast path), flatten + stage (S5),
    //    partitioned by file_key with dynamic partition overwrite: each
    //    file replaces exactly its own partition, making the write
    //    idempotent under re-runs (and partition-prunable downstream).
    //    When every new file is corrupt the write stages no partition,
    //    so existing staging is untouched; a staging dir it had to
    //    create is removed.
    val inferred = GraftInferSchemaBridge(spark)
    val batch = ZipIngest.readEntries(spark, picked.groupMap(_._1)(_._2), Some(inferred))
      .select(regexp_replace(col("entry_name"), ExtensionRe, "").as("file_key"),
        col("content").cast("string").as("content"))
    val allMatches = batch
      .select(GraftFromJsonBridge.fromJson(col("content"), Cricsheet.matchSchema).as("m"), col("file_key"))
      .select(col("m.*"), col("file_key"))
    val validity = Observation()
    val matches = Cricsheet.validMatches(allMatches.observe(validity,
      count(lit(1)).as("n_total"),
      coalesce(sum(when(col("innings").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_valid")))
    val stagingPath = new Path(stagingDir)
    val stagingExisted = fs.exists(stagingPath)
    Flatten.flatten(matches, outer = true)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("file_key")
      .parquet(stagingDir)
    val nValid = validity.get("n_valid").asInstanceOf[Long]
    val nTotal = validity.get("n_total").asInstanceOf[Long]
    if (nValid == 0 && !stagingExisted) fs.delete(stagingPath, true)

    // 4. selection and staging read the archives apart: a picked entry
    //    the staging read did not see (its archive was replaced or
    //    removed in between) must not reach the ledger as staged
    if (nTotal != picked.length)
      throw new IllegalStateException(
        s"Pipeline.runOnce: staged $nTotal of the ${picked.length} new entries — an " +
          "archive in the landing dir changed during the run. The ledger is unchanged; " +
          "the next run picks the new entries again.")

    // 5. drift check = the reference's compare_schema stage: diff the
    //    inferred leaves against the recorded log, on the driver.
    //    Scoped inference cannot see columns that merely don't occur in
    //    this batch, so 'dropped' is expected noise — drift is
    //    added/retyped only, and the log records the union (new type
    //    wins) like a crawler's catalog. The log is swapped in before
    //    the ledger: a crash in between re-runs the day, which reports
    //    the drift again.
    val newCols = SchemaDiff.leafColumns(inferred.value).filterNot(_.name.startsWith("_corrupt_record"))
    val oldCols = logged.getOrElse(newCols)
    val (hadDrift, driftMsg) = DriftReport.render(
      SchemaDiff.diffCols(oldCols, newCols).filter(_.change != "dropped"), "ipl_matches")
    if (hadDrift) {
      try notifyDrift(driftMsg)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[pipeline] drift notifier failed: ${e.getMessage}")
      }
    }
    // the union changes exactly when a column was added or retyped
    if (logged.isEmpty || hadDrift) {
      val newNames = newCols.map(_.name).toSet
      val unionCols = newCols ++ oldCols.filterNot(c => newNames.contains(c.name))
      swapDir(schemaPath, conf)(tmp => unionCols.toDF().coalesce(1).write.parquet(tmp.toString))
    }

    // 6. state update (S8), on the driver. New keys are disjoint from
    //    the ledger by construction, so the merge is an append, and the
    //    cumulative staged total is the sum of the rows written.
    val keys = picked.map(_._3)
    val rowsOf = stagedRowsOf(conf, stagingDir, keys)
    val rows = ledger ++ keys.map(k => LedgerRow(k, true, true, true, true, rowsOf(k)))
    swapState(rows, statePath, listed, conf)

    RunResult(picked.length, rows.iterator.map(_.staged_rows).sum, driftMsg, hadDrift, nTotal - nValid)
  }
}
