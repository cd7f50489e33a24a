package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, regexp_extract}

class PipelineSpec extends SparkSpecBase {

  private def zipOf(dir: String, zipName: String, entries: Map[String, Array[Byte]]): Unit = {
    val zout = new ZipOutputStream(new FileOutputStream(s"$dir/$zipName"))
    entries.foreach { case (name, bytes) =>
      zout.putNextEntry(new ZipEntry(name))
      zout.write(bytes)
      zout.closeEntry()
    }
    zout.close()
  }

  /** Rows in staging by a fresh read: the total `stagedRows` must equal. */
  private def stagedNow(work: String): Long = {
    val staging = new org.apache.hadoop.fs.Path(s"$work/staging")
    if (staging.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(staging))
      spark.read.parquet(s"$work/staging").count()
    else 0L
  }

  /** runOnce plus the ledger invariant: a run that processed files
    * reports the total a fresh recount of staging sees (the ledger's
    * per-key counts never drift from staging); a no-op run reports 0.
    */
  private def runChecked(landing: String, work: String): Pipeline.RunResult = {
    val r = Pipeline.runOnce(spark, landing, work)
    val want = if (r.newFiles > 0) stagedNow(work) else 0L
    assert(r.stagedRows == want, s"stagedRows ${r.stagedRows} != fresh staging count $want")
    r
  }

  test("end-to-end incremental pipeline: fan-out, flatten, stage, exactly-once") {
    val landing = tmpDir("pipe_landing")
    val work = tmpDir("pipe_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))

    zipOf(landing, "batch1.zip", Map("m1.json" -> tiny, "m2.json" -> full))

    val r1 = runChecked(landing, work)
    assert(r1.newFiles == 2)
    assert(r1.stagedRows == 4 + 52) // outer-flatten counts, cf. FlattenSpec
    assert(!r1.hadDrift) // first run: no prior schema version

    // idempotence: same landing dir, nothing new
    val r2 = runChecked(landing, work)
    assert(r2.newFiles == 0 && r2.stagedRows == 0)

    // a new archive lands: only its file processed, staging appends
    zipOf(landing, "batch2.zip", Map("m3.json" -> tiny))
    val r3 = runChecked(landing, work)
    assert(r3.newFiles == 1)
    assert(r3.stagedRows == 56 + 4)
    assert(!r3.hadDrift) // same schema as recorded version

    // a corrupt file: staged rows exclude it, corrupt count surfaces,
    // and the file is still marked processed (not retried forever)
    zipOf(landing, "batch3.zip", Map("m4.json" -> "{ not json".getBytes("UTF-8")))
    val r4 = runChecked(landing, work)
    assert(r4.newFiles == 1 && r4.corruptFiles == 1)
    assert(r4.stagedRows == 60) // unchanged: null row filtered from staging
    import spark.implicits._
    assert(spark.read.parquet(s"$work/state").filter($"file_key" === "m4")
      .select($"staged_rows").as[Long].collect().toSeq == Seq(0L))
    val r5 = runChecked(landing, work)
    assert(r5.newFiles == 0) // corrupt file not reprocessed

    // same-run file_key collision (re-delivery in a second archive):
    // exactly one survives the dedupe, no double-staging, one ledger
    // row; nested entry names extract with their directories intact
    zipOf(landing, "batch4a.zip", Map("m5.json" -> tiny))
    zipOf(landing, "batch4b.zip", Map("m5.json" -> tiny, "2024/m6.json" -> tiny))
    val r6 = runChecked(landing, work)
    assert(r6.newFiles == 2) // m5 deduped to one, plus 2024/m6
    assert(r6.stagedRows == 60 + 4 + 4)

    // genuine schema drift: a new leaf appears inside info → detected
    // (added), reported by dotted path, and staging still succeeds on
    // the explicit-schema fast path
    val drifted = new String(tiny, "UTF-8").replace(
      "\"balls_per_over\": 6,",
      "\"balls_per_over\": 6, \"forfeited_overs\": 2,")
    zipOf(landing, "batch5.zip", Map("m7.json" -> drifted.getBytes("UTF-8")))
    val r7 = runChecked(landing, work)
    assert(r7.hadDrift)
    assert(r7.driftReport.contains("info.forfeited_overs"))
    // drift is recorded: the same shape again is no longer drift
    zipOf(landing, "batch6.zip", Map("m8.json" -> drifted.getBytes("UTF-8")))
    val r8 = runChecked(landing, work)
    assert(!r8.hadDrift)

    // state table reflects all processed files with all flags set
    val state = spark.read.parquet(s"$work/state")
    val keys = state.select($"file_key").as[String].collect().sorted
    assert(keys.toSeq == Seq("2024/m6", "m1", "m2", "m3", "m4", "m5", "m7", "m8"))
    assert(state.filter(!$"loaded" || !$"transformed").count() == 0)

    // exactly-once survives a crash between staging write and ledger
    // update: deleting the ledger rows for m1/m2 (simulating the
    // crash) and re-running re-stages them into their own partitions —
    // same total, no duplicates
    val before = spark.read.parquet(s"$work/staging").count()
    val pruned = state.filter(!$"file_key".isin("m1", "m2"))
    val tmp = s"$work/state_pruned"
    pruned.write.parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/state"))
    new java.io.File(tmp).renameTo(new java.io.File(s"$work/state"))
    val r9 = runChecked(landing, work)
    assert(r9.newFiles == 2)
    assert(r9.stagedRows == before) // overwrote their partitions, not appended
  }

  test("a crash between the two ledger-swap moves is finished, not reprocessed") {
    val landing = tmpDir("pipe_swap_landing")
    val work = tmpDir("pipe_swap_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "batch1.zip", Map("m1.json" -> tiny, "m2.json" -> tiny))
    assert(Pipeline.runOnce(spark, landing, work).newFiles == 2)
    import spark.implicits._
    def ledger(): Seq[String] =
      spark.read.parquet(s"$work/state").select($"file_key").as[String].collect().toSeq.sorted
    val before = ledger()

    // the crash: state already moved to state.old, the fully written
    // state.tmp not yet moved into place
    val state = Paths.get(s"$work/state")
    Files.move(state, Paths.get(s"$work/state.old"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$work/state.old"), new java.io.File(s"$work/state.tmp"))

    val r = Pipeline.runOnce(spark, landing, work)
    assert(r.newFiles == 0)
    assert(ledger() == before)
  }

  test("drift notifier fires exactly when drift is detected, and a failing one cannot fail the run") {
    val landing = tmpDir("pipe_notify_landing")
    val work = tmpDir("pipe_notify_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val capture: String => Unit = sent += _

    // first run records the baseline schema: no drift, no notification
    zipOf(landing, "batch1.zip", Map("m1.json" -> tiny))
    val r1 = Pipeline.runOnce(spark, landing, work, notifyDrift = capture)
    assert(!r1.hadDrift && sent.isEmpty)

    // same schema again: still silent
    zipOf(landing, "batch2.zip", Map("m2.json" -> tiny))
    val r2 = Pipeline.runOnce(spark, landing, work, notifyDrift = capture)
    assert(!r2.hadDrift && sent.isEmpty)

    // a new leaf appears: exactly one notification, carrying the report
    val drifted = new String(tiny, "UTF-8").replace(
      "\"balls_per_over\": 6,",
      "\"balls_per_over\": 6, \"forfeited_overs\": 2,")
    zipOf(landing, "batch3.zip", Map("m3.json" -> drifted.getBytes("UTF-8")))
    val r3 = Pipeline.runOnce(spark, landing, work, notifyDrift = capture)
    assert(r3.hadDrift)
    assert(sent.toSeq == Seq(r3.driftReport))
    assert(sent.head.contains("info.forfeited_overs"))

    // a throwing transport is contained: the run completes, drift is
    // still reported in the result (the notification is best-effort,
    // the pipeline is not)
    val drifted2 = new String(tiny, "UTF-8").replace(
      "\"balls_per_over\": 6,",
      "\"balls_per_over\": 6, \"reserve_umpires\": 1,")
    zipOf(landing, "batch4.zip", Map("m4.json" -> drifted2.getBytes("UTF-8")))
    val r4 = Pipeline.runOnce(spark, landing, work,
      notifyDrift = _ => throw new RuntimeException("SNS down"))
    assert(r4.hadDrift && r4.newFiles == 1)
  }

  test("S1 ingest: download (file:// URL) -> landing -> runOnce end-to-end") {
    // the reference's full story: download_and_upload_to_s3 lands the
    // archive, then the DAG fans it out — here Ingest + runOnce
    val src = tmpDir("dl_src")
    val landing = tmpDir("dl_landing")
    val work = tmpDir("dl_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(src, "upstream.zip", Map("m1.json" -> tiny, "2025/m2.json" -> tiny))

    val url = Paths.get(s"$src/upstream.zip").toUri.toString
    val landed = graft.sources.Ingest.downloadToLanding(url, landing)
    assert(landed.isDefined)
    val r1 = Pipeline.runOnce(spark, landing, work)
    assert(r1.newFiles == 2 && r1.stagedRows == 8)

    // unchanged upstream: ingest is a ledger no-op, pipeline sees
    // nothing new — the end-to-end loop is idempotent
    assert(graft.sources.Ingest.downloadToLanding(url, landing).isEmpty)
    val r2 = Pipeline.runOnce(spark, landing, work)
    assert(r2.newFiles == 0)
  }

  test("work dir with URI-encodable characters still partitions staging by file") {
    // a file_key derived from a percent-encoded path would collapse
    // every row into one empty-key partition that the next run's
    // overwrite then deletes
    val landing = tmpDir("enc_landing")
    val workRoot = tmpDir("enc_work")
    val work = s"$workRoot/with space+plus"
    Files.createDirectories(Paths.get(work))
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny))
    val r1 = Pipeline.runOnce(spark, landing, work)
    assert(r1.newFiles == 1 && r1.stagedRows == 4)
    import spark.implicits._
    val keys = spark.read.parquet(s"$work/staging")
      .select($"file_key").distinct().as[String].collect()
    assert(keys.toSeq == Seq("m1")) // not "" (collapsed), not m1%20…
    // second batch must append its own partition, not overwrite m1's
    zipOf(landing, "b2.zip", Map("m2.json" -> tiny))
    val r2 = Pipeline.runOnce(spark, landing, work)
    assert(r2.stagedRows == 8)
  }

  test("a file: URI work dir runs like a plain path and writes nothing under the cwd") {
    val landing = tmpDir("uri_landing")
    val work = new java.io.File(tmpDir("uri_work")).toURI.toString
    assert(work.startsWith("file:"))
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    zipOf(landing, "batch1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
    val r1 = runChecked(landing, work)
    assert(r1.newFiles == 2 && r1.stagedRows == 4 + 52 && !r1.hadDrift)
    val r2 = runChecked(landing, work)
    assert(r2.newFiles == 0 && r2.stagedRows == 0)
    zipOf(landing, "batch2.zip", Map("m3.json" -> tiny))
    val r3 = runChecked(landing, work)
    assert(r3.newFiles == 1 && r3.stagedRows == 56 + 4 && !r3.hadDrift)
    import spark.implicits._
    assert(spark.read.parquet(s"$work/state").select($"file_key").as[String]
      .collect().sorted.toSeq == Seq("m1", "m2", "m3"))
    // java.io would take the URI for a relative path: <cwd>/file:/…
    assert(!new java.io.File(work).getAbsoluteFile.exists(),
      s"stray ${new java.io.File(work).getAbsolutePath}")
  }

  test("same-archive key collision resolves deterministically (last entry name wins)") {
    val landing = tmpDir("tie_landing")
    val work = tmpDir("tie_work")
    val tiny = new String(
      Files.readAllBytes(Paths.get(fixture("match_tiny.json"))), "UTF-8")
    val vA = tiny.replace("Wankhede Stadium", "Venue JSON")
    val vB = tiny.replace("Wankhede Stadium", "Venue TXT")
    // one zip, two entries with the same file_key 'a'
    zipOf(landing, "b.zip", Map(
      "a.json" -> vA.getBytes("UTF-8"), "a.txt" -> vB.getBytes("UTF-8")))
    val r = Pipeline.runOnce(spark, landing, work)
    assert(r.newFiles == 1 && r.stagedRows == 4)
    import spark.implicits._
    val venues = spark.read.parquet(s"$work/staging")
      .select($"info_venue").distinct().as[String].collect()
    assert(venues.toSeq == Seq("Venue TXT")) // a.txt > a.json lexicographically
  }

  test("an entry name one archive holds twice stages once, from its first copy") {
    val landing = tmpDir("dup_landing")
    val work = tmpDir("dup_work")
    val tiny = new String(
      Files.readAllBytes(Paths.get(fixture("match_tiny.json"))), "UTF-8")
    // java.util.zip refuses a duplicate name; commons-compress writes it
    val zout = new org.apache.commons.compress.archivers.zip.ZipArchiveOutputStream(
      new java.io.File(s"$landing/b.zip"))
    Seq("Venue First", "Venue Second").foreach { venue =>
      zout.putArchiveEntry(new org.apache.commons.compress.archivers.zip.ZipArchiveEntry("m1.json"))
      zout.write(tiny.replace("Wankhede Stadium", venue).getBytes("UTF-8"))
      zout.closeArchiveEntry()
    }
    zout.close()
    val r = runChecked(landing, work)
    assert(r.newFiles == 1 && r.stagedRows == 4 && r.corruptFiles == 0)
    import spark.implicits._
    val venues = spark.read.parquet(s"$work/staging")
      .select($"info_venue").distinct().as[String].collect()
    assert(venues.toSeq == Seq("Venue First"))
  }

  /** The `graftfs:` scheme served by `fs` (a [[GraftfsLocalFileSystem]]). */
  private def setGraftfs(fs: Class[_ <: GraftfsLocalFileSystem]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", fs.getName)
    conf.setBoolean("fs.graftfs.impl.disable.cache", true)
  }

  private def unsetGraftfs(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.unset("fs.graftfs.impl")
    conf.unset("fs.graftfs.impl.disable.cache")
  }

  test("an archive replaced during the run fails it before the ledger changes") {
    setGraftfs(classOf[SwappingGraftfs])
    try {
      val dir = tmpDir("swap_landing")
      val landing = s"graftfs:$dir"
      val work = tmpDir("swap_work")
      val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
      zipOf(dir, "b1.zip", Map("m1.json" -> tiny))
      assert(runChecked(landing, work).newFiles == 1)
      def ledger(): Set[String] = {
        import spark.implicits._
        spark.read.parquet(s"$work/state").select($"file_key").as[String].collect().toSet
      }
      // once selection has read b2's central directory, and before
      // staging reads b2, the landing filesystem replaces b2 with an
      // archive that no longer holds m2
      zipOf(dir, "b2.zip", Map("m2.json" -> tiny))
      SwappingGraftfs.armed = Some("b2.zip" -> (() => zipOf(dir, "b2.zip", Map("m3.json" -> tiny))))
      val e = intercept[IllegalStateException](Pipeline.runOnce(spark, landing, work))
      assert(SwappingGraftfs.armed.isEmpty, "b2.zip never read")
      assert(e.getMessage.contains("staged 0 of the 1 new entries"))
      assert(ledger() == Set("m1"))
      // the next run picks what the landing dir now holds
      val r = runChecked(landing, work)
      assert(r.newFiles == 1 && ledger() == Set("m1", "m3"))
    } finally {
      SwappingGraftfs.armed = None
      unsetGraftfs()
    }
  }

  test("maintain compacts staging while preserving partitions and exactly-once") {
    val landing = tmpDir("mnt_landing")
    val work = tmpDir("mnt_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    // three incremental batches -> three per-file staging partitions
    (1 to 3).foreach { i =>
      zipOf(landing, s"b$i.zip", Map(s"m$i.json" -> tiny))
      runChecked(landing, work)
    }
    val before = spark.read.parquet(s"$work/staging")
    val wantRows = before.count()
    assert(wantRows == 12)
    val (nBefore, nAfter) = Pipeline.maintain(spark, work)
    assert(nBefore >= 3 && nAfter <= nBefore)
    val after = spark.read.parquet(s"$work/staging")
    assert(after.count() == wantRows)
    // partition layout survived: pruning on file_key still plans
    import spark.implicits._
    val pruned = after.filter($"file_key" === "m2")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
    assert(pruned.count() == 4)
    // exactly-once still holds post-compaction: re-delivering m2 in a
    // new archive overwrites only its partition, no duplicates
    zipOf(landing, "redeliver.zip", Map("m2.json" -> tiny))
    // force reprocessing by pruning m2 from the ledger (same surgery
    // as the crash-recovery case in the end-to-end test)
    val state = spark.read.parquet(s"$work/state")
    val prunedState = state.filter($"file_key" =!= "m2")
    prunedState.write.parquet(s"$work/state_pruned")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/state"))
    new java.io.File(s"$work/state_pruned").renameTo(new java.io.File(s"$work/state"))
    val r = runChecked(landing, work)
    assert(r.newFiles == 1 && r.stagedRows == wantRows)
    assert(spark.read.parquet(s"$work/staging").count() == wantRows)
  }

  test("a batch larger than maxDriverRows fails loudly with the batching remedy") {
    // the scoped read collects new-entry NAMES to the driver; past the
    // bound the run must fail with an actionable message, not OOM
    val landing = tmpDir("cap_landing")
    val work = tmpDir("cap_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "big.zip", Map("m1.json" -> tiny, "m2.json" -> tiny, "m3.json" -> tiny))
    val e = intercept[IllegalStateException] {
      Pipeline.runOnce(spark, landing, work, maxDriverRows = 2)
    }
    assert(e.getMessage.contains("maxDriverRows"))
    assert(e.getMessage.contains("batches"))
    // nothing was staged or marked processed: the failed run is clean
    // to re-run with a raised bound or a sliced landing dir
    assert(!new java.io.File(s"$work/staging").exists())
    val r = Pipeline.runOnce(spark, landing, work) // default bound: fine
    assert(r.newFiles == 3)
  }

  test("10x admission: a 300-file burst admits under the default bound; " +
      "slice-batched runs stay exactly-once when the bound forces batching") {
    // VERDICT r11 item 7: the runOnce loop's admission posture at 10×
    // the reference's daily cadence. 300 entries across 3 archives —
    // (a) the default bound admits the whole burst in one run and the
    // ledger is exactly-once; (b) with a bound the burst exceeds, the
    // run fails LOUDLY (nothing staged), and the documented remedy —
    // ingest the landing dir in slices, one runOnce per slice — lands
    // every file exactly once with no re-staging across slices.
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    def burst(landing: String): Unit =
      (0 until 3).foreach { z =>
        zipOf(landing, s"burst$z.zip",
          (0 until 100).map(i => s"b$z/m$i.json" -> tiny).toMap)
      }

    // (a) single-run admission under the default bound
    val landingA = tmpDir("adm_a_landing"); val workA = tmpDir("adm_a_work")
    burst(landingA)
    val rA = Pipeline.runOnce(spark, landingA, workA)
    assert(rA.newFiles == 300, s"admitted ${rA.newFiles} of 300")
    assert(rA.stagedRows == 300L * 4)
    assert(Pipeline.runOnce(spark, landingA, workA).newFiles == 0, "not idempotent")

    // (b) bound below the burst: loud refusal, then sliced ingestion
    val landingB = tmpDir("adm_b_landing"); val workB = tmpDir("adm_b_work")
    burst(landingB)
    val e = intercept[IllegalStateException] {
      Pipeline.runOnce(spark, landingB, workB, maxDriverRows = 120)
    }
    assert(e.getMessage.contains("batches"))
    assert(!new java.io.File(s"$workB/staging").exists(), "refused run must stage nothing")
    // the remedy: one slice (archive) at a time under the same bound.
    // stagedRows is the CUMULATIVE staging count after each run, so
    // each slice must add exactly its own 100 × 4 rows.
    val sliceDir = tmpDir("adm_b_slices")
    (0 until 3).foreach { z =>
      new java.io.File(s"$sliceDir/s$z").mkdirs()
      Files.copy(Paths.get(s"$landingB/burst$z.zip"),
        Paths.get(s"$sliceDir/s$z/burst$z.zip"))
      val r = Pipeline.runOnce(spark, s"$sliceDir/s$z", workB, maxDriverRows = 120)
      assert(r.newFiles == 100, s"slice $z admitted ${r.newFiles}")
      assert(r.stagedRows == 100L * 4 * (z + 1),
        s"slice $z cumulative staging ${r.stagedRows}")
    }
    // exactly-once across slices: re-running any slice adds nothing
    assert(Pipeline.runOnce(spark, s"$sliceDir/s1", workB, maxDriverRows = 120)
      .newFiles == 0)
  }

  test("an entry named ../evil.json writes nothing outside workDir and stages " +
      "under an escaped file_key= partition") {
    val landing = tmpDir("slip_landing")
    val root = tmpDir("slip_root")
    val work = s"$root/work"
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "evil.zip", Map("../evil.json" -> tiny))
    val r = runChecked(landing, work)
    assert(r.newFiles == 1 && r.stagedRows == 4)
    def names(dir: String): Set[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName).toSet
    assert(names(root) == Set("work"), s"written beside the work dir: ${names(root)}")
    assert(names(landing) == Set("evil.zip"))
    // the partition writer escapes '/', so the key stays one directory
    assert(names(s"$work/staging").filter(_.startsWith("file_key=")) == Set("file_key=..%2Fevil"))
    import spark.implicits._
    assert(spark.read.parquet(s"$work/staging").select($"file_key").distinct()
      .as[String].collect().toSeq == Seq("../evil"))
  }

  test("archive names are read literally: spaces, '%', '+' and glob characters") {
    val landing = tmpDir("lit_landing")
    val work = tmpDir("lit_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "day 1%20+[a].zip", Map("m1.json" -> tiny))
    zipOf(landing, "day{2}*?.zip", Map("m2.json" -> tiny))
    val r = runChecked(landing, work)
    assert(r.newFiles == 2 && r.stagedRows == 8 && r.corruptFiles == 0)
  }

  test("a run writes nothing under workDir/extracted") {
    val landing = tmpDir("noext_landing")
    val work = tmpDir("noext_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny, "2024/m2.json" -> full))
    assert(runChecked(landing, work).newFiles == 2)
    zipOf(landing, "b2.zip", Map("m3.json" -> tiny))
    assert(runChecked(landing, work).newFiles == 1)
    assert(!Files.exists(Paths.get(work, "extracted")))
    val written = Files.list(Paths.get(work)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(written.subsetOf(Set("staging", "state", "state.old", "schema_log")), written)
  }

  test("staged rows equal the flatten of the file reader over the same match files") {
    import spark.implicits._
    val landing = tmpDir("same_landing")
    val work = tmpDir("same_work")
    val files = tmpDir("same_files")
    val entries = Map(
      "m1.json" -> Files.readAllBytes(Paths.get(fixture("match_tiny.json"))),
      "m2.json" -> Files.readAllBytes(Paths.get(fixture("match_full.json"))),
      "m3.json" -> "{ not json".getBytes("UTF-8"))
    zipOf(landing, "b1.zip", entries)
    entries.foreach { case (name, bytes) => Files.write(Paths.get(files, name), bytes) }
    val r = runChecked(landing, work)
    assert(r.newFiles == 3 && r.corruptFiles == 1)

    val got = spark.read.parquet(s"$work/staging")
    val read = graft.sources.Cricsheet.readMatchFiles(spark, entries.keys.toSeq.map(n => s"$files/$n"))
    val want = graft.operators.Flatten.flatten(
        graft.sources.Cricsheet.validMatches(read)
          .withColumn("file_key", regexp_extract($"match_file", "([^/]+)\\.json$", 1))
          .drop("match_file"),
        outer = true)
      .select(got.columns.toIndexedSeq.map(col): _*)
    assert(got.count() == 4 + 52)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("no plan a runOnce executes holds a broadcast exchange") {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    object Walk extends AdaptiveSparkPlanHelper {
      def broadcasts(p: SparkPlan): Seq[String] = collectWithSubqueries(p) {
        case b @ (_: BroadcastExchangeLike | _: BroadcastQueryStageExec) => Seq(b.nodeName)
        case c: CommandResultExec => broadcasts(c.commandPhysicalPlan)
      }.flatten
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.atomic.AtomicInteger()
    val recorder = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.incrementAndGet()
        Walk.broadcasts(qe.executedPlan).foreach(b => seen.add(s"$f: $b"))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val landing = tmpDir("nobc_landing")
    val work = tmpDir("nobc_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    val bus = spark.sparkContext
    org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
    spark.listenerManager.register(recorder)
    try {
      // a first day, then a day against a non-empty ledger, then a no-op
      zipOf(landing, "day1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
      assert(Pipeline.runOnce(spark, landing, work).newFiles == 2)
      zipOf(landing, "day2.zip", Map("m3.json" -> full, "m1.json" -> tiny))
      assert(Pipeline.runOnce(spark, landing, work).newFiles == 1)
      assert(Pipeline.runOnce(spark, landing, work).newFiles == 0)
    } finally {
      org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
      spark.listenerManager.unregister(recorder)
    }
    assert(plans.get() > 0)
    assert(seen.isEmpty, s"broadcasts: ${seen.asScala.mkString("; ")}")
  }

  test("a ledger written before staged_rows existed is migrated from staging once") {
    val landing = tmpDir("legacy_landing")
    val work = tmpDir("legacy_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny, "m2.json" -> full,
      "m3.json" -> "{ not json".getBytes("UTF-8")))
    assert(Pipeline.runOnce(spark, landing, work).newFiles == 3)

    // the old shape: the reference's four flags, no staged_rows
    import spark.implicits._
    spark.read.parquet(s"$work/state")
      .select($"file_key", $"ingested", $"crawled", $"transformed", $"loaded")
      .write.parquet(s"$work/state_old_shape")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/state"))
    new java.io.File(s"$work/state_old_shape").renameTo(new java.io.File(s"$work/state"))

    zipOf(landing, "b2.zip", Map("m4.json" -> tiny))
    val r = Pipeline.runOnce(spark, landing, work)
    assert(r.newFiles == 1)
    assert(r.stagedRows == spark.read.parquet(s"$work/staging").count())
    val perKey = spark.read.parquet(s"$work/state")
      .select($"file_key", $"staged_rows").as[(String, Long)].collect().toMap
    assert(perKey == Map("m1" -> 4L, "m2" -> 52L, "m3" -> 0L, "m4" -> 4L))
  }

  test("a new-data run costs O(new files): jobs flat in history, no staging read, " +
      "no schema-log rewrite without drift") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))

    def listing(dir: String): Seq[(String, Long)] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(f => f.getName -> f.lastModified()).sortBy(_._1)

    /** (jobs started, paths read) by one new-data run over `history` files. */
    def newDataRun(history: Int): (Int, Seq[String]) = {
      val landing = tmpDir(s"onew${history}_landing")
      val work = tmpDir(s"onew${history}_work")
      zipOf(landing, "history.zip", (1 to history).map(i => s"h$i.json" -> tiny).toMap)
      assert(Pipeline.runOnce(spark, landing, work).newFiles == history)
      zipOf(landing, "day.zip", Map("d1.json" -> tiny))
      val logBefore = listing(s"$work/schema_log")

      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobCounter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val readRecorder = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          qe.analyzed.foreach {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.foreach(p => reads.add(p.toString))
              case _ =>
            }
            case _ =>
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val bus = spark.sparkContext
      org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
      bus.addSparkListener(jobCounter)
      spark.listenerManager.register(readRecorder)
      val r =
        try Pipeline.runOnce(spark, landing, work)
        finally {
          org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
          bus.removeSparkListener(jobCounter)
          spark.listenerManager.unregister(readRecorder)
        }
      assert(r.newFiles == 1 && !r.hadDrift)
      assert(r.stagedRows == 4L * (history + 1))
      assert(listing(s"$work/schema_log") == logBefore, "schema_log rewritten without drift")
      val staging = new java.io.File(s"$work/staging").toURI.getPath.stripSuffix("/")
      (jobs.get(), reads.asScala.toSeq.filter(_.contains(staging)))
    }

    val (jobs5, stagingReads5) = newDataRun(5)
    val (jobs40, stagingReads40) = newDataRun(40)
    assert(stagingReads5.isEmpty && stagingReads40.isEmpty,
      s"staging read: ${stagingReads5 ++ stagingReads40}")
    assert(jobs5 == jobs40, s"jobs grew with history: $jobs5 at 5 files, $jobs40 at 40")
  }

  test("a first run that lands only corrupt files stages nothing and leaves no staging dir") {
    val landing = tmpDir("allbad_landing")
    val work = tmpDir("allbad_work")
    zipOf(landing, "bad.zip", Map(
      "b1.json" -> "{ not json".getBytes("UTF-8"),
      "b2.json" -> "not json at all".getBytes("UTF-8")))
    val r1 = runChecked(landing, work)
    assert(r1.newFiles == 2 && r1.corruptFiles == r1.newFiles && r1.stagedRows == 0)
    assert(!Files.exists(Paths.get(work, "staging")), "an all-corrupt batch created staging")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "good.zip", Map("m1.json" -> tiny))
    val r2 = runChecked(landing, work)
    assert(r2.newFiles == 1 && r2.corruptFiles == 0 && r2.stagedRows == 4)
  }

  test("every work-dir access uses the session's Hadoop conf") {
    // a scheme only the session conf knows; with the FileSystem cache
    // off for it, a fresh Configuration cannot open it
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftfsLocalFileSystem].getName)
    conf.setBoolean("fs.graftfs.impl.disable.cache", true)
    try {
      val landing = tmpDir("scheme_landing")
      val work = "graftfs:" + tmpDir("scheme_work")
      val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
      val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
      zipOf(landing, "batch1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
      val r1 = runChecked(landing, work)
      assert(r1.newFiles == 2 && r1.stagedRows == 4 + 52 && !r1.hadDrift)
      val r2 = runChecked(landing, work)
      assert(r2.newFiles == 0 && r2.stagedRows == 0)
      zipOf(landing, "batch2.zip", Map("m3.json" -> tiny))
      val r3 = runChecked(landing, work)
      assert(r3.newFiles == 1 && r3.stagedRows == 56 + 4 && !r3.hadDrift)
    } finally {
      conf.unset("fs.graftfs.impl")
      conf.unset("fs.graftfs.impl.disable.cache")
    }
  }

  /** `body`'s result and the Spark jobs and SQL executions it started. */
  private def jobsAndExecutions[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    val bus = spark.sparkContext
    org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
    bus.addSparkListener(counter)
    val r =
      try body
      finally {
        org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
        bus.removeSparkListener(counter)
      }
    (r, jobs.get(), executions.get())
  }

  test("a no-op run starts no Spark job and no SQL execution") {
    val landing = tmpDir("noop_landing")
    val work = tmpDir("noop_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
    assert(runChecked(landing, work).newFiles == 2)
    val (r, jobs, executions) = jobsAndExecutions(Pipeline.runOnce(spark, landing, work))
    assert(r == Pipeline.RunResult(0, 0, "no new files", hadDrift = false))
    assert(jobs == 0 && executions == 0, s"$jobs jobs, $executions SQL executions")
  }

  test("a new-data run starts 1 Spark job, in the SQL execution of the staging write") {
    val landing = tmpDir("shape_landing")
    val work = tmpDir("shape_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    zipOf(landing, "day1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
    assert(runChecked(landing, work).newFiles == 2)
    zipOf(landing, "day2.zip", Map("m3.json" -> full, "m1.json" -> tiny, "2024/m4.json" -> tiny))
    val (r, jobs, executions) = jobsAndExecutions(Pipeline.runOnce(spark, landing, work))
    assert(r.newFiles == 2 && !r.hadDrift && r.stagedRows == stagedNow(work))
    // selection and the ledger swap run on the driver, and the staging
    // write's scan infers the schema the drift check diffs
    assert(jobs == 1 && executions == 1, s"$jobs jobs, $executions SQL executions")
  }

  test("a drift run starts 2 Spark jobs: the staging write and the schema-log write") {
    val landing = tmpDir("drift_shape_landing")
    val work = tmpDir("drift_shape_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "day1.zip", Map("m1.json" -> tiny))
    assert(runChecked(landing, work).newFiles == 1)
    val drifted = new String(tiny, "UTF-8").replace(
      "\"balls_per_over\": 6,", "\"balls_per_over\": 6, \"forfeited_overs\": 2,")
    zipOf(landing, "day2.zip", Map("m2.json" -> drifted.getBytes("UTF-8")))
    val (r, jobs, executions) = jobsAndExecutions(Pipeline.runOnce(spark, landing, work))
    assert(r.newFiles == 1 && r.hadDrift && r.driftReport.contains("info.forfeited_overs"))
    assert(jobs == 2 && executions == 2, s"$jobs jobs, $executions SQL executions")
  }

  test("the bound counts distinct new keys, and the run past it starts no Spark job") {
    val landing = tmpDir("keycap_landing")
    val work = tmpDir("keycap_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    // 5 entries, 3 distinct keys: m1 twice, and m2 as .json and .txt
    zipOf(landing, "a.zip", Map("m1.json" -> tiny, "m2.json" -> tiny))
    zipOf(landing, "b.zip", Map("m1.json" -> tiny, "m2.txt" -> tiny))
    zipOf(landing, "c.zip", Map("m3.json" -> tiny))
    val (e, jobs, executions) = jobsAndExecutions(intercept[IllegalStateException] {
      Pipeline.runOnce(spark, landing, work, maxDriverRows = 2)
    })
    assert(e.getMessage.contains("more than maxDriverRows=2 new files"))
    assert(e.getMessage.contains("batches"))
    assert(jobs == 0 && executions == 0, s"$jobs jobs, $executions SQL executions before the failure")
    assert(!Files.exists(Paths.get(work, "staging")) && !Files.exists(Paths.get(work, "state")))
    // at the bound: 3 distinct keys in 5 entries pass under maxDriverRows = 3
    val r = Pipeline.runOnce(spark, landing, work, maxDriverRows = 3)
    assert(r.newFiles == 3 && r.stagedRows == 12)
  }

  test("latest-wins compares names as UTF-8 bytes, as Spark does, not as UTF-16 units") {
    val landing = tmpDir("utf8_landing")
    val work = tmpDir("utf8_work")
    val tiny = new String(Files.readAllBytes(Paths.get(fixture("match_tiny.json"))), "UTF-8")
    def venue(v: String): Array[Byte] = tiny.replace("Wankhede Stadium", v).getBytes("UTF-8")
    // U+FF21 is one UTF-16 unit above the surrogates of U+1F600, but its
    // UTF-8 lead byte (EF) is below U+1F600's (F0): UTF-16 order puts the
    // emoji copy first, byte order last. Archive names stay ASCII (under
    // a POSIX locale the JVM cannot name such files); the later archive
    // holds both copies, so the entry names decide within it.
    zipOf(landing, "a.zip", Map("m1.json" -> venue("Venue A")))
    zipOf(landing, "b.zip", Map("m1.\uFF21" -> venue("Venue Fullwidth"), "m1.\uD83D\uDE00" -> venue("Venue Emoji")))
    val r = runChecked(landing, work)
    assert(r.newFiles == 1 && r.stagedRows == 4 && r.corruptFiles == 0)
    import spark.implicits._
    val venues = spark.read.parquet(s"$work/staging").select($"file_key", $"info_venue").distinct()
      .as[(String, String)].collect()
    assert(venues.toSeq == Seq("m1" -> "Venue Emoji"))
  }

  test("a new archive beside 5 or 40 recorded ones is the only archive a run reads") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))

    /** Names of the landing paths the scans of a new-data run beside `history` archives read. */
    def scanned(history: Int): Set[String] = {
      val landing = tmpDir(s"fresh${history}_landing")
      val work = tmpDir(s"fresh${history}_work")
      (1 to history).foreach(i => zipOf(landing, s"h$i.zip", Map(s"h$i.json" -> tiny)))
      assert(runChecked(landing, work).newFiles == history)
      zipOf(landing, "day.zip", Map("d1.json" -> tiny))
      val landingUri = new java.io.File(landing).toURI.getPath.stripSuffix("/")
      val roots = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
      val recorder = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          qe.analyzed.foreach {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.foreach(roots.add)
              case _ =>
            }
            case _ =>
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val bus = spark.sparkContext
      org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
      spark.listenerManager.register(recorder)
      val r =
        try Pipeline.runOnce(spark, landing, work)
        finally {
          org.apache.spark.GraftListenerBridge.drainListenerBus(bus)
          spark.listenerManager.unregister(recorder)
        }
      assert(r.newFiles == 1 && r.stagedRows == 4L * (history + 1))
      roots.asScala.filter(_.toUri.getPath.startsWith(landingUri)).map(_.getName).toSet
    }

    assert(scanned(5) == Set("day.zip"))
    assert(scanned(40) == Set("day.zip"))
  }

  test("a re-delivery-only archive lands nothing, and the next run starts no Spark job") {
    val landing = tmpDir("redeliver_landing")
    val work = tmpDir("redeliver_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny, "m2.json" -> tiny))
    assert(runChecked(landing, work).newFiles == 2)
    zipOf(landing, "b2.zip", Map("m2.json" -> tiny))
    val r = runChecked(landing, work)
    assert(r.newFiles == 0 && r.stagedRows == 0)
    val (next, jobs, executions) = jobsAndExecutions(Pipeline.runOnce(spark, landing, work))
    assert(next.newFiles == 0)
    assert(jobs == 0 && executions == 0, s"$jobs jobs, $executions SQL executions")
  }

  test("an archive rewritten in place with a new entry is read again") {
    val landing = tmpDir("rewrite_landing")
    val work = tmpDir("rewrite_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny))
    assert(runChecked(landing, work).newFiles == 1)
    assert(runChecked(landing, work).newFiles == 0)
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny, "m2.json" -> tiny))
    val r = runChecked(landing, work)
    assert(r.newFiles == 1 && r.stagedRows == 8)
    import spark.implicits._
    assert(spark.read.parquet(s"$work/state").select($"file_key").as[String].collect().sorted
      .toSeq == Seq("m1", "m2"))
  }

  test("a schema log longer than maxDriverRows fails the run before the ledger changes") {
    val landing = tmpDir("logcap_landing")
    val work = tmpDir("logcap_work")
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    zipOf(landing, "b1.zip", Map("m1.json" -> tiny))
    assert(runChecked(landing, work).newFiles == 1)
    zipOf(landing, "b2.zip", Map("m2.json" -> tiny))
    def stagingFiles(): Seq[(String, Long, Long)] =
      Files.walk(Paths.get(work, "staging")).iterator().asScala.map(_.toFile).toSeq
        .map(f => (f.getPath, f.length(), f.lastModified())).sorted
    val stagingBefore = stagingFiles()
    val (e, jobs, executions) = jobsAndExecutions(
      intercept[IllegalStateException](Pipeline.runOnce(spark, landing, work, maxDriverRows = 3)))
    assert(e.getMessage.contains("schema log holds more than maxDriverRows=3"))
    assert(jobs == 0 && executions == 0, s"$jobs jobs, $executions SQL executions before the failure")
    assert(stagingFiles() == stagingBefore, "the failed run changed staging")
    assert(runChecked(landing, work).newFiles == 1)
  }

  test("a crash at any stage boundary, then a rerun, leaves what one clean run leaves") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[CrashingGraftfs].getName)
    conf.setBoolean("fs.graftfs.impl.disable.cache", true)
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def staging(work: String) = spark.read.parquet(s"$work/staging")
    def ledger(work: String): Set[Pipeline.LedgerRow] =
      spark.read.parquet(s"$work/state").as[Pipeline.LedgerRow].collect().toSet

    /** A history day, then a second day's run with `crash` armed (if
      * any), then the rerun; the work dir after them and the rerun's
      * new files.
      */
    def days(name: String, crash: Option[String]): (String, Long) = {
      val landing = tmpDir(s"crash_${name}_landing")
      val work = "graftfs:" + tmpDir(s"crash_${name}_work")
      zipOf(landing, "day1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
      assert(runChecked(landing, work).newFiles == 2)
      zipOf(landing, "day2.zip", Map("m3.json" -> full, "2024/m4.json" -> tiny))
      crash.foreach { boundary =>
        CrashingGraftfs.armed = Some(boundary)
        val e = intercept[Exception](Pipeline.runOnce(spark, landing, work))
        assert(CrashingGraftfs.armed.isEmpty, s"$boundary never reached")
        assert(messages(e).exists(_.contains(s"injected crash: $boundary")), e.toString)
      }
      (work, runChecked(landing, work).newFiles)
    }

    try {
      val (clean, _) = days("clean", None)
      val want = staging(clean)
      assert(want.count() == 4 + 52 + 52 + 4)
      // each boundary and the new files its rerun lands: a crash before
      // the ledger's first move redoes the day; one between or after the
      // moves leaves nothing to redo
      val boundaries = Seq("staging commit" -> 2L, "_archives into state.tmp" -> 2L,
        "state -> state.old" -> 2L, "state.tmp -> state" -> 0L, "after the swap" -> 0L)
      boundaries.zipWithIndex.foreach { case ((boundary, redone), i) =>
        val (work, newFiles) = days(s"b$i", Some(boundary))
        assert(newFiles == redone, s"rerun after a crash at $boundary")
        val got = staging(work)
        assert(got.count() == want.count() && got.exceptAll(want).isEmpty &&
          want.exceptAll(got).isEmpty, s"staging after a crash at $boundary")
        assert(ledger(work) == ledger(clean), s"ledger after a crash at $boundary")
        val perKey = got.groupBy("file_key").count().as[(String, Long)].collect().toMap
        assert(ledger(work).map(r => r.file_key -> r.staged_rows).toMap == perKey,
          s"ledger staged_rows vs staging after a crash at $boundary")
      }
    } finally {
      CrashingGraftfs.armed = None
      conf.unset("fs.graftfs.impl")
      conf.unset("fs.graftfs.impl.disable.cache")
    }
  }

  test("a crash in the schema-log commit reruns the day and reports the drift again") {
    import spark.implicits._
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    // day 2 drifts, and lacks columns of day 1's full match that only
    // the log remembers
    val drifted = new String(tiny, "UTF-8").replace(
      "\"balls_per_over\": 6,", "\"balls_per_over\": 6, \"forfeited_overs\": 2,").getBytes("UTF-8")
    def log(work: String): Seq[(String, String)] =
      spark.read.parquet(s"$work/schema_log").as[(String, String)].collect().toSeq.sorted
    def ledger(work: String): Set[Pipeline.LedgerRow] =
      spark.read.parquet(s"$work/state").as[Pipeline.LedgerRow].collect().toSet

    /** Day 1, then day 2 (crashing once at the schema-log commit, when
      * `crash`, and run again); the work dir, day 2's last result and
      * the reports sent for it.
      */
    def days(name: String, crash: Boolean): (String, Pipeline.RunResult, Seq[String]) = {
      val landing = tmpDir(s"logcrash_${name}_landing")
      val work = "graftfs:" + tmpDir(s"logcrash_${name}_work")
      zipOf(landing, "day1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
      assert(runChecked(landing, work).newFiles == 2)
      zipOf(landing, "day2.zip", Map("m3.json" -> drifted, "2024/m4.json" -> tiny))
      val sent = scala.collection.mutable.ArrayBuffer.empty[String]
      if (crash) {
        CrashingGraftfs.armed = Some("schema_log commit")
        val e = intercept[Exception](Pipeline.runOnce(spark, landing, work, notifyDrift = sent += _))
        assert(CrashingGraftfs.armed.isEmpty, "the schema-log commit never reached")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("injected crash: schema_log commit")), e.toString)
      }
      val r = Pipeline.runOnce(spark, landing, work, notifyDrift = sent += _)
      assert(r.stagedRows == stagedNow(work))
      (work, r, sent.toSeq)
    }

    setGraftfs(classOf[CrashingGraftfs])
    try {
      val (clean, want, _) = days("clean", crash = false)
      val (work, r, sent) = days("crash", crash = true)
      assert(r.newFiles == 2, "the rerun did not land the day again")
      val (got, expected) = (spark.read.parquet(s"$work/staging"), spark.read.parquet(s"$clean/staging"))
      assert(got.count() == expected.count() && got.exceptAll(expected).isEmpty &&
        expected.exceptAll(got).isEmpty, "staging after the rerun")
      assert(ledger(work) == ledger(clean))
      assert(log(work) == log(clean) && log(work).distinct == log(work), "the schema log after the rerun")
      val day2Cols = graft.operators.SchemaDiff.leafColumns(
        spark.read.json(Seq(new String(drifted, "UTF-8"), new String(tiny, "UTF-8")).toDS()).schema).map(_.name)
      assert(log(clean).exists { case (name, _) => !day2Cols.contains(name) }, "day 1 adds no column to the log")
      assert(r.hadDrift && r.driftReport == want.driftReport, "the rerun's drift report")
      // at-least-once: the crashed run and its rerun each notified
      assert(sent == Seq(want.driftReport, want.driftReport))
    } finally {
      CrashingGraftfs.armed = None
      unsetGraftfs()
    }
  }

  test("a maintain that crashed inside its staging swap loses no match the next day") {
    import spark.implicits._
    val tiny = Files.readAllBytes(Paths.get(fixture("match_tiny.json")))
    val full = Files.readAllBytes(Paths.get(fixture("match_full.json")))
    def ledger(work: String): Set[Pipeline.LedgerRow] =
      spark.read.parquet(s"$work/state").as[Pipeline.LedgerRow].collect().toSet

    /** Two days and a maintain (crashing once between the two renames
      * of its staging swap, when `crash`), then a third day and another
      * maintain; the local dir under the work dir.
      */
    def days(name: String, crash: Boolean): String = {
      val landing = tmpDir(s"mntcrash_${name}_landing")
      val dir = tmpDir(s"mntcrash_${name}_work")
      val work = s"graftfs:$dir"
      zipOf(landing, "day1.zip", Map("m1.json" -> tiny, "m2.json" -> full))
      assert(runChecked(landing, work).newFiles == 2)
      zipOf(landing, "day2.zip", Map("m3.json" -> full))
      assert(runChecked(landing, work).newFiles == 1)
      if (crash) {
        CrashingGraftfs.armed = Some("staging compaction swap")
        val e = intercept[Exception](Pipeline.maintain(spark, work))
        assert(CrashingGraftfs.armed.isEmpty, "the staging compaction swap never reached")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("injected crash: staging compaction swap")), e.toString)
      } else Pipeline.maintain(spark, work)
      zipOf(landing, "day3.zip", Map("2024/m4.json" -> tiny))
      assert(runChecked(landing, work).newFiles == 1)
      assert(!Files.exists(Paths.get(s"$dir/staging.compact_tmp")), "the crashed rewrite left behind")
      Pipeline.maintain(spark, work)
      dir
    }

    setGraftfs(classOf[CrashingGraftfs])
    try {
      val clean = days("clean", crash = false)
      val work = days("crash", crash = true)
      val (got, want) = (spark.read.parquet(s"$work/staging"), spark.read.parquet(s"$clean/staging"))
      assert(want.count() == 4 + 52 + 52 + 4)
      assert(got.count() == want.count() && got.exceptAll(want).isEmpty &&
        want.exceptAll(got).isEmpty, "staging after the crashed maintain")
      assert(ledger(work) == ledger(clean))
      val perKey = got.groupBy("file_key").count().as[(String, Long)].collect().toMap
      assert(ledger(work).map(r => r.file_key -> r.staged_rows).toMap == perKey,
        "ledger staged_rows vs staging")
      assert(!Files.exists(Paths.get(s"$work/staging.compact_old")), "staging.compact_old left behind")
    } finally {
      CrashingGraftfs.armed = None
      unsetGraftfs()
    }
  }
}

/** The local filesystem under the scheme `graftfs:`, which only a
  * Hadoop conf naming this class in `fs.graftfs.impl` can open.
  * Listings hold plain statuses: the local ones load their permissions
  * through `java.io.File`, which takes only `file:` URIs, so
  * `FileSystem.listFiles` (compaction's listing) would fail here.
  */
class GraftfsLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getPath))
}

/** [[GraftfsLocalFileSystem]] that fails once, like a crash, at the
  * stage boundary of `Pipeline.runOnce` (or `Pipeline.maintain`) that
  * [[CrashingGraftfs.armed]] names. "after the swap" fails the ledger's
  * last move after making it.
  */
class CrashingGraftfs extends GraftfsLocalFileSystem {
  import CrashingGraftfs.crashAt
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    crashAt("_archives into state.tmp", f.getName == "_archives" && f.getParent.getName == "state.tmp")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    crashAt("staging commit",
      dst.getParent.getName == "staging" && dst.getName.startsWith("file_key="))
    crashAt("state -> state.old", src.getName == "state" && dst.getName == "state.old")
    crashAt("state.tmp -> state", src.getName == "state.tmp" && dst.getName == "state")
    crashAt("schema_log commit",
      dst.getParent.getName == "schema_log.tmp" && dst.getName.startsWith("part-"))
    crashAt("staging compaction swap", src.getName == "staging.compact_tmp" && dst.getName == "staging")
    val moved = super.rename(src, dst)
    crashAt("after the swap", src.getName == "state.tmp" && dst.getName == "state")
    moved
  }
}

/** [[GraftfsLocalFileSystem]] that runs the swap [[SwappingGraftfs.armed]]
  * holds once, when the first stream opened on the archive it names is
  * closed: after selection has read that archive's central directory,
  * before staging reads the archive.
  */
class SwappingGraftfs extends GraftfsLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, Path}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    SwappingGraftfs.take(f.getName) match {
      case Some(swap) =>
        new FSDataInputStream(in) {
          override def close(): Unit = { super.close(); swap() }
        }
      case None => in
    }
  }
}

object SwappingGraftfs {

  /** The archive name whose first read swaps it, and the swap. */
  @volatile var armed: Option[(String, () => Unit)] = None

  private def take(name: String): Option[() => Unit] = synchronized {
    val swap = armed.collect { case (`name`, s) => s }
    if (swap.isDefined) armed = None
    swap
  }
}

object CrashingGraftfs {

  /** The boundary the next matching call fails at, once. */
  @volatile var armed: Option[String] = None

  private def crashAt(boundary: String, here: Boolean): Unit = synchronized {
    if (here && armed.contains(boundary)) {
      armed = None
      throw new java.io.IOException(s"injected crash: $boundary")
    }
  }
}
