package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.{DigestInputStream, MessageDigest}
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** S1 ingest utility: stream a URL into the landing directory under a
  * timestamped key — the front door of the pipeline, re-expressing the
  * reference's `download_and_upload_to_s3`
  * (/root/reference/airflow-setup/dags/src/data_ingestion_func.py:8-26:
  * requests.get(stream=True) → upload_fileobj under
  * `ipl_matches_<timestamp>.zip`). A driver-side utility by design
  * (SURVEY.md §2.1 scopes S1 as non-Spark): one archive, one stream —
  * the distributed work starts when [[graft.Pipeline.runOnce]] fans the
  * landed archive out.
  *
  * Two deliberate differences from the reference:
  *  - **Ledger idempotence.** The reference lands a fresh timestamped
  *    copy of identical content on every DAG run; here the payload's
  *    sha-256 is checked against a landing-dir ledger, so re-ingesting
  *    unchanged content is a no-op (`None`) — the same exactly-once
  *    posture the rest of the pipeline keeps.
  *  - **Any `java.net.URL`-openable scheme** (http(s) in production;
  *    `file://` in tests — this sandbox has no network egress).
  *
  * The payload streams to a temp file while being hashed — never
  * buffered in memory, like the reference's `stream=True` — and is
  * atomically moved to its final key only after the ledger check.
  */
object Ingest {

  private val KeyTs =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)

  /** Ledger file name inside the landing dir. Hidden so archive globs
    * (`*.zip`) never pick it up as data.
    */
  val LedgerName = ".ingest_ledger"

  /** Age past which an `ingest_*.part` temp file is presumed orphaned
    * (its writer crashed between createTempFile and the finally-block
    * delete) and swept on the next run. Generous — a live download
    * this slow has almost certainly already failed its HTTP timeout —
    * because deleting an in-flight temp under a slow writer would
    * break that writer, while an orphan lingering one extra day is
    * just a few stray bytes.
    */
  val StalePartAgeMs: Long = 24L * 60 * 60 * 1000

  /** Delete orphaned temp files from crashed past runs: without the
    * sweep the landing dir accretes `ingest_*.part` junk forever
    * (nothing else ever touches those names — they are process-local
    * temp names that the owning run deletes in its finally block).
    */
  private def sweepStaleParts(dir: File, now: java.time.Instant): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter { f =>
        // lastModified is 0 for a file missing at that instant — e.g. a
        // concurrent writer's temp between the delete and re-create of
        // Files.copy(REPLACE_EXISTING); 0 means unknown, not ancient
        val mtime = f.lastModified()
        f.getName.startsWith("ingest_") && f.getName.endsWith(".part") &&
          mtime > 0 && now.toEpochMilli - mtime > StalePartAgeMs
      }
      .foreach(_.delete())

  /** JVM-level monitor per ledger path (the canonical path, interned —
    * interned strings are globally unique and GC-able, so no map of
    * monitors grows without bound): java.nio file locks are held
    * per-PROCESS, so two threads of one JVM locking the same ledger
    * would hit OverlappingFileLockException instead of waiting — the
    * monitor serializes same-JVM callers, the file lock serializes
    * across processes.
    */
  private def ledgerMonitor(ledger: File): AnyRef =
    ledger.getCanonicalPath.intern()

  /** Stream `url` into `landingDir/<prefix>_<timestamp>_<sha8><suffix>`.
    *
    * @return the landed file, or `None` when the ledger shows this
    *         exact payload (by sha-256) was already ingested.
    */
  def downloadToLanding(
      url: String,
      landingDir: String,
      prefix: String = "ipl_matches",
      suffix: String = ".zip",
      now: () => java.time.Instant = () => java.time.Instant.now()): Option[File] = {
    val dir = new File(landingDir)
    dir.mkdirs()
    val ledger = new File(dir, LedgerName)
    sweepStaleParts(dir, now())

    val tmp = File.createTempFile("ingest_", ".part", dir)
    try {
      val md = MessageDigest.getInstance("SHA-256")
      val in = new DigestInputStream(new java.net.URI(url).toURL.openStream(), md)
      try Files.copy(in, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      val sha = md.digest().map("%02x".format(_)).mkString

      // ledger check + move + append run under an exclusive lock
      // (JVM monitor + cross-process file lock) so concurrent ingest
      // runs of the same payload cannot both land it. A crash between
      // the move and the append re-lands the payload on the next run
      // (at-least-once) — harmless, because Pipeline.runOnce dedups
      // per zip ENTRY via its own ledger anti-join, so a re-landed
      // archive stages nothing twice.
      // the ledger is read and appended through the SAME locked file
      // handle — a second handle would fail on OSes with mandatory
      // file locking (Windows), where the exclusive lock blocks even
      // this process's other channels
      ledgerMonitor(ledger).synchronized {
      val raf = new java.io.RandomAccessFile(ledger, "rw")
      try {
        val lock = raf.getChannel.lock()
        try {
          val existing = new Array[Byte](raf.length().toInt)
          raf.readFully(existing)
          val seen: Set[String] = new String(existing, "UTF-8")
            .split("\n").filter(_.nonEmpty).map(_.split("\t")(0)).toSet
          if (seen.contains(sha)) {
            tmp.delete()
            None
          } else {
            val key = s"${prefix}_${KeyTs.format(now())}_${sha.take(8)}$suffix"
            val target = new File(dir, key)
            Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
            raf.seek(raf.length())
            raf.write(s"$sha\t$key\t$url\n".getBytes("UTF-8"))
            Some(target)
          }
        } finally lock.release()
      } finally raf.close()
      }
    } finally if (tmp.exists()) tmp.delete()
  }
}
