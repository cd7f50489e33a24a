package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase

class IngestSpec extends SparkSpecBase {

  private def fileUrl(path: String): String = Paths.get(path).toUri.toString

  test("downloadToLanding lands a timestamped key and is ledger-idempotent") {
    val src = tmpDir("ingest_src")
    val landing = tmpDir("ingest_landing")
    Files.write(Paths.get(src, "payload.zip"), "zip-bytes-v1".getBytes("UTF-8"))
    val fixedNow = () => java.time.Instant.parse("2026-01-02T03:04:05Z")

    val first = Ingest.downloadToLanding(
      fileUrl(s"$src/payload.zip"), landing, now = fixedNow)
    assert(first.isDefined)
    val f = first.get
    assert(f.getName.startsWith("ipl_matches_20260102030405_"))
    assert(f.getName.endsWith(".zip"))
    assert(new String(Files.readAllBytes(f.toPath), "UTF-8") == "zip-bytes-v1")

    // identical content again: ledger no-op, nothing new lands
    val again = Ingest.downloadToLanding(
      fileUrl(s"$src/payload.zip"), landing, now = fixedNow)
    assert(again.isEmpty)
    // only the first key + the hidden ledger exist
    val names = new java.io.File(landing).list().sorted.toSeq
    assert(names == Seq(Ingest.LedgerName, f.getName))

    // changed content: lands under a new key (sha suffix differs even
    // at the same wall-clock second)
    Files.write(Paths.get(src, "payload.zip"), "zip-bytes-v2".getBytes("UTF-8"))
    val changed = Ingest.downloadToLanding(
      fileUrl(s"$src/payload.zip"), landing, now = fixedNow)
    assert(changed.isDefined && changed.get.getName != f.getName)
    // no .part temp files left behind
    assert(!new java.io.File(landing).list().exists(_.endsWith(".part")))
  }

  test("concurrent ingests of the same payload land exactly one copy") {
    val src = tmpDir("ingest_conc_src")
    val landing = tmpDir("ingest_conc_landing")
    Files.write(Paths.get(src, "p.zip"), "same-bytes".getBytes("UTF-8"))
    val url = fileUrl(s"$src/p.zip")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // dedicated pool: the shared global EC can be starved by earlier
    // suites' stragglers, which turns this into a timeout flake
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val landed =
      try Await.result(
        Future.sequence((1 to 8).map(_ =>
          Future(Ingest.downloadToLanding(url, landing)))),
        120.seconds)
      finally pool.shutdown()
    val dirList = new java.io.File(landing).list().toSeq.sorted
    assert(landed.count(_.isDefined) == 1, s"landed: $landed; dir: $dirList")
    val ledger = Files.readAllLines(Paths.get(landing, Ingest.LedgerName))
    assert(ledger.size() == 1, s"ledger: $ledger; dir: $dirList")
  }

  test("orphaned temp parts are swept once stale, fresh ones are kept") {
    val src = tmpDir("ingest_sweep_src")
    val landing = tmpDir("ingest_sweep_landing")
    Files.write(Paths.get(src, "p.zip"), "payload".getBytes("UTF-8"))
    val orphan = Paths.get(landing, "ingest_orphan.part")
    Files.write(orphan, "partial".getBytes("UTF-8"))
    Ingest.downloadToLanding(fileUrl(s"$src/p.zip"), landing)
    assert(Files.exists(orphan), "a fresh temp part was swept")
    val later = java.time.Instant.now().plusMillis(Ingest.StalePartAgeMs + 60000)
    Ingest.downloadToLanding(fileUrl(s"$src/p.zip"), landing, now = () => later)
    assert(!Files.exists(orphan), "a stale temp part survived")
  }

  test("a failed download leaves no partial file and no ledger entry") {
    val landing = tmpDir("ingest_fail")
    intercept[Exception] {
      Ingest.downloadToLanding(
        fileUrl(s"$landing/does_not_exist.zip"), landing)
    }
    val leftover = new java.io.File(landing).list().toSeq
    assert(leftover.isEmpty, s"leftovers: $leftover")
  }
}
