package graft

import java.io.File

import graft.queries.LlmQueries

/** The correctness contract inside the test suite: every declared query
  * is dumped through the shared session (all of them in one JVM, with
  * the build's codegen class cache, where a stale reused class would
  * show) and compared against its DuckDB oracle by
  * `scripts/check.py --skip-verify`.
  */
class OracleSpec extends SparkSpecBase {

  test("every declared query equals its DuckDB oracle at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val script = new File("scripts/check.py")
    assert(script.isFile, s"${script.getAbsolutePath} is missing: run from the repository root")
    val out = tmpDir("oracle_dump")
    val recordDir = tmpDir("oracle_record")
    try {
      val errors =
        try Verify.dump(spark, sf, out, Set.empty)
        finally LlmQueries.clearCaches(Some(spark))
      assert(errors.isEmpty, s"${errors.size} queries failed to dump: $errors")
      val record = new File(recordDir, "check.json")
      val pb = new ProcessBuilder("python3", script.getPath, sf, out, "--skip-verify")
        .redirectErrorStream(true)
      pb.environment().put("CHECK_JSON_OUT", record.getPath)
      val p = pb.start()
      val log = new String(p.getInputStream.readAllBytes())
      val rc = p.waitFor()
      assert(record.isFile, s"check.py wrote no record (exit $rc):\n${log.takeRight(3000)}")
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(record)
        .get(new File(sf).getName)
      assert(n.get("n_fail").asInt == 0, s"oracle mismatches:\n${log.takeRight(3000)}")
      assert(n.get("n_pass").asInt == SparkEntry.queries.size,
        s"${n.get("n_pass").asInt} of ${SparkEntry.queries.size} queries passed:\n" +
          log.takeRight(3000))
      assert(rc == 0, log.takeRight(3000))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(out))
      org.apache.commons.io.FileUtils.deleteDirectory(new File(recordDir))
    }
  }
}
