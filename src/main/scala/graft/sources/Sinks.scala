package graft.sources

import java.util.Properties

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame

/** Sink surface (SURVEY.md §2.1 S5/S6): columnar staging and JDBC
  * warehouse load, re-expressing the reference's Parquet staging write
  * (/root/reference/airflow-setup/Scripts/transformation_job.py:45)
  * and Glue→Redshift load
  * (/root/reference/airflow-setup/Scripts/etl_glue_job.py:17-43).
  */
object Sinks {

  /** Bucketed managed table: pre-partitions rows by key into a fixed
    * bucket count so repeated joins/aggregations on that key plan with
    * NO shuffle on the bucketed side (verified in SinksSpec). At
    * 100 TB this is the difference between re-shuffling the fact
    * table on every query and shuffling it once at write time.
    */
  def bucketTable(df: DataFrame, name: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(name)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Incremental pipelines (this one
    * included — staging partitions per file_key) accrete small files
    * that at 100 TB dominate scan cost (per-file open + footer read +
    * scheduler pressure beat row decoding).
    *
    * All listing and the directory swap go through the Hadoop
    * `FileSystem` API resolved from the path's scheme, so the same
    * code compacts a local dir in tests and an object-store/HDFS
    * staging area on a cluster — which is exactly where compaction
    * matters (the reference's staging store is S3;
    * transformation_job.py:45).
    *
    * Partitioned directories MUST pass their partition columns: the
    * rewrite then repartitions by them and writes `partitionBy`, so
    * the directory layout (and dynamic-partition-overwrite semantics
    * downstream) is preserved — a flat rewrite of a partitioned dir
    * would silently demote partition columns to data columns. A
    * partition larger than `targetBytes` is still split: rows salt
    * across ceil(maxPartitionBytes/targetBytes) deterministic buckets
    * (hash of the row, so retried tasks re-derive the same bucket)
    * and `maxRecordsPerFile` caps file size from the measured
    * bytes-per-row, instead of funneling each oversized partition
    * through one task into one oversized file.
    *
    * Crash safety: the swap is two renames, and a run that died
    * between them is finished by [[recoverCompaction]] first, so a
    * re-run self-heals instead of failing on the missing directory.
    * Concurrency: single-writer, no-concurrent-reader by design — the
    * rename window (dir → .compact_old, tmp → dir) is not atomic for
    * readers, so run compaction when the dataset is quiescent (e.g.
    * from the same scheduler slot as the pipeline that owns the dir),
    * or point readers at a catalog/manifest layer rather than raw
    * paths. Returns (filesBefore, filesAfter).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    val conf = spark.sessionState.newHadoopConf()
    recoverCompaction(path, conf)
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    val old = new HPath(path + ".compact_old")
    // nothing written yet: a no-op, so callers compact unconditionally
    if (!fs.exists(dir)) return (0, 0)
    // (file path, bytes) of every parquet leaf under p, via the
    // recursive listing (one LIST round-trip per thousand entries on
    // object stores, vs one per directory for a manual walk)
    def parquetFiles(p: HPath): Seq[(HPath, Long)] = {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[(HPath, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += ((st.getPath, st.getLen))
      }
      buf.result()
    }
    val before = parquetFiles(dir)
    val totalBytes = before.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = path + ".compact_tmp"
    val df = spark.read.parquet(path)
    val writer =
      if (partitionBy.nonEmpty) {
        // per-partition-directory sizes decide how many salt buckets
        // the LARGEST partition needs; bytes-per-row (from the same
        // listing + a metadata-only count) turns targetBytes into a
        // maxRecordsPerFile cap so within-task file sizes stay bounded
        val dirBytes = before.groupBy(_._1.getParent).map(_._2.map(_._2).sum)
        val maxDirBytes = if (dirBytes.isEmpty) 0L else dirBytes.max
        val salts = math.max(1, math.ceil(maxDirBytes.toDouble / targetBytes).toInt)
        val totalRows = math.max(1L, df.count())
        val bytesPerRow = math.max(1L, totalBytes / totalRows)
        val maxRecords = math.max(1L, targetBytes / bytesPerRow)
        val keys = partitionBy.map(col) ++
          (if (salts > 1) Seq(pmod(hash(df.columns.map(col): _*), lit(salts))) else Nil)
        df.repartition(keys: _*)
          .write.option("maxRecordsPerFile", maxRecords)
          .partitionBy(partitionBy: _*)
      } else df.repartition(nOut).write
    writer.mode("overwrite").parquet(tmp)
    if (fs.exists(old)) fs.delete(old, true)
    move(fs, dir, old)
    move(fs, new HPath(tmp), dir)
    fs.delete(old, true)
    (before.size, parquetFiles(dir).size)
  }

  /** Finish a [[compact]] that died between its two renames: `path`
    * missing while `path.compact_old` exists means the old layout was
    * moved aside and the new one never moved in, so the old one moves
    * back and the unused rewrite is deleted. Every writer of `path`
    * calls this before it touches `path`:
    * a write that recreated `path` first would hold only its own rows,
    * and the next compaction would delete `.compact_old`, the only copy
    * of everything written before. Costs one `exists` when there is
    * nothing to finish.
    */
  def recoverCompaction(path: String, conf: Configuration): Unit = {
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    val old = new HPath(path + ".compact_old")
    if (fs.exists(old) && !fs.exists(dir)) {
      move(fs, old, dir)
      fs.delete(new HPath(path + ".compact_tmp"), true)
    }
  }

  private def move(fs: FileSystem, from: HPath, to: HPath): Unit =
    require(fs.rename(from, to), s"rename $from -> $to failed")

  /** JDBC warehouse load. The reference hard-codes Redshift
    * credentials in source (etl_glue_job.py:20-22 — defect §4.4);
    * here connection config is caller-supplied. `numPartitions`
    * bounds concurrent connections so a 1000-executor cluster doesn't
    * open 1000 sessions against the warehouse. Round-tripped in
    * SinksSpec against an embedded Derby database (in Spark's jars),
    * standing in for the warehouse.
    */
  def loadJdbc(
      df: DataFrame,
      url: String,
      table: String,
      props: Properties,
      numPartitions: Int = 8,
      mode: String = "append"): Unit =
    df.coalesce(numPartitions)
      .write.mode(mode)
      .option("batchsize", 10000)
      .jdbc(url, table, props)
}
