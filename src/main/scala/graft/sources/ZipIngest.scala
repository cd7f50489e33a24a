package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipFile}
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Zip decompress + fan-out (SURVEY.md §2.1 S2): the reference's
  * Lambda unzip (/root/reference/airflow-setup/Scripts/
  * lambda_unzip_function.py:13-22 and dags/src/lamda_function.py:19-47)
  * re-expressed as a distributed scan: `binaryFile` source over the
  * zip objects, then a per-partition `flatMap` over each archive —
  * each executor unpacks its own zips, so a directory of thousands of
  * archives fans out in parallel instead of through one Lambda.
  *
  * An archive is opened in memory through its central directory, so
  * listing its entries inflates nothing and reading a few entries
  * inflates only those: the cost of a daily read of a large cumulative
  * archive follows the entries read, not the archive.
  */
object ZipIngest {

  /** An archive as a file: its path (a `zip_path` of this object),
    * length and modification time.
    */
  case class Archive(path: String, length: Long, modificationTime: Long)

  /** The `binaryFile` relation over every `*.zip` under `paths`. */
  private def zipFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(paths: _*)

  /** `path` as a Spark path that names exactly it: glob characters are
    * escaped, so any archive name reads back as the same archive.
    */
  def literal(path: String): String = path.replaceAll("""([\\\[\]{}*?])""", """\\$1""")

  /** The archives the readers of this object scan under `paths`, from
    * the `binaryFile` relation's own file index (same listing, globs,
    * hidden-file rule and `*.zip` filter). The driver lists them; Spark
    * lists in a job only past `parallelPartitionDiscovery.threshold`
    * paths or subdirectories.
    */
  def archiveFiles(spark: SparkSession, paths: String*): Seq[Archive] =
    zipFiles(spark, paths).queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.listFiles(Nil, Nil) }.flatten
      .flatMap(_.files.map(_.fileStatus))
      .map(f => Archive(f.getPath.toString, f.getLen, f.getModificationTime))

  /** The rows `read` makes of every `*.zip` under `paths` (Spark paths:
    * directories, archives or globs). Bytes that do not start with a
    * local entry header (a stray non-zip `.zip`, an empty archive) make
    * no rows, as a streaming zip reader would.
    */
  private def archives[T: Encoder](spark: SparkSession, paths: Seq[String])(
      read: (String, ZipFile) => Seq[T]): Dataset[T] = {
    import spark.implicits._
    zipFiles(spark, paths)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        if (bytes.length < 4 || bytes(0) != 'P' || bytes(1) != 'K' || bytes(2) != 3 || bytes(3) != 4) Nil
        else {
          val zip = ZipFile.builder().setSeekableByteChannel(new SeekableInMemoryByteChannel(bytes)).get()
          try read(path, zip)
          finally zip.close()
        }
      }
  }

  private def content(zip: ZipFile, e: ZipArchiveEntry): Array[Byte] = {
    val in = zip.getInputStream(e)
    try in.readAllBytes()
    finally in.close()
  }

  private def files(zip: ZipFile): Seq[ZipArchiveEntry] =
    zip.getEntries.asScala.filterNot(_.isDirectory).toVector

  /** One row per entry of every `*.zip` under `paths`:
    * (zip_path, entry_name, content).
    */
  def unzipEntries(spark: SparkSession, paths: String*): DataFrame = {
    import spark.implicits._
    archives(spark, paths)((path, zip) => files(zip).map(e => (path, e.getName, content(zip, e))))
      .toDF("zip_path", "entry_name", "content")
  }

  /** One row per entry of every `*.zip` under `paths`, without content:
    * (zip_path, entry_name). No entry is inflated.
    */
  def entryNames(spark: SparkSession, paths: String*): DataFrame = {
    import spark.implicits._
    archives(spark, paths)((path, zip) => files(zip).map(e => (path, e.getName)))
      .toDF("zip_path", "entry_name")
  }

  /** The named entries of the named archives, (zip_path, entry_name,
    * content), from `picks`: archive path (a `zip_path` of this object)
    * → entry names. The archive paths are read literally, not as globs,
    * so a `zip_path` reads back as the same archive whatever its name
    * holds. Only the named entries are inflated. A name an archive holds
    * twice yields its first copy; a name it no longer holds yields no
    * row. `picks` travels in the task closure.
    */
  def readEntries(spark: SparkSession, picks: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    archives(spark, picks.keys.toSeq.map(literal)) {
      (path, zip) =>
        picks.getOrElse(path, Nil).flatMap(name => Option(zip.getEntry(name)).map(e => (path, name, content(zip, e))))
    }.toDF("zip_path", "entry_name", "content")
  }

  /** Directory listing as a DataFrame (S7): file name + size via the
    * binaryFile source's metadata columns — column pruning keeps the
    * content out of the scan.
    */
  def listFiles(spark: SparkSession, dir: String, glob: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        regexp_extract(col("path"), "[^/]+$", 0).as("file_name"),
        col("length").as("n_bytes"))
  }
}
