package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.{NonWritableChannelException, SeekableByteChannel}
import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipFile}
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftInferSchemaBridge
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Zip decompress + fan-out (SURVEY.md §2.1 S2): the reference's
  * Lambda unzip (/root/reference/airflow-setup/Scripts/
  * lambda_unzip_function.py:13-22 and dags/src/lamda_function.py:19-47)
  * re-expressed as a distributed scan: `binaryFile` source over the
  * zip objects, then a per-partition `flatMap` over each archive —
  * each executor unpacks its own zips, so a directory of thousands of
  * archives fans out in parallel instead of through one Lambda.
  *
  * An archive is opened through its central directory, so listing its
  * entries inflates nothing and reading a few entries inflates only
  * those: the cost of a daily read of a large cumulative archive
  * follows the entries read, not the archive. The scans open each
  * archive in memory on the executors; [[entryNames]] reads one
  * archive's directory on the driver.
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
  private def literal(path: String): String = path.replaceAll("""([\\\[\]{}*?])""", """\\$1""")

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

  /** Whether `head` starts with a local entry header, as every archive
    * a streaming zip reader reads does: a stray non-zip `.zip` or an
    * empty archive does not.
    */
  private def isZip(head: Array[Byte]): Boolean =
    head.length >= 4 && head(0) == 'P' && head(1) == 'K' && head(2) == 3 && head(3) == 4

  /** The rows `read` makes of every `*.zip` under `paths` (Spark paths:
    * directories, archives or globs). Bytes that do not start with a
    * local entry header make no rows.
    */
  private def archives[T: Encoder](spark: SparkSession, paths: Seq[String])(
      read: (String, ZipFile) => Seq[T]): Dataset[T] = {
    import spark.implicits._
    zipFiles(spark, paths)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        if (!isZip(bytes)) Nil
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

  /** A read-only channel over the first `length` bytes of an open
    * Hadoop stream. Each read is a positioned read, so only the bytes
    * asked for are fetched.
    */
  private final class StreamChannel(in: FSDataInputStream, length: Long) extends SeekableByteChannel {
    private var pos = 0L
    private var open = true

    def read(dst: ByteBuffer): Int =
      if (pos >= length) -1
      else {
        val bytes = new Array[Byte](math.min(dst.remaining.toLong, length - pos).toInt)
        in.readFully(pos, bytes)
        dst.put(bytes)
        pos += bytes.length
        bytes.length
      }
    def position(): Long = pos
    def position(p: Long): SeekableByteChannel = { pos = p; this }
    def size(): Long = length
    def write(src: ByteBuffer): Int = throw new NonWritableChannelException
    def truncate(s: Long): SeekableByteChannel = throw new NonWritableChannelException
    def isOpen: Boolean = open
    def close(): Unit = open = false
  }

  /** The entry names of the archive at `path` (a `zip_path` of this
    * object), read on the driver through the Hadoop FileSystem from the
    * archive's central directory: only its first bytes and that
    * directory are read, no entry is inflated and no Spark job runs. An archive that does
    * not start with a local entry header has no entries, as for
    * [[unzipEntries]].
    */
  def entryNames(path: String, conf: Configuration): Seq[String] = {
    val file = new Path(path)
    val fs = file.getFileSystem(conf)
    val length = fs.getFileStatus(file).getLen
    val in = fs.open(file)
    try {
      val head = new Array[Byte](4)
      if (length < head.length || { in.readFully(0, head); !isZip(head) }) Nil
      else {
        val zip = ZipFile.builder().setSeekableByteChannel(new StreamChannel(in, length))
          .setIgnoreLocalFileHeader(true).get()
        try files(zip).map(_.getName)
        finally zip.close()
      }
    } finally in.close()
  }

  /** The named entries of the named archives, (zip_path, entry_name,
    * content), from `picks`: archive path (a `zip_path` of this object)
    * → entry names. The archive paths are read literally, not as globs,
    * so a `zip_path` reads back as the same archive whatever its name
    * holds. Only the named entries are inflated. A name an archive holds
    * twice yields its first copy; a name it no longer holds yields no
    * row. `picks` travels in the task closure. When `inferred` is
    * given, the task that inflates an entry also adds its content to
    * it, so the scan that reads the entries infers their JSON schema.
    */
  def readEntries(spark: SparkSession, picks: Map[String, Seq[String]],
      inferred: Option[GraftInferSchemaBridge] = None): DataFrame = {
    import spark.implicits._
    archives(spark, picks.keys.toSeq.map(literal)) {
      (path, zip) =>
        picks.getOrElse(path, Nil).flatMap(name => Option(zip.getEntry(name)).map { e =>
          val bytes = content(zip, e)
          inferred.foreach(_.add(bytes))
          (path, name, bytes)
        })
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
