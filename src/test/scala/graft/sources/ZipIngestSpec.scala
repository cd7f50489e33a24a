package graft.sources

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpecBase

class ZipIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def makeZip(dir: String, name: String, entries: Map[String, String]): Unit = {
    val zout = new ZipOutputStream(new FileOutputStream(s"$dir/$name"))
    entries.foreach { case (entry, content) =>
      zout.putNextEntry(new ZipEntry(entry))
      zout.write(content.getBytes("UTF-8"))
      zout.closeEntry()
    }
    zout.close()
  }

  test("unzipEntries fans zip members out as rows") {
    val dir = tmpDir("zips")
    makeZip(dir, "a.zip", Map("x.json" -> """{"v":1}""", "y.json" -> """{"v":2}"""))
    makeZip(dir, "b.zip", Map("z.json" -> """{"v":3}"""))
    val got = ZipIngest.unzipEntries(spark, dir)
    assert(got.count() == 3)
    val names = got.select($"entry_name").as[String].collect().sorted
    assert(names.toSeq == Seq("x.json", "y.json", "z.json"))
    val z = got.filter($"entry_name" === "z.json")
      .select($"content").as[Array[Byte]].head()
    assert(new String(z, "UTF-8") == """{"v":3}""")
  }

  test("non-zip files are ignored by the glob") {
    val dir = tmpDir("zips2")
    makeZip(dir, "a.zip", Map("x.json" -> "{}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "noise.txt"), "nope")
    assert(ZipIngest.unzipEntries(spark, dir).count() == 1)
  }

  test("entryNames lists entries; readEntries reads only the named ones, literally") {
    val dir = tmpDir("zips3")
    makeZip(dir, "a[1].zip", Map("x.json" -> """{"v":1}""", "y.json" -> """{"v":2}"""))
    makeZip(dir, "b.zip", Map("z.json" -> """{"v":3}"""))
    // not a zip: no rows, as from an empty archive
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "junk.zip"), "<html>")
    val conf = spark.sparkContext.hadoopConfiguration
    val names = ZipIngest.archiveFiles(spark, dir).flatMap(a => ZipIngest.entryNames(a.path, conf).map(a.path -> _))
    assert(names.map(_._2).sorted.toSeq == Seq("x.json", "y.json", "z.json"))
    val a = names.collectFirst { case (zip, "x.json") => zip }.get
    val got = ZipIngest.readEntries(spark, Map(a -> Seq("y.json", "gone.json")))
      .as[(String, String, Array[Byte])].collect()
    assert(got.map(r => (r._1, r._2, new String(r._3, "UTF-8"))).toSeq ==
      Seq((a, "y.json", """{"v":2}""")))
  }

  test("archiveFiles lists exactly the archives unzipEntries scans") {
    val dir = tmpDir("zips4")
    makeZip(dir, "a.zip", Map("x.json" -> "{}"))
    makeZip(dir, "b {1}.zip", Map("y.json" -> "{}", "z.json" -> "{}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "noise.txt"), "nope")
    makeZip(dir, "_hidden.zip", Map("h.json" -> "{}"))
    makeZip(dir, ".dot.zip", Map("d.json" -> "{}"))
    Seq(dir, s"$dir/*").foreach { path =>
      val listed = ZipIngest.archiveFiles(spark, path)
      val scanned = ZipIngest.unzipEntries(spark, path).select($"zip_path").distinct().as[String].collect()
      assert(listed.map(_.path).sorted == scanned.toSeq.sorted, path)
      assert(listed.map(a => new org.apache.hadoop.fs.Path(a.path).getName).sorted ==
        Seq("a.zip", "b {1}.zip"), path)
      listed.foreach { a =>
        val f = new java.io.File(new org.apache.hadoop.fs.Path(a.path).toUri.getPath)
        assert(a.length == f.length() && a.modificationTime == f.lastModified(), a)
      }
    }
  }

  test("listFiles returns names and sizes without reading content") {
    val dir = "/root/testdata/sf0.001"
    val got = ZipIngest.listFiles(spark, dir, "*.parquet")
    assert(got.count() == 10)
    assert(got.filter($"file_name" === "lineitem.parquet").head.getLong(1) > 0)
  }
}
