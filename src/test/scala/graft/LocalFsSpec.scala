package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{input_file_name, regexp_extract}

import graft.core.NioLocalFileSystem
import graft.pipelines.Clean

/** The `file:` scheme of every Hadoop conf in a graft JVM is
  * [[graft.core.NioLocalFileSystem]], which writes without starting a
  * process and leaves the same permission bits as Hadoop's own. */
class LocalFsSpec extends SparkTestBase {

  private def freshDir(name: String): java.io.File = {
    val d = new java.io.File(s"target/test_local_fs/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    Files.createDirectories(d.toPath).toFile
  }

  test("file: resolves to NioLocalFileSystem under a plain and the session's conf") {
    Seq(new Configuration(), spark.sparkContext.hadoopConfiguration).foreach { conf =>
      assert(FileSystem.getFileSystemClass("file", conf) == classOf[NioLocalFileSystem])
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    }
  }

  test("the daily hand-off write of 30 sources and the clean parquet write " +
      "start no process") {
    val root = freshDir("writes")
    val rawDir = Files.createDirectories(root.toPath.resolve("raw"))
    (0 until 30).foreach { i =>
      Files.writeString(rawDir.resolve(
        s"glassdoor-job-scrapping01-01-2024-data-engineer-city$i.csv"),
        PipelineFixtures.RawCsv)
    }
    val raw = spark.read.option("header", "true").csv(rawDir.toString)
      .withColumn("__src", regexp_extract(input_file_name(),
        "scrapping01-01-2024-([^/]+)\\.csv", 1))
    val (_, handOff) = countProcessStarts {
      raw.write.partitionBy("__src").option("header", "true")
        .csv(s"$root/raw_parts")
    }
    assert(new java.io.File(s"$root/raw_parts").list()
      .count(_.startsWith("__src=")) == 30)
    val (_, clean) = countProcessStarts {
      Clean.run(spark, rawDir.toString).write.parquet(s"$root/clean")
    }
    assert(spark.read.parquet(s"$root/clean").count() == 30 * 3)
    assert((handOff, clean) == ((0, 0)))
  }

  test("permission bits of create and mkdirs equal Hadoop's RawLocalFileSystem's") {
    val conf = new Configuration()
    def checksummed(raw: RawLocalFileSystem): LocalFileSystem = {
      val fs = new LocalFileSystem(raw)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
    def mode(p: Path): Int =
      Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff
    def octal(s: String): Int = Integer.parseInt(s, 8)
    val perms = Seq(None, Some("640"), Some("750"), Some("700"))
    // (file, its checksum file, directory) bits per permission.
    def modes(name: String, raw: RawLocalFileSystem): Seq[(Int, Int, Int)] = {
      val fs = checksummed(raw)
      val dir = new Path(freshDir(name).getAbsoluteFile.toURI)
      perms.zipWithIndex.map { case (perm, i) =>
        val f = new Path(dir, s"f$i")
        val d = new Path(dir, s"d$i")
        val out = perm.fold(fs.create(f))(x => fs.create(f, new FsPermission(x),
          true, 4096, 1.toShort, 1L << 26, null))
        out.write(1)
        out.close()
        perm.fold(fs.mkdirs(d))(x => fs.mkdirs(d, new FsPermission(x)))
        (mode(f), mode(fs.getChecksumFile(f)), mode(d))
      }
    }
    val hadoop = modes("hadoop", new RawLocalFileSystem)
    val nio = modes("nio", new NioLocalFileSystem.Raw)
    assert(nio == hadoop)
    assert(nio.tail.map(_._1) == perms.flatten.map(octal))

    val fs = checksummed(new NioLocalFileSystem.Raw)
    val sticky = new Path(freshDir("sticky").getAbsoluteFile.toURI)
    fs.setPermission(sticky, new FsPermission("1777"))
    assert(mode(sticky) == octal("1777"))
  }
}
