package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.streaming.Trigger

import graft.{Materialize, Sessions, SparkSpec}
import graft.llm.IndexStore
import graft.streaming.EventStreams

/** graft's `file://` filesystem: the session resolves both Hadoop APIs
  * to it, its writes start no `chmod` or `readlink` process, and its raw
  * layer leaves the same modes and reports the same link statuses as
  * Hadoop's stock raw local filesystem.
  */
class LocalFsSpec extends SparkSpec {

  private def raws(): Seq[RawLocalFileSystem] =
    Seq(new GraftRawLocalFileSystem, new RawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), new Configuration())
      fs
    }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Full mode bits (sticky included) of a local path. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] &
      oct("7777")

  /** Commands of the process starts `body` makes, in order. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("local_fs_spec", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  test("the session resolves file:// to graft's filesystem on both the " +
       "FileSystem and the FileContext API") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }

  test("a bucketed IndexStore publish, a CSV write, a stateful " +
       "AvailableNow stream on RocksDB and a reliable checkpoint start no " +
       "chmod or readlink process") {
    import spark.implicits._
    val dir = tmpDir("local_fs_spec")
    val forks = processStarts {
      IndexStore.saveFingerprintIndex(
        (1L to 200L).map(i => (i * 7919L % 1000L, i)).toDF("fp", "corpus_id"),
        "local_fs_spec_fp", dir = Some(s"$dir/fp"))
      Tsv.writeCsv(Seq((1, "a"), (2, "b")).toDF("id", "text"), s"$dir/csv")
      spark.range(100).selectExpr("id % 7 AS k").write.parquet(s"$dir/src")
      val q = Sessions.withConf(
          spark.readStream.schema("k LONG").parquet(s"$dir/src")
            .groupBy("k").count(),
          EventStreams.RocksDbState) { _.writeStream
        .format("noop").outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      spark.sparkContext.setCheckpointDir(s"$dir/rdd_ckpt")
      Sessions.withConf(spark, Materialize.ReliableKey -> "true") { spark =>
        assert(Materialize(spark.range(10).toDF("x")).count() == 10)
      }
    }
    val names = forks.map(c => new File(c.split(" ").head).getName)
    assert(!names.exists(Set("chmod", "readlink")),
      s"${names.count(_ == "chmod")} chmod and " +
      s"${names.count(_ == "readlink")} readlink process starts")
    assert(IndexStore.loadFingerprintIndex(spark, "local_fs_spec_fp",
      Some(s"$dir/fp")).count() == 200)
    assert(new File(s"$dir/ckpt/commits/0").isFile)
  }

  test("create, mkdirs and setPermission (0640, 0700, sticky 01777) " +
       "leave the same modes as Hadoop's raw local filesystem") {
    val modes = raws().map { fs =>
      val d = tmpDir("local_fs_modes")
      val umask = FsPermission.getUMask(fs.getConf)
      fs.create(new Path(s"$d/f"),
        FsCreateModes.applyUMask(FsPermission.getFileDefault, umask),
        true, 4096, 1.toShort, 1L << 25, null).close()
      fs.mkdirs(new Path(s"$d/a/b"))
      fs.create(new Path(s"$d/g"), true).close()
      fs.setPermission(new Path(s"$d/g"), new FsPermission("640"))
      fs.mkdirs(new Path(s"$d/p"))
      fs.setPermission(new Path(s"$d/p"), new FsPermission("700"))
      fs.mkdirs(new Path(s"$d/t"))
      fs.setPermission(new Path(s"$d/t"), new FsPermission(oct("1777").toShort))
      Seq("f", "a", "a/b", "g", "p", "t").map(n => n -> mode(s"$d/$n"))
    }
    assert(modes(0) == modes(1))
    assert(modes(0).toMap.view.filterKeys(Set("f", "g", "p", "t")).toMap ==
      Map("f" -> oct("644"), "g" -> oct("640"), "p" -> oct("700"),
          "t" -> oct("1777")))
  }

  test("getFileLinkStatus of a file, a directory, a symlink and a " +
       "dangling symlink matches Hadoop's: isSymlink, target, length, " +
       "or the exception") {
    val d = tmpDir("local_fs_links")
    Files.writeString(Paths.get(s"$d/f"), "twelve bytes")
    Files.createDirectory(Paths.get(s"$d/dir"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/f"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
    val paths = Seq("f", "dir", "link", "dangling")
      .flatMap(n => Seq(new Path(s"$d/$n"), new Path(s"file://$d/$n")))
    val statuses = raws().map { fs =>
      paths.map(p => p.toString -> Try(fs.getFileLinkStatus(p)).map { st =>
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
         st.getLen)
      }.recover { case e => e.getClass.getName })
    }
    assert(statuses(0) == statuses(1))
    // Hadoop reads the link of the path string as a local file, so a
    // qualified path is never a link and a dangling one does not exist
    assert(statuses(0).collect { case (p, Success((true, _, _))) => p } ==
      Seq(s"$d/link", s"$d/dangling"))
    assert(statuses(0).collect { case (p, Success(_: String)) => p } ==
      Seq(s"file:$d/dangling"))
  }
}
