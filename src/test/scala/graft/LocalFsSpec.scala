package graft

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.ParquetUpsertSink
import graft.sources.LocalFs
import graft.streaming.{DeltaStore, StreamingKnnMaintainJob}

class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def octal(s: String) = Integer.parseInt(s, 8)

  /** Mode bits (permissions plus sticky and set-id) of a file or dir. */
  private def modeOf(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Every path under `root` (itself excluded), relative, with its mode. */
  private def modes(root: String): Map[String, Int] = {
    val base = new java.io.File(root).toPath
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map(p => base.relativize(p).toString -> modeOf(p)).toMap
    finally walk.close()
  }

  private def frame = {
    import spark.implicits._
    Seq((1L, "c", 10L, 1L, "signup", 1.0), (2L, "c", 10L, 2L, "signup", 2.0),
        (3L, "c", 10L, 3L, "click", 3.0))
      .toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value")
  }

  test("a sink merge and a DeltaStore append keep the modes and checksums of a plain write") { withFullBuckets {
      val tmp = Files.createTempDirectory("graft-localfs-modes").toString
      frame.write.parquet(s"$tmp/plain")
      val plain = modes(s"$tmp/plain")
      val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
      sink.merge(frame, 0)
      sink.merge(frame.limit(1), 1)
      new DeltaStore(spark, tmp, "store", frame.columns.toSeq, 16, identity).append(frame, 0)
      // a bootstrap model, a per-batch log, a geometry marker and the
      // dynamic-overwrite edge partitions
      new StreamingKnnMaintainJob(spark, s"$tmp/knn")
        .processBatch(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), 0)

      val (plainDirs, plainFiles) = plain.partition { case (p, _) => new java.io.File(s"$tmp/plain/$p").isDirectory }
      assert(plainDirs.isEmpty && plainFiles.values.toSet.size == 1,
        s"a plain write is one flat dir of files sharing one mode: $plain")
      val fileMode = plainFiles.values.head
      val dirMode = modeOf(new java.io.File(s"$tmp/plain").toPath)
      for (root <- Seq(s"$tmp/state", s"$tmp/store", s"$tmp/knn")) {
        val written = modes(root)
        written.foreach { case (p, m) =>
          val f = new java.io.File(s"$root/$p")
          assert(m === (if (f.isDirectory) dirMode else fileMode), s"mode of $root/$p")
          if (f.isFile && !f.getName.endsWith(".crc"))
            assert(new java.io.File(f.getParent, s".${f.getName}.crc").isFile,
              s"$root/$p has its checksum, as the stock file system writes it")
        }
        assert(written.keys.exists(_.endsWith(".parquet")), s"$root holds data files")
      }
      assert(modes(s"$tmp/state").keys.exists(_.startsWith("_manifest.v1")))
      assert(Seq("centroids", "assigned/_manifest.v0", "edges", "_knn_geometry").forall(modes(s"$tmp/knn").contains))
  }}

  test("setPermission round-trips plain modes and still sets a sticky or set-id mode") {
    val tmp = Files.createTempDirectory("graft-localfs-chmod")
    val fs = LocalFs.fileSystem(new Path(tmp.toUri), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFs])
    val file = new Path(tmp.resolve("f").toUri)
    fs.create(file).close()
    for (m <- Seq("644", "600", "755", "000", "777")) {
      fs.setPermission(file, new FsPermission(octal(m).toShort))
      assert(modeOf(tmp.resolve("f")) === octal(m), s"file mode $m")
    }
    val dir = tmp.resolve("d")
    assert(fs.mkdirs(new Path(dir.toUri)))
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort))
    assert(modeOf(dir) === octal("1777"), "a sticky mode goes through the stock fallback")
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("755").toShort))
    assert(modeOf(dir) === octal("755"))
    // the stock `chmod 0755` keeps a directory's set-group-id bit
    assert(new ProcessBuilder("chmod", "2755", dir.toString).start().waitFor() === 0)
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("750").toShort))
    assert(modeOf(dir) === octal("2750"), "set-id bits of a directory survive, as with the stock call")
  }

  test("a rename never replaces an existing file") {
    val tmp = Files.createTempDirectory("graft-localfs-rename")
    val fs = LocalFs.fileSystem(new Path(tmp.toUri), spark.sparkContext.hadoopConfiguration)
    def put(name: String, text: String): Path = {
      val p = new Path(tmp.resolve(name).toUri)
      val out = fs.create(p)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      p
    }
    val (a, b, target) = (put("a", "A"), put("b", "B"), new Path(tmp.resolve("target").toUri))
    assert(fs.rename(a, target))
    assert(!fs.rename(b, target), "a second rename onto the target must fail")
    val in = fs.open(target)
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString === "A") finally in.close()
    assert(fs.exists(b))
  }

  test("the fork-free file system changes no session or Hadoop conf and no cached file system") {
    val tmp = Files.createTempDirectory("graft-localfs-conf").toString
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def snapshot() = (
      Option(hadoopConf.get("fs.file.impl")),
      Option(hadoopConf.get("fs.file.impl.disable.cache")),
      spark.conf.getAll,
      new Path(s"$tmp/plain").getFileSystem(hadoopConf).getClass.getName,
      FileSystem.get(new java.net.URI("file:///"), hadoopConf))
    val before = snapshot()
    new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4).merge(frame, 0)
    new DeltaStore(spark, tmp, "store", frame.columns.toSeq, 16, identity).append(frame, 0)
    val after = snapshot()
    assert(after._1 === before._1 && after._2 === before._2, "fs.file.impl keys of the Hadoop conf")
    assert(after._3 === before._3, "spark.conf")
    assert(after._4 === before._4 && after._4 != classOf[LocalFs].getName,
      "a plain path still gets the session's own file system")
    assert(after._5 eq before._5, "the cached local file system is the same instance")
  }
}
