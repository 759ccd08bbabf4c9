package graft.sources

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils

/** Hadoop's checksummed local file system, except that setting a
  * permission is one `chmod` system call instead of a forked process.
  *
  * Without the native hadoop library (`libhadoop`),
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand`, and every permissioned `mkdirs` and every file
  * `create` calls it: a parquet file in a new dir forks three processes
  * (dir, file, `.crc`). A sink commit, which writes one parquet file per
  * dirty bucket, thus spends most of its write stage creating
  * processes. Here the mode is set through
  * `java.nio.file.Files.setPosixFilePermissions`; the checksum layer is
  * Hadoop's own `LocalFileSystem`, so `.crc` files, file names and
  * modes are exactly what the stock file system writes.
  *
  * Use it per write, never per session: [[LocalFs.writeOptions]] for a
  * `DataFrameWriter`, [[LocalFs.fileSystem]] on the driver.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  /** Never onto an existing file, as the `FileSystem` contract (and
    * HDFS) has it: a POSIX rename would replace the file, and a
    * manifest publish would then overwrite another writer's manifest.
    */
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)

  /** Rename `src` onto `dst`, replacing a file there: one POSIX rename
    * of the file, then one of its `.crc`.
    */
  def replace(src: Path, dst: Path): Boolean = super.rename(src, dst)
}

object LocalFs {
  /** `RawLocalFileSystem` with a fork-free [[setPermission]]. It falls
    * back to the stock (forking) call for what NIO cannot express
    * exactly: a sticky or set-id mode, a directory carrying set-id bits
    * (the stock `chmod 0755` keeps them on a directory, a `chmod`
    * system call clears them) and a file store without POSIX modes.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      val viaNio = (mode & ~PermissionBits) == 0 && (try {
        if (keepsSetIdBits(file)) false
        else { Files.setPosixFilePermissions(file, posix(mode)); true }
      } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false })
      if (!viaNio) super.setPermission(p, permission)
    }
  }

  private val PermissionBits = Integer.parseInt("777", 8)
  private val SetIdBits = Integer.parseInt("6000", 8)

  /** A directory whose set-user-id or set-group-id bit is set. */
  private def keepsSetIdBits(file: NioPath): Boolean = {
    val attrs = Files.readAttributes(file, "unix:mode,isDirectory")
    attrs.get("isDirectory") == true && (attrs.get("mode").asInstanceOf[Int] & SetIdBits) != 0
  }

  /** The permission set of the low nine mode bits. `PosixFilePermission`
    * declares owner read … others execute, i.e. mode bit 8 down to 0.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode >> (8 - p.ordinal) & 1) == 1) set.add(p))
    set
  }

  /** `DataFrameWriter` options that write this one job's `file:` paths
    * through [[LocalFs]]. Spark merges writer options into the Hadoop
    * conf of that write only, and only `file:` paths read
    * `fs.file.impl`, so HDFS and object-store paths are unaffected.
    * The cache switch keeps the job's instance out of Hadoop's shared
    * `FileSystem` cache (keyed by scheme, not by conf), so no other
    * caller is handed it.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The driver-side file system of `path`: a fresh [[LocalFs]] for a
    * `file:` path, the path's usual (cached) file system otherwise.
    */
  def fileSystem(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (fs.getScheme != "file") fs
    else {
      // as FileSystem.get builds one: setConf (checksum size), then initialize
      val local = ReflectionUtils.newInstance(classOf[LocalFs], conf)
      local.initialize(fs.getUri, conf)
      local
    }
  }
}
