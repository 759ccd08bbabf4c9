package graft.sources

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Structured Streaming's checkpoint files — the offset and commit logs
  * and a file source's log — written through [[LocalFs]] when the
  * checkpoint is on the local file system.
  *
  * Spark's default manager goes through Hadoop's `FileContext`. On the
  * stock local file system without `libhadoop` every log file it
  * writes forks ten processes (two `chmod`, eight `readlink`), about
  * 35 ms each for the offset log, the commit log and a file source's
  * log of every micro-batch. Here a `file:` checkpoint goes through
  * Spark's `FileSystem`-based manager over [[LocalFs]]: a log file is
  * one temp-file write and one rename, with the same file names, the
  * same `.crc` sidecars and the same bytes, so a checkpoint written by
  * either manager restarts under the other. Any other scheme keeps
  * Spark's default manager.
  *
  * Enabled per session by [[LocalFsCheckpointFileManager.ConfKey]], which
  * only [[MicroBatch]]'s stream sessions set.
  */
class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private[graft] val underlying: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getScheme == "file")
      new LocalFsCheckpointFileManager.Local(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalFsCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalFsCheckpointFileManager {
  /** The session setting Spark reads the checkpoint manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's `FileSystem`-based manager over a [[LocalFs]] of its own. */
  private[graft] final class Local(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, withLocalFs(hadoopConf)) {
    def fileSystem: FileSystem = fs

    /** [[LocalFs.rename]] refuses an existing destination, on which
      * Spark's manager would silently keep the old file; an overwrite
      * replaces it instead. A refused rename deletes the temp file,
      * which Spark's output stream would leave behind.
      */
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      try {
        if (!overwriteIfPossible) super.renameTempFile(src, dst, overwriteIfPossible)
        else if (!fs.asInstanceOf[LocalFs].replace(src, dst))
          throw new IOException(s"failed to rename $src onto $dst")
      } catch {
        case e: IOException =>
          fs.delete(src, false)
          throw e
      }
  }

  private def withLocalFs(hadoopConf: Configuration): Configuration = {
    val conf = new Configuration(hadoopConf)
    LocalFs.writeOptions.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}
