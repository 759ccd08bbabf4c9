package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A directory's transaction log, the property Delta's log gives a
  * table: numbered manifests, each naming the immutable data dirs that
  * make up one committed version. It is the one commit protocol of
  * [[graft.cdc.ParquetUpsertSink]] and [[graft.streaming.DeltaStore]].
  * {{{
  *   dir/
  *     _manifest.v<k>                 version k: "#key<TAB>value" metadata
  *                                    lines, then one "key<TAB>relative/dir"
  *                                    line per entry; highest k wins
  *     v<k>-<attempt>/                data an attempt wrote for version k
  *     _tmp-manifest-<k>-<attempt>    that attempt's manifest before its
  *                                    publishing rename
  * }}}
  *
  * Commit: a writer takes a fresh [[Attempt]] of the next version (its
  * data dir is unique even if two writers race one version), writes
  * its data there, and [[publish]]es by renaming the staged manifest to
  * `_manifest.v<k>`. The rename is the commit: it is atomic on HDFS and
  * POSIX, and [[LocalFs]] never renames onto an existing file, so of
  * two writers racing one version exactly one publishes (on an object
  * store, swap this one call for a conditional PUT). A crash at any
  * point before it leaves the previous manifest the newest one; the
  * crashed attempt's dir and staged manifest are orphans that a later
  * publish vacuums. Data dirs are never rewritten in place, so a
  * reader planned against a retained version always finds its files.
  *
  * Reads scan exactly the dirs a manifest lists ([[scan]]), listing
  * each once on the driver: no Spark listing job, however many dirs.
  */
final class ManifestLog(fs: FileSystem, val dir: Path, retain: Int) {
  import ManifestLog._

  /** (version, manifest file) of every published manifest, ascending. */
  def versions(): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath).collect {
      case p if ManifestRe.matches(p.getName) => (p.getName.stripPrefix("_manifest.v").toLong, p)
    }.sortBy(_._1)

  /** Parse one manifest. Metadata keys a reader does not know are
    * carried, never an error, so a newer writer's lines never break an
    * older reader.
    */
  def read(version: Long, file: Path): Manifest = {
    val in = fs.open(file)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    val (metaLines, entryLines) = lines.partition(_.startsWith("#"))
    Manifest(version,
      metaLines.map { l => val (k, v) = l.span(_ != '\t'); k -> v.drop(1) }.toMap,
      entryLines.map { l => val Array(k, d) = l.split('\t'); k -> d })
  }

  /** The newest published manifest. */
  def latest(): Option[Manifest] = versions().lastOption.map { case (v, p) => read(v, p) }

  /** A fresh attempt at `version`, refused BEFORE any file is written
    * if that version is already published (a single-writer violation).
    */
  def begin(version: Long): Attempt = {
    if (fs.exists(manifestFile(version)))
      throw new IllegalStateException(s"version $version already committed at $dir (concurrent writer?)")
    Attempt(version, java.util.UUID.randomUUID().toString.take(8))
  }

  /** Commit `attempt`: stage its manifest (the `meta` lines in order,
    * then the `entries`), publish it by one rename, then [[vacuum]].
    */
  def publish(attempt: Attempt, meta: Seq[(String, String)], entries: Seq[(String, String)]): Unit = {
    // staged under the attempt's own name: a writer racing this version
    // can neither overwrite it nor get it published as its own
    val tmp = new Path(dir, s"_tmp-manifest-${attempt.version}-${attempt.id}")
    val out = fs.create(tmp, true)
    try out.write((meta.map { case (k, v) => s"$k\t$v\n" }.mkString +
      entries.map { case (k, d) => s"$k\t$d" }.mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, manifestFile(attempt.version)))
      throw new IllegalStateException(
        s"manifest commit for version ${attempt.version} at $dir failed (concurrent writer?)")
    vacuum(attempt.version)
  }

  /** Publish version 0 over a dir written before it had a log, once: if
    * the dir is absent, the first existing slot is renamed into place;
    * then `first` (its metadata and entries) is published. None when
    * there is nothing to adopt.
    */
  def adopt(slots: Seq[Path])(first: => (Seq[(String, String)], Seq[(String, String)])): Option[Manifest] = {
    if (!fs.exists(dir)) slots.find(fs.exists).foreach { slot =>
      if (!fs.rename(slot, dir)) throw new IllegalStateException(s"could not restore $slot to $dir")
    }
    if (!fs.exists(dir)) None
    else {
      val (meta, entries) = first
      publish(begin(0), meta, entries)
      Some(Manifest(0, meta.toMap, entries))
    }
  }

  /** Drop what no reader can reach after `version` published: the data
    * dirs (or, for a dir whose subdirs are listed, the subdirs) that no
    * retained manifest (the `retain` newest) lists, the manifests that
    * aged out of that window, and staged manifests of this version or
    * older (this version is taken). A `v<k>` dir of this version or a
    * newer one may be a racing writer's and is left alone. Everything a
    * retained manifest lists stays, so a reader that planned against any
    * retained version still finds its files.
    */
  private def vacuum(version: Long): Unit = {
    val referenced = versions().filter(_._1 > version - retain)
      .flatMap { case (v, p) => read(v, p).entries.map(_._2) }.toSet
    fs.listStatus(dir).toSeq.foreach { st =>
      val name = st.getPath.getName
      name match {
        case ManifestRe(v) if v.toLong <= version - retain => fs.delete(st.getPath, false)
        case StagedRe(v) if v.toLong <= version => fs.delete(st.getPath, false)
        case DataRe(v) if v.toLong >= version => ()
        case _ if st.isDirectory && !name.startsWith("_") && !name.startsWith(".") && !referenced(name) =>
          val inside = referenced.filter(_.startsWith(s"$name/"))
          if (inside.isEmpty) fs.delete(st.getPath, true)
          else fs.listStatus(st.getPath).foreach { sub =>
            if (sub.isDirectory && !inside(s"$name/${sub.getPath.getName}")) fs.delete(sub.getPath, true)
          }
        case _ => ()
      }
    }
  }

  /** The listed dirs (relative to [[dir]]) as one parquet frame, read
    * with `schema`: columns missing from older files null-fill, where
    * parquet's own schema sampling could silently drop a newer column.
    * Without a schema (a manifest written before it recorded one) it
    * comes from one file footer. File sources read every column as
    * nullable; so does this scan.
    */
  def scan(spark: SparkSession, relDirs: Seq[String], schema: Option[StructType]): DataFrame = {
    val index = new ManifestFileIndex(fs, relDirs.sorted.map(new Path(dir, _)))
    val dataSchema = schema.orElse(index.files.headOption
      .map(f => spark.read.parquet(f.getPath.toString).schema)).getOrElse(
      throw new IllegalStateException(s"$dir is empty and its manifest carries no schema"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      dataSchema.toNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Data bytes of one listed dir (relative to [[dir]]). */
  def bytes(relDir: String): Long = dataFiles(fs, new Path(dir, relDir)).map(_.getLen).sum

  private def manifestFile(version: Long) = new Path(dir, s"_manifest.v$version")
}

object ManifestLog {
  private val ManifestRe = """_manifest\.v(\d+)""".r
  // unsuffixed: a build's that staged every attempt at one shared name
  private val StagedRe = """_tmp-manifest-(\d+)(?:-[0-9a-f]+)?""".r
  private val DataRe = """v(\d+)(?:-[0-9a-f]+)?""".r

  /** One published manifest: its metadata lines and its entries, in
    * file order.
    */
  final case class Manifest(version: Long, meta: Map[String, String], entries: Seq[(String, String)])

  /** One writer's try at `version`; [[dir]] is where its data goes. */
  final case class Attempt(version: Long, id: String) {
    def dir: String = s"v$version-$id"
  }

  /** A dir's data files, skipping hidden and metadata names as Spark's
    * own listing does (`_SUCCESS`, `.crc` checksums, in-flight copies).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.filter { st =>
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
  }

  /** File index over the dirs one manifest lists. Published dirs are
    * immutable, so their leaf files are listed once, on the driver, with
    * one `listStatus` per dir — no Spark listing job, which
    * `spark.read.parquet` launches once a read spans more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths — and
    * [[refresh]] has nothing to do.
    */
  private final class ManifestFileIndex(fs: FileSystem, dirs: Seq[Path]) extends FileIndex {
    val files: Seq[FileStatus] = dirs.flatMap(dataFiles(fs, _))

    override def rootPaths: Seq[Path] = dirs
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
