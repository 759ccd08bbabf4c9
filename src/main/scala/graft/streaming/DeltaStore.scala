package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sources.{LocalFs, ManifestLog}

/** A persisted, append-per-batch parquet delta store with idempotent
  * replay and crash-safe compaction — the one storage substrate of the
  * streaming jobs: additive keyed states (such as [[StreamingVocabJob]]'s
  * vocabulary), indexes and code tables (the dedup jobs' band and hash
  * indexes, [[StreamingAnnIngestJob]]'s codes), per-batch logs
  * ([[DeltaStore.log]]) and, through [[DeltaStore.frozenModel]], the
  * fit-once models.
  *
  * One instance == one [[graft.sources.ManifestLog]] in its live
  * directory `root/name` (so several stores can share one root), with
  * the sink's commit protocol: data goes to a fresh dir, and one
  * manifest rename publishes it. A manifest lists the store's batch
  * dirs and its compacted fold, records the schema they are read with,
  * and records the high-water batch id (`#through`):
  *
  *   - an append of a batch id above the high-water mark writes the
  *     batch's rows and publishes a manifest that adds its dir; one at
  *     or below it is a replay of an applied batch and is skipped, its
  *     delta never evaluated;
  *   - [[compact]] writes `fold(deltas)` to a fresh dir and publishes a
  *     manifest that lists only the fold;
  *   - reads scan exactly the listed dirs, so a dir a crash left
  *     unpublished is never read, and a later publish vacuums it.
  *
  * A crash at any point before a publish leaves the previous manifest
  * the store, and the replay applies the batch once.
  *
  * A store written before manifests (`batch=<id>` dirs that count once
  * their `_SUCCESS` exists, a `_compacted_through` marker, a compaction
  * crash at `_pre_compact_<name>` or at the shared `_pre_compact`) is
  * adopted on its first access: the slot is restored, and manifest 0
  * lists the committed batch dirs, with the high-water mark at the
  * highest of their ids and the marker.
  *
  * `fold` is what compaction applies and what [[state]] reads: a
  * per-key sum-combine for additive states ([[DeltaStore.additive]] —
  * sum-of-sums equals the sum, so compaction never changes the read),
  * the identity for row sets (indexes, code tables, logs).
  *
  * Every file (appends, the compacted fold, markers, models) is written
  * through [[graft.sources.LocalFs]], which sets modes without forking
  * `chmod`.
  *
  * Single-writer discipline: call [[append]]/[[appendOnce]]/[[compact]]
  * only from the stream's own foreachBatch callback.
  */
class DeltaStore(spark: SparkSession, root: String, name: String,
                 columns: Seq[String], compactEvery: Int,
                 fold: DataFrame => DataFrame) {

  private lazy val fs = LocalFs.fileSystem(new Path(root), spark.sparkContext.hadoopConfiguration)
  private lazy val log = new ManifestLog(fs, new Path(root, name), retain = 2)

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /** Pin what the rows were built with (`root/markerName`): the hash
    * family of a dedup index, the geometry of a quantized one. A
    * mismatch fails loudly and asks for a rebuild instead of silently
    * joining old and new rows into zero matches. A store with rows but
    * no marker is refused too (stamping a store of unknown provenance
    * would turn that loud failure into zero matches), unless
    * `stampUnmarked`, which stamps it.
    */
  def checkOrWriteFormat(markerName: String, format: String, stampUnmarked: Boolean = false): Unit = {
    val marker = new Path(root, markerName)
    if (fs.exists(marker)) {
      val found = readText(marker)
      if (found != format) throw new IllegalStateException(
        s"index at $root was built with '$found' but this job writes '$format' — rebuild the index")
    } else if (!stampUnmarked && readDeltas().isDefined) {
      throw new IllegalStateException(
        s"index at $root has no format marker — rebuild it (or, " +
          s"if it is KNOWN to be '$format', write that to $markerName)")
    } else {
      val out = fs.create(marker, true)
      try out.write((format + "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  /** The newest manifest (version -1, listing nothing, before the
    * first commit); a store in the layout from before manifests is
    * adopted first (see the class doc).
    */
  private def manifest(): ManifestLog.Manifest = log.latest().orElse(
    log.adopt(Seq(new Path(root, s"_pre_compact_$name"), new Path(root, "_pre_compact"))) {
      val marker = new Path(log.dir, "_compacted_through")
      val ids = DeltaStore.committedBatches(fs, log.dir).map(_.getName.stripPrefix("batch=").toLong).sorted
      val through = ((if (fs.exists(marker)) readText(marker).toLong else -1L) +: ids).max
      (Seq(DeltaStore.Through -> through.toString), ids.map(id => id.toString -> s"batch=$id"))
    }).getOrElse(ManifestLog.Manifest(-1, Map.empty, Seq.empty))

  private def through(m: ManifestLog.Manifest): Long = m.meta.get(DeltaStore.Through).fold(-1L)(_.toLong)

  /** The high-water batch id: every batch at or below it has been
    * applied (and may have been folded), so its replay is skipped; -1
    * before any batch.
    */
  private[graft] def compactedThrough(): Long = through(manifest())

  /** Dirs the newest manifest lists: batch dirs plus the fold. */
  private[graft] def batchDirCount(): Int = manifest().entries.size

  /** The raw accumulated deltas, if any batch committed. */
  def readDeltas(): Option[DataFrame] = deltas(manifest())

  private def deltas(m: ManifestLog.Manifest): Option[DataFrame] =
    if (m.entries.isEmpty) None
    else Some(log.scan(spark, m.entries.map(_._2),
      m.meta.get("#schema").map(DataType.fromJson(_).asInstanceOf[StructType])).select(columns.map(col): _*))

  /** The folded state, if any batch committed. */
  def state(): Option[DataFrame] = readDeltas().map(fold)

  /** Append a batch's rows, unless the batch id is at or below the
    * high-water mark (an at-least-once replay), then fold once enough
    * dirs accumulate. The trigger is the OBSERVED dir count, not
    * `batchId % N`: replayed or skipped batch ids can't starve (or
    * double-run) the policy.
    */
  def append(delta: DataFrame, batchId: Long): Unit = appendOnce(delta, batchId)

  /** [[append]] with at-most-once COMPUTATION: a replay never evaluates
    * the by-name `delta`. This is what a NON-additive producer needs: a
    * delta computed against pre-batch state would be recomputed WRONG
    * on a replay that runs after the state has already advanced, so the
    * first durable write must win.
    */
  def appendOnce(delta: => DataFrame, batchId: Long): Unit = {
    val last = manifest()
    if (batchId > through(last))
      publish(last.version + 1, delta.select(columns.map(col): _*), batchId, last.entries, batchId.toString)
    if (batchDirCount() >= compactEvery) compact()
  }

  /** Fold the listed dirs into one fresh dir, published as the only
    * entry of the next manifest.
    */
  def compact(): Unit = {
    val m = manifest()
    deltas(m).foreach(d => publish(m.version + 1, fold(d), through(m), Seq.empty, "fold"))
  }

  /** Write `rows` to a fresh dir and publish manifest `version`: `kept`
    * plus that dir under `key`, with high-water mark `highWater`.
    */
  private def publish(version: Long, rows: DataFrame, highWater: Long,
                      kept: Seq[(String, String)], key: String): Unit = {
    val attempt = log.begin(version)
    rows.write.options(LocalFs.writeOptions).parquet(new Path(log.dir, attempt.dir).toString)
    log.publish(attempt, Seq("#schema" -> rows.schema.json, DeltaStore.Through -> highWater.toString),
      kept :+ (key -> attempt.dir))
  }
}

object DeltaStore {
  private val Success = "_SUCCESS"
  private val Through = "#through"

  /** [[LocalFs.writeOptions]], plus the `_SUCCESS` marker that
    * [[committed]] reads, whatever the session's committer conf says.
    */
  private[graft] val writeOptions =
    LocalFs.writeOptions + ("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "true")

  /** Whether a Spark write of `dir` committed: its `_SUCCESS` marker is
    * the job commit's last step.
    */
  private def committed(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, Success))

  /** The committed `batch=<id>` dirs under `dir`: those whose
    * `_SUCCESS` marker exists.
    */
  private[graft] def committedBatches(fs: FileSystem, dir: Path): Seq[Path] =
    Option(fs.globStatus(new Path(dir, s"batch=*/$Success"))).toSeq.flatten.map(_.getPath.getParent)

  /** An additive keyed state: `fold` is one sum-combine per key. */
  def additive(spark: SparkSession, root: String, name: String,
               keyCols: Seq[String], sumCols: Seq[String], compactEvery: Int): DeltaStore =
    new DeltaStore(spark, root, name, keyCols ++ sumCols, compactEvery,
      _.groupBy(keyCols.map(col): _*)
        .agg(sum(sumCols.head).as(sumCols.head), sumCols.tail.map(c => sum(c).as(c)): _*))

  /** A per-batch log: one dir per batch, never compacted,
    * so writing a batch costs that batch alone.
    */
  def log(spark: SparkSession, root: String, name: String, columns: Seq[String]): DeltaStore =
    new DeltaStore(spark, root, name, columns, Int.MaxValue, identity)

  /** A fit-once model whose parts live at `root/<part>`. It is present
    * once every part has committed, and then frozen: each call reads
    * it. Otherwise `fit` runs (`None`: nothing to fit from yet) and all
    * its parts, in `parts` order, are written over whatever a crashed
    * fit left. A dir written by a plain `df.write.parquet` carries
    * `_SUCCESS`, so such a model is adopted as it is.
    */
  def frozenModel(spark: SparkSession, root: String, parts: String*)(
      fit: => Option[Seq[DataFrame]]): Option[Seq[DataFrame]] = {
    val dirs = parts.map(new Path(root, _))
    val fs = LocalFs.fileSystem(new Path(root), spark.sparkContext.hadoopConfiguration)
    def read = dirs.map(d => spark.read.parquet(d.toString))
    if (dirs.forall(committed(fs, _))) Some(read)
    else fit.map { frames =>
      frames.zip(dirs).foreach { case (f, d) =>
        f.write.options(writeOptions).mode("overwrite").parquet(d.toString) }
      read
    }
  }
}
