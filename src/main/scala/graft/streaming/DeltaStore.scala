package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.sources.LocalFs

/** A persisted, append-per-batch parquet delta store with idempotent
  * replay and crash-safe compaction — the one storage substrate of the
  * streaming jobs: additive keyed states (such as [[StreamingVocabJob]]'s
  * vocabulary), indexes and code tables (the dedup jobs' band and hash
  * indexes, [[StreamingAnnIngestJob]]'s codes), per-batch logs
  * ([[DeltaStore.log]]) and, through [[DeltaStore.frozenModel]], the
  * fit-once models. One instance == one live directory `root/name`:
  *
  *   - rows append under `name/batch=<id>`, overwriting that dir, so a
  *     replayed batch rewrites its own rows;
  *   - [[compact]] writes `fold(deltas)` as one `batch=0` plus a
  *     `_compacted_through` marker into a staged dir and publishes both
  *     by one rename, so marker and folded rows commit atomically;
  *     appends at or below the marker are replays of already-folded
  *     batches and are skipped;
  *   - the publish is a two-rename swap: a crash between the renames
  *     leaves the full previous store at `_pre_compact_<name>`,
  *     restored by the next access ([[recoverIfNeeded]]), so no crash
  *     point loses rows.
  *
  * A part (a `batch=<id>` dir, a model part) counts as written only
  * once its `_SUCCESS` marker exists ([[DeltaStore.committed]]): a Spark
  * write that crashed leaves its dir holding only `_temporary`, so a
  * dir's existence is not a commit.
  *
  * `fold` is what compaction applies and what [[state]] reads: a
  * per-key sum-combine for additive states ([[DeltaStore.additive]] —
  * sum-of-sums equals the sum, so compaction never changes the read),
  * the identity for row sets (indexes, code tables, logs). Each store
  * has its OWN marker and staging slots, so several stores can share one
  * root: a replay that lands after one store's compaction but before
  * another's is skipped exactly where it was folded.
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
  private def liveDir = new Path(s"$root/$name")
  private def batchDir(batchId: Long) = new Path(liveDir, s"batch=$batchId")
  // staging slots are namespaced BY NAME: stores sharing one root must
  // not be able to rename each other's crashed slot into their live dir
  private def preCompactDir = new Path(s"$root/_pre_compact_$name")
  private def stagedDir = new Path(s"$root/_compacting_$name")
  // builds before the slots were namespaced staged at the shared
  // `_pre_compact`; only a store whose live dir is absent can own it
  private def legacyPreCompactDir = new Path(s"$root/_pre_compact")
  // lives INSIDE the live dir (underscore-prefixed → invisible to the
  // parquet reader) so the publish rename commits it with the rows
  private val compactedMarkerName = "_compacted_through"

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  private def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write((text + "\n").getBytes("UTF-8")) finally out.close()
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
    } else writeText(marker, format)
  }

  /** Restore a live dir displaced by a compaction that crashed between
    * its two renames: from this store's slot, else (one-time upgrade)
    * from the legacy shared slot — treating the store as empty instead
    * would silently lose every pre-crash row.
    */
  private def recoverIfNeeded(): Unit =
    if (!fs.exists(liveDir))
      Seq(preCompactDir, legacyPreCompactDir).find(fs.exists).foreach { slot =>
        if (!fs.rename(slot, liveDir)) throw new IllegalStateException(
          s"could not restore $slot to $liveDir after an interrupted compaction")
      }

  /** Highest batch id folded into `batch=0`; -1 before any compaction. */
  private[graft] def compactedThrough(): Long = {
    recoverIfNeeded()
    val m = new Path(liveDir, compactedMarkerName)
    if (fs.exists(m)) readText(m).toLong else -1L
  }

  /** Ids of the committed `batch=<id>` dirs. */
  private def batchIds(): Seq[Long] = {
    recoverIfNeeded()
    DeltaStore.committedBatches(fs, liveDir).map(_.getName.stripPrefix("batch=").toLong)
  }

  private[graft] def batchDirCount(): Int = batchIds().size

  /** The raw accumulated deltas, if any batch committed. */
  def readDeltas(): Option[DataFrame] =
    if (batchIds().isEmpty) None
    else Some(spark.read.parquet(liveDir.toString).select(columns.map(col): _*))

  /** The folded state, if any batch committed. */
  def state(): Option[DataFrame] = readDeltas().map(fold)

  /** Append a batch's rows (skipped if the id is already folded — an
    * at-least-once replay that crossed a compaction), then fold once
    * enough per-batch directories accumulate. The trigger is the
    * OBSERVED directory count, not `batchId % N`: replayed or skipped
    * batch ids can't starve (or double-run) the policy.
    */
  def append(delta: DataFrame, batchId: Long): Unit = write(delta, batchId, once = false)

  /** Append with at-most-once COMPUTATION: if `batchId` is already
    * folded (marker) or already committed (a crash mid-write leaves no
    * `_SUCCESS`, so a partial dir is rewritten), the by-name `delta` is
    * never evaluated. This is what a NON-additive producer needs: a delta computed against pre-batch
    * state would be recomputed WRONG on a replay that runs after the
    * state has already advanced, so the first durable write must win.
    */
  def appendOnce(delta: => DataFrame, batchId: Long): Unit = write(delta, batchId, once = true)

  private def write(delta: => DataFrame, batchId: Long, once: Boolean): Unit = {
    if (batchId > compactedThrough() &&
        !(once && DeltaStore.committed(fs, batchDir(batchId))))
      delta.write.options(DeltaStore.writeOptions).mode("overwrite").parquet(batchDir(batchId).toString)
    if (batchDirCount() >= compactEvery) compact()
  }

  /** Fold the per-batch directories into one `batch=0` (the
    * `batch=<n>` layout keeps later appends beside it without
    * conflicting with partition discovery). There IS a window between
    * the two renames where the live dir is absent — the full previous
    * store sits at `_pre_compact_<name>` throughout it.
    */
  def compact(): Unit = readDeltas().foreach { d =>
    // the marker is monotone: batch=0 from an earlier compaction no
    // longer carries the original ids
    val foldedThrough = (compactedThrough() +: batchIds()).max
    fs.delete(stagedDir, true)
    fold(d).write.options(DeltaStore.writeOptions).parquet(new Path(stagedDir, "batch=0").toString)
    writeText(new Path(stagedDir, compactedMarkerName), foldedThrough.toString)
    fs.delete(preCompactDir, true)
    if (!fs.rename(liveDir, preCompactDir)) throw new IllegalStateException(
      s"compaction could not displace $liveDir (concurrent writer?)")
    if (!fs.rename(stagedDir, liveDir)) {
      if (!fs.rename(preCompactDir, liveDir)) throw new IllegalStateException(
        s"compaction could not publish $liveDir AND could not restore " +
          s"$preCompactDir — restore it manually before the next batch")
      throw new IllegalStateException(
        s"compaction could not publish $liveDir (restored previous state)")
    }
    fs.delete(preCompactDir, true)
  }
}

object DeltaStore {
  private val Success = "_SUCCESS"

  /** [[LocalFs.writeOptions]], plus the `_SUCCESS` marker that
    * [[committed]] reads, whatever the session's committer conf says.
    */
  private val writeOptions =
    LocalFs.writeOptions + ("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "true")

  /** Whether a Spark write of `dir` committed: its `_SUCCESS` marker is
    * the job commit's last step.
    */
  private def committed(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, Success))

  /** The committed `batch=<id>` dirs under `dir`. */
  private[graft] def committedBatches(fs: FileSystem, dir: Path): Seq[Path] =
    Option(fs.globStatus(new Path(dir, s"batch=*/$Success"))).toSeq.flatten.map(_.getPath.getParent)

  /** An additive keyed state: `fold` is one sum-combine per key. */
  def additive(spark: SparkSession, root: String, name: String,
               keyCols: Seq[String], sumCols: Seq[String], compactEvery: Int): DeltaStore =
    new DeltaStore(spark, root, name, keyCols ++ sumCols, compactEvery,
      _.groupBy(keyCols.map(col): _*)
        .agg(sum(sumCols.head).as(sumCols.head), sumCols.tail.map(c => sum(c).as(c)): _*))

  /** A per-batch log: one `batch=<id>` dir per batch, never compacted,
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
