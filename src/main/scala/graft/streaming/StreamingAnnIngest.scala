package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.similarity.Ann

/** Streaming ANN-index ingest — the streaming face of
  * [[graft.similarity.Ann.ivfpqIndex]] for continuous embedding
  * arrival (the pattern [[StreamingNearDedupJob]] establishes for the
  * band index, applied to the IVF-PQ artifacts):
  *
  *   1. the FIRST batch trains the quantizers (coarse centroids + PQ
  *      codebooks) and persists them — after that they are immutable,
  *      which is what keeps every later batch retraining-free and the
  *      whole code table self-consistent;
  *   2. every batch encodes ITSELF map-side against the persisted
  *      quantizers (`Ann.ivfpqAssign` — cell argmin + native PQ encode)
  *      and appends its codes under a per-batch directory;
  *   3. queries at any point probe the accumulated code table through
  *      the ordinary persisted-index path (`ivfpqTopKFromIndex`).
  *
  * Cost per batch scales with the batch (nothing old is re-encoded),
  * and the index holds ~4·nSub bytes per vector — the property that
  * lets a continuously-embedding pipeline keep its similarity index
  * current instead of rebuilding nightly.
  *
  * Consistency contract: the per-batch code directory makes the append
  * idempotent under at-least-once replay (`batch=<id>` is simply
  * overwritten), and because the quantizers never change after batch
  * one, a replayed batch writes byte-identical codes. Replay stays
  * idempotent ACROSS compaction too: the compacted directory carries a
  * `_compacted_through` marker (published by the same rename that
  * publishes the folded codes, so the two can never disagree) holding
  * the highest batch id folded into it, and [[processBatch]] skips any
  * batch id at or below the marker — a batch replayed after its rows
  * were folded into `batch=0` can not re-append them as duplicate
  * vec_ids that the top-k window would rank twice. A quantizer
  * marker records the (nCells, nSub, nCodes) configuration — an engine
  * restarted with a different geometry fails loudly instead of mixing
  * incompatible codes. The code table is a [[DeltaStore]] (identity
  * fold), so compaction is the same crash-safe two-rename fold as the
  * band index and no crash point loses codes. Empty micro-batches are no-ops: in
  * particular an empty FIRST batch must not train-and-persist empty
  * quantizers (which would permanently encode every later batch to
  * zero rows) — the first non-empty batch bootstraps instead.
  */
class StreamingAnnIngestJob(spark: SparkSession, indexPath: String,
                            nCells: Int = 16, nSub: Int = 16, nCodes: Int = 16,
                            compactEvery: Int = 16) {

  private def centroidsDir = s"$indexPath/centroids"
  private def codebooksDir = s"$indexPath/codebooks"
  private def fs = new Path(indexPath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val codes = new DeltaStore(spark, indexPath, "codes",
    Seq("vec_id", "cell", "codes", "dnorm2"), compactEvery, identity)

  private val geometryMarker = new Path(indexPath, "_pq_geometry")
  private def geometry = s"ivfpq:cells=$nCells,sub=$nSub,codes=$nCodes"

  private def checkOrWriteGeometry(): Unit = {
    if (fs.exists(geometryMarker)) {
      val in = fs.open(geometryMarker)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (found != geometry) throw new IllegalStateException(
        s"index at $indexPath was built with '$found' but this job is configured " +
          s"for '$geometry' — rebuild the index")
    } else {
      val out = fs.create(geometryMarker, true)
      try out.write((geometry + "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  /** Highest batch id whose rows are inside the compacted `batch=0`
    * directory; -1 before any compaction.
    */
  private[graft] def compactedThrough(): Long = codes.compactedThrough()

  private[graft] def batchDirCount(): Int = codes.batchDirCount()

  /** The persisted quantizers, if the bootstrap batch has committed
    * them yet.
    */
  def readQuantizers(): Option[(DataFrame, DataFrame)] =
    if (fs.exists(new Path(centroidsDir)) && fs.exists(new Path(codebooksDir)))
      Some((spark.read.parquet(centroidsDir), spark.read.parquet(codebooksDir)))
    else None

  /** The accumulated code table, if any batch has committed one. */
  def readCodes(): Option[DataFrame] = codes.readDeltas()

  /** One micro-batch: bootstrap quantizers on first contact, encode the
    * batch against the persisted artifacts, append its codes, fold the
    * per-batch directories once enough accumulate (observed count, not
    * batchId arithmetic — replays can't starve or double-run the
    * policy).
    */
  def processBatch(embs: DataFrame, batchId: Long): Unit = {
    checkOrWriteGeometry()
    // a batch id already folded into batch=0 is an at-least-once replay
    // that crossed a compaction — re-appending it would duplicate its
    // vec_ids and rank them twice in the top-k window
    if (batchId <= compactedThrough()) return
    // an empty batch has nothing to encode — and must never reach the
    // bootstrap below, where quantizers trained on zero rows would be
    // persisted as the immutable artifacts and permanently encode every
    // later batch to zero rows
    if (embs.isEmpty) return
    val (centroids, codebooks) = readQuantizers().getOrElse {
      val (c, b, _) = Ann.ivfpqIndex(embs, nCells, nSub, nCodes)
      require(!c.isEmpty && !b.isEmpty,
        s"refusing to persist empty IVF-PQ quantizers for $indexPath — " +
          "training produced no centroids/codebooks; the index would be " +
          "permanently poisoned (every later batch would encode zero rows)")
      // two independent writes, but ordered so a crash between them
      // leaves readQuantizers() false (codebooks land first, the
      // centroid write PUBLISHES) — the next batch just re-trains
      b.write.mode("overwrite").parquet(codebooksDir)
      c.write.mode("overwrite").parquet(centroidsDir)
      (spark.read.parquet(centroidsDir), spark.read.parquet(codebooksDir))
    }
    codes.append(Ann.ivfpqAssign(centroids, codebooks, embs), batchId)
  }

  /** Fold per-batch code directories into one (see [[DeltaStore.compact]]). */
  def compact(): Unit = codes.compact()

  /** Top-k probe over everything ingested so far. Empty before the
    * first commit.
    */
  def queryIndex(queries: DataFrame, k: Int = 5, nProbe: Int = 6): DataFrame =
    (readQuantizers(), readCodes()) match {
      case (Some((c, b)), Some(table)) => Ann.ivfpqTopKFromIndex(c, b, table, queries, k, nProbe)
      case _ => Ann.emptyTopK(queries)
    }

  /** Run continuously over a streaming (vec_id, embedding) frame. */
  def start(embs: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    embs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .trigger(trigger)
      .start()
}
