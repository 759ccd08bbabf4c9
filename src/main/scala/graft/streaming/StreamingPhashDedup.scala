package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.BinaryPipeline
import graft.sources.MicroBatchJob

/** Streaming PERCEPTUAL image dedup — the continuous face of
  * [[BinaryPipeline.phashDedup]] for an image ingest: the corpus seen
  * so far is represented only by its persisted dHash table (two longs
  * per image — the cheapest corpus representation in the engine), and
  * each micro-batch
  *
  *   1. decodes + dHashes its own images map-side (real ImageIO decode
  *      per payload, [[BinaryPipeline.phashTable]]);
  *   2. band-joins them against the persisted index (batch-vs-corpus,
  *      canonical min/max pair order) and against themselves
  *      (within-batch), verifying candidates with two XOR popcounts;
  *   3. hands the Hamming ≤ 3 pairs to the caller's sink;
  *   4. appends its hashes to the index under a per-batch directory.
  *
  * Equality contract (spec-held): every unordered pair of the batch
  * face lands in EXACTLY the tranche of its later member (within-batch
  * if both arrive together, cross-batch otherwise), so the union of
  * the per-batch emissions over ANY tranche split equals
  * [[BinaryPipeline.phashDedup]] on the full corpus — streamed ==
  * batch, structurally.
  *
  * Storage is the shared [[DeltaStore]] substrate, so replay
  * idempotence, the high-water replay skip, crash-safe compaction
  * and the hash-family format marker are inherited verbatim from the
  * MinHash face's certified machinery. Per-batch cost scales with the
  * batch; index growth is ONE 3-long row per image.
  */
class StreamingPhashDedupJob(spark: SparkSession, indexPath: String,
                             onPairs: (DataFrame, Long) => Unit,
                             compactEvery: Int = 16) extends MicroBatchJob {

  private val index = new DeltaStore(spark, indexPath, "hashes",
    Seq("item_id", "phash_hi", "phash_lo"), compactEvery, identity)

  private[graft] def compactedThrough(): Long = index.compactedThrough()
  private[graft] def batchDirCount(): Int = index.batchDirCount()

  /** The persisted hash index, if any batch has committed one yet. */
  def readIndex(): Option[DataFrame] = index.readDeltas()

  def compact(): Unit = index.compact()

  /** One micro-batch of images (item_id, payload): emit the batch's
    * perceptual pairs (within + vs-corpus), append its hashes.
    */
  def processBatch(images: DataFrame, batchId: Long): Unit = {
    index.checkOrWriteFormat("_phash_format", BinaryPipeline.PhashFormat)
    val hashes = BinaryPipeline.phashTable(images).localCheckpoint(true)
    val pairs = readIndex() match {
      case Some(idx) =>
        BinaryPipeline.phashPairsBetween(idx, hashes)
          .unionByName(BinaryPipeline.phashPairsWithin(hashes))
          .distinct()
      case None => BinaryPipeline.phashPairsWithin(hashes)
    }
    onPairs(pairs, batchId)
    index.append(hashes, batchId)
  }
}
