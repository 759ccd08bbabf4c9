package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.Dedup
import graft.sources.MicroBatchJob

/** Streaming near-duplicate detection — the streaming face of
  * [[graft.dedup.Dedup.incrementalCandidatesFromBands]] for continuous
  * ingest: the corpus seen so far is represented ONLY by its persisted
  * MinHash band index, and each micro-batch
  *
  *   1. signs its own documents map-side (native banding expression);
  *   2. band-joins them against the persisted index (batch-vs-corpus)
  *      and against themselves (within-batch);
  *   3. hands the candidate pairs to the caller's sink;
  *   4. appends its bands to the index under a per-batch directory.
  *
  * Cost per batch scales with the batch (nothing old is re-signed), and
  * index growth is ~16 small rows per document — the property that lets
  * a 100 TB/day ingest keep near-dup checking continuous instead of
  * re-running corpus-wide LSH nightly.
  *
  * Consistency contract: the index skips the append of a batch id at or
  * below its high-water mark, so the append is idempotent under
  * at-least-once replay, and a replayed batch re-emits the same
  * candidate SET —
  * duplicated band rows can never mint new pairs because candidates are
  * `distinct()` by construction. Candidates are emitted BEFORE the
  * batch's bands are appended, so a batch never pairs with itself
  * through the corpus index on the happy path (and on replay such pairs
  * collapse into the within-batch set). Replay stays idempotent ACROSS
  * compaction too — the storage substrate (format marker, per-batch
  * appends and a crash-safe fold, each published by one manifest
  * rename) is [[DeltaStore]], shared with the perceptual-hash face
  * ([[StreamingPhashDedupJob]]).
  */
class StreamingNearDedupJob(spark: SparkSession, indexPath: String,
                            onCandidates: (DataFrame, Long) => Unit,
                            compactEvery: Int = 16) extends MicroBatchJob {

  private val index = new DeltaStore(spark, indexPath, "bands",
    Seq("doc_id", "band_id", "band_hash"), compactEvery, identity)

  private[graft] def compactedThrough(): Long = index.compactedThrough()
  private[graft] def batchDirCount(): Int = index.batchDirCount()

  /** The persisted band index, if any batch has committed one yet. */
  def readIndex(): Option[DataFrame] = index.readDeltas()

  def compact(): Unit = index.compact()

  /** One micro-batch: emit candidates, append the batch's bands, and
    * fold the index once enough per-batch directories accumulate
    * (inside the single writer's batch callback, so the substrate's
    * never-concurrently-with-an-append contract holds with no external
    * scheduler).
    */
  def processBatch(docs: DataFrame, batchId: Long): Unit = {
    index.checkOrWriteFormat("_band_format", Dedup.BandFormat)
    val newBands = Dedup.lshBandIndex(docs).localCheckpoint(true)
    val candidates = readIndex() match {
      case Some(idx) => Dedup.incrementalCandidatesFromBands(idx, newBands)
      case None => Dedup.lshCandidatesFromIndex(newBands)
    }
    onCandidates(candidates, batchId)
    index.append(newBands, batchId)
  }
}
