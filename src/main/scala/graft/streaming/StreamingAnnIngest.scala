package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.similarity.Ann
import graft.sources.MicroBatchJob

/** Streaming ANN-index ingest — the streaming face of
  * [[graft.similarity.Ann.ivfpqIndex]] for continuous embedding
  * arrival (the pattern [[StreamingNearDedupJob]] establishes for the
  * band index, applied to the IVF-PQ artifacts):
  *
  *   1. the FIRST batch trains the quantizers (coarse centroids + PQ
  *      codebooks) and persists them as one two-part
  *      [[DeltaStore.frozenModel]] — after that they are immutable,
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
  * Consistency contract: the code table is a [[DeltaStore]] (identity
  * fold). A batch id at or below the store's high-water mark is a
  * replay and is skipped before it is encoded, since re-appending its
  * rows would rank their vec_ids twice in the top-k window; and
  * compaction is the store's crash-safe fold, published by one
  * manifest rename. A
  * `_pq_geometry` marker records the (nCells, nSub, nCodes)
  * configuration — an engine restarted with a different geometry fails
  * loudly instead of mixing incompatible codes. Empty micro-batches are
  * no-ops: in particular an empty FIRST batch must not train-and-persist
  * empty quantizers (which would permanently encode every later batch
  * to zero rows) — the first non-empty batch bootstraps instead.
  */
class StreamingAnnIngestJob(spark: SparkSession, indexPath: String,
                            nCells: Int = 16, nSub: Int = 16, nCodes: Int = 16,
                            compactEvery: Int = 16) extends MicroBatchJob {

  private val codes = new DeltaStore(spark, indexPath, "codes",
    Seq("vec_id", "cell", "codes", "dnorm2"), compactEvery, identity)
  private def quantizers(fit: => Option[Seq[DataFrame]]): Option[(DataFrame, DataFrame)] =
    DeltaStore.frozenModel(spark, indexPath, "centroids", "codebooks")(fit)
      .map { case Seq(c, b) => (c, b) }

  /** The code table's high-water batch id; -1 before any batch. */
  private[graft] def compactedThrough(): Long = codes.compactedThrough()

  private[graft] def batchDirCount(): Int = codes.batchDirCount()

  /** The persisted quantizers, if the bootstrap batch has committed
    * them yet.
    */
  def readQuantizers(): Option[(DataFrame, DataFrame)] = quantizers(None)

  /** The accumulated code table, if any batch has committed one. */
  def readCodes(): Option[DataFrame] = codes.readDeltas()

  /** One micro-batch: bootstrap quantizers on first contact, encode the
    * batch against the persisted artifacts, append its codes, fold the
    * per-batch directories once enough accumulate (observed count, not
    * batchId arithmetic — replays can't starve or double-run the
    * policy).
    */
  def processBatch(embs: DataFrame, batchId: Long): Unit = {
    codes.checkOrWriteFormat("_pq_geometry", s"ivfpq:cells=$nCells,sub=$nSub,codes=$nCodes",
      stampUnmarked = true)
    // a batch id at or below the high-water mark is an at-least-once
    // replay of an applied batch — re-appending it would duplicate its
    // vec_ids and rank them twice in the top-k window
    if (batchId <= compactedThrough()) return
    // an empty batch has nothing to encode — and must never reach the
    // bootstrap below, where quantizers trained on zero rows would be
    // persisted as the immutable artifacts and permanently encode every
    // later batch to zero rows
    if (embs.isEmpty) return
    val (centroids, codebooks) = quantizers {
      val (c, b, _) = Ann.ivfpqIndex(embs, nCells, nSub, nCodes)
      require(!c.isEmpty && !b.isEmpty,
        s"refusing to persist empty IVF-PQ quantizers for $indexPath — " +
          "training produced no centroids/codebooks; the index would be " +
          "permanently poisoned (every later batch would encode zero rows)")
      Some(Seq(c, b))
    }.get
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
}
