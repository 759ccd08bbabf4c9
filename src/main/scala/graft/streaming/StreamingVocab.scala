package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming corpus-vocabulary maintenance — the streaming face of
  * [[graft.functions.TextFunctions.tokenVocab]] for continuous document
  * ingest:
  *
  *   1. each micro-batch computes its own (token, n, n_docs) delta
  *      map-side + one batch-local groupBy (docs never span batches, so
  *      per-batch doc frequencies are ADDITIVE — the delta is a pure
  *      function of the batch);
  *   2. the delta appends under a per-batch directory; the queryable
  *      vocabulary at any point is one sum-combine over the deltas
  *      (mergeable state, like the engine's sketches);
  *   3. compaction periodically folds the delta directories so listing
  *      cost stays bounded — sum-of-sums equals the original sum, so
  *      folding never changes the vocabulary.
  *
  * At 100 TB/day this is the right shape for corpus stats: per-batch
  * cost scales with the batch, state grows with the VOCABULARY (not
  * the corpus), and nightly full recounts disappear. The replay /
  * compaction / crash-recovery contract (the high-water replay skip,
  * appends and compaction published by one manifest rename, and the
  * one-time adoption of a store written before manifests) lives in
  * [[DeltaStore]].
  */
class StreamingVocabJob(spark: SparkSession, statePath: String,
                        compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "vocab", Seq("token"), Seq("n", "n_docs"), compactEvery)

  /** The store's high-water batch id; -1 before any batch. */
  private[graft] def compactedThrough(): Long = state.compactedThrough()

  private[graft] def batchDirCount(): Int = state.batchDirCount()

  /** The current vocabulary: one sum-combine over the deltas, ranked
    * like the batch face. Empty before the first commit.
    */
  def readVocab(k: Int = 100): DataFrame = state.state() match {
    case None => spark.emptyDataFrame
      .select(lit(0).as("rank"), lit("").as("token"), lit(0L).as("n"), lit(0L).as("n_docs"))
      .limit(0)
    case Some(d) =>
      // rank-by-position over the sorted ≤k-row array instead of an
      // unpartitioned row_number window (r17 verdict #6): struct sort
      // on (-n, token) replays the (n DESC, token) total order, and
      // the frame is k-bounded by the limit above by construction
      d.orderBy(col("n").desc, col("token"))
        .limit(k)
        .agg(sort_array(collect_list(
          struct((-col("n")).as("nn"), col("token"), col("n"), col("n_docs")))).as("s"))
        .select(posexplode(col("s")).as(Seq("i", "e")))
        .select((col("i") + 1).cast("int").as("rank"),
          col("e.token").as("token"), col("e.n").as("n"),
          col("e.n_docs").as("n_docs"))
  }

  /** One micro-batch: append the batch's delta (replay-idempotent,
    * skipped at or below the compaction marker — see
    * [[DeltaStore.append]]).
    */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(
      TextFunctions.docTokenCounts(docs)
        .groupBy("token")
        .agg(sum("tf").as("n"), count(lit(1)).as("n_docs")), batchId)

  /** Fold the per-batch deltas into one (sum-of-sums == sum). */
  def compact(): Unit = state.compact()
}
