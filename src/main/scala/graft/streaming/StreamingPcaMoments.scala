package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.Pca
import graft.sources.MicroBatchJob

/** Streaming maintenance of the PCA moment state — the continuous face
  * of [[Pca.pcaSpectrum]] for an embedding ingest stream:
  *
  *   1. each micro-batch runs the SAME `mapPartitions` accumulator the
  *      batch face runs, emitting its (i, j, s) moment delta — second-
  *      order moments are sums over rows, so the delta is a pure
  *      function of the batch (vectors never span batches);
  *   2. deltas fold in a [[DeltaStore]] keyed (i, j) — the
  *      vocabulary/bigram replay, compaction and crash contract carries
  *      over verbatim because the state is genuinely additive (plain
  *      `append` idempotence suffices; no pre-batch read anywhere);
  *   3. the spectrum at any point is one d²-bounded fold + the O(d³)
  *      driver eigensolve — state grows with d², NEVER with the corpus,
  *      and the model (mean + components) is always current without a
  *      nightly recompute over history.
  *
  * This is how a 100 TB/day embedding pipeline keeps its whitening /
  * dim-reduction model fresh: per-batch cost scales with the batch,
  * and the spectrum read face reproduces the batch arithmetic exactly
  * (same accumulator, same eigensolve — spec holds streamed == batch
  * to 1e-9 after every micro-batch, the residue being float addition
  * order across batch boundaries).
  */
class StreamingPcaMomentsJob(spark: SparkSession, statePath: String,
                             compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "moments", Seq("i", "j"), Seq("s"), compactEvery)

  /** One micro-batch of rows carrying an `embedding` column. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    state.append(Pca.momentRows(batch), batchId)

  /** The folded (mean, covariance, n) — d²-bounded driver payload.
    * None before the first commit. */
  def readMoments(): Option[(Array[Double], Array[Array[Double]], Long)] =
    state.state().map { s =>
      Pca.momentsOf(s.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))))
    }

  /** The maintained spectrum — identical read arithmetic to the batch
    * `embedding_pca` face. Empty before the first commit. */
  def readSpectrum(q: Int = 8): DataFrame = readMoments() match {
    case None => spark.emptyDataFrame
      .select(lit(0).as("pc"), lit(0.0).as("eigenvalue"),
        lit(0.0).as("explained_ratio"), lit(0.0).as("cum_ratio")).limit(0)
    case Some((_, cov, _)) =>
      Pca.spectrumFrom(spark, Pca.jacobiEigen(cov)._1, q)
  }
}
