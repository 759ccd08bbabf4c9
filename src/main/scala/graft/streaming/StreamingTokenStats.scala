package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the corpus token statistics — ONE
  * maintained (token, n, n_docs) relation serving the `token_vocab`
  * top-k face and the `token_zipf_fit` corpus-law face.
  *
  * Both measures are additive when each document arrives exactly once
  * (n sums term frequencies, n_docs counts contributing docs), so the
  * [[DeltaStore]] contract applies verbatim; state is
  * vocabulary-sized regardless of corpus volume, per-batch cost is
  * the batch's own tokenization. The read faces are
  * [[TextFunctions.vocabFace]] / [[TextFunctions.zipfFace]] — the
  * batch entries' own projections, so streamed == batch is structural
  * (integer counts, zero FP residue up to the faces' own rounding).
  */
class StreamingTokenStatsJob(spark: SparkSession, statePath: String,
                             compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "token_stats", Seq("token"), Seq("n", "n_docs"), compactEvery)

  /** One micro-batch of document rows (doc_id, text) — each doc
    * arrives once. */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(
      TextFunctions.tokenTotals(TextFunctions.docTokenCounts(docs)), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long)].toDF("token", "n", "n_docs")
  }

  /** Maintained top-k vocabulary — the batch entry's own face. */
  def readVocab(k: Int = 100): DataFrame =
    TextFunctions.vocabFace(state.state().getOrElse(empty), k)

  /** Maintained Zipf fit — the batch entry's own face. */
  def readZipf(): DataFrame =
    TextFunctions.zipfFace(state.state().getOrElse(empty))
}
