package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the `mix_temperature_plan` stratum table —
  * ONE maintained (source, n_docs, tokens) relation serving the
  * temperature-mixture planner continuously as the corpus ingests.
  *
  * Both measures are additive when each document arrives exactly once,
  * so the [[DeltaStore]] contract applies verbatim; state is
  * sources-sized (tens of rows) regardless of corpus volume, and the
  * per-batch cost is the batch's own tokenization. The read face is
  * [[TextFunctions.mixPlanFace]] — the batch entry's own arithmetic —
  * so streamed == batch is structural: the fold carries only exact
  * integer counts, and every FP step happens inside the shared face.
  * This is the live version of the planning loop a 100 TB ingest runs:
  * watch the mixture drift as crawl shards land, re-derive sampling
  * weights without rescanning the corpus.
  */
class StreamingMixPlanJob(spark: SparkSession, statePath: String,
                          compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "mix_strata", Seq("source"), Seq("n_docs", "tokens"), compactEvery)

  /** One micro-batch of document rows (source, text) — each doc
    * arrives once. */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(TextFunctions.mixStrata(docs), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long)].toDF("source", "n_docs", "tokens")
  }

  /** Maintained temperature-mixture plan — the batch entry's own face. */
  def readPlan(): DataFrame =
    TextFunctions.mixPlanFace(state.state().getOrElse(empty))
}
