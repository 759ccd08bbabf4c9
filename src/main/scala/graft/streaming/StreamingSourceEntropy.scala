package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the (source, lang) document-count relation
  * — the continuous face of `source_lang_entropy`
  * ([[TextFunctions.sourceLangEntropy]]).
  *
  * Per-(source, lang) doc counts are additive when each document
  * arrives exactly once, so the [[DeltaStore]] contract
  * applies verbatim; state is (sources × langs)-sized — dims-scale,
  * the smallest state in the streaming family. The read face folds the
  * maintained counts through the SAME entropy projection as the batch
  * entry.
  *
  * This is the mix-drift alarm run continuously: a source whose
  * normalized entropy collapses mid-ingest went monolingual NOW, not
  * at the next nightly audit — exactly when a language-balanced
  * training mix starts skewing.
  */
class StreamingSourceEntropyJob(spark: SparkSession, statePath: String,
                                compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "source_lang", Seq("source", "lang"), Seq("c"), compactEvery)

  /** One micro-batch of document rows (source, lang, ...) — each doc
    * arrives once. */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(
      docs.groupBy("source", "lang").agg(count(lit(1)).as("c")), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long)].toDF("source", "lang", "c")
  }

  /** Maintained per-source entropy — the batch entry's own face. */
  def readEntropy(): DataFrame =
    TextFunctions.entropyFace(state.state().getOrElse(empty))
}
