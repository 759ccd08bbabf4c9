package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the corpus sentence-document-frequency
  * relation — the continuous face of `boilerplate_stats`
  * ([[TextFunctions.boilerplateStats]]).
  *
  * Sentence df is additive when each document arrives exactly once
  * (each batch contributes its own distinct-doc counts per sentence),
  * so the [[DeltaStore]] contract applies verbatim: plain
  * per-batch appends, idempotent under replay, crash-safe
  * compaction. State is distinct-sentence-sized — the one corpus-sized
  * state in the streaming family, exactly as a streaming dedup index
  * is (at 100 TB the sentence key becomes a 64-bit hash, an
  * order-of-magnitude state shrink with identical shapes).
  *
  * Read faces: [[readPerDoc]] profiles any docs frame against the
  * maintained df (the batch entry's own projection — streamed == batch
  * is structural, integer counts throughout), and [[readSummary]] is
  * the corpus-level boilerplate mass a curation dashboard watches.
  */
class StreamingBoilerplateJob(spark: SparkSession, statePath: String,
                              compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "sentence_df", Seq("s"), Seq("sdf"), compactEvery)

  /** One micro-batch of document rows (doc_id, text) — each doc
    * arrives once. */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(TextFunctions.sentenceDf(docs), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("s", "sdf")
  }

  /** Per-doc boilerplate profile of `docs` against the maintained df —
    * the batch entry's own face.
    */
  def readPerDoc(docs: DataFrame): DataFrame =
    TextFunctions.boilerplateFace(state.state().getOrElse(empty), docs)

  /** Corpus-level boilerplate mass: distinct sentences, how many are
    * duplicated across docs, and the duplicated share of total
    * sentence occurrences.
    */
  def readSummary(): DataFrame =
    state.state().getOrElse(empty).agg(
      count(lit(1)).as("n_sentences"),
      sum(when(col("sdf") >= 2, 1L).otherwise(0L)).as("n_boilerplate"),
      coalesce(round(sum(when(col("sdf") >= 2, col("sdf")).otherwise(0L))
          .cast("double") / sum(col("sdf")), 4), lit(0.0))
        .as("dup_occurrence_share"))
}
