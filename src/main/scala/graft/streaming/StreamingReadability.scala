package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the corpus readability profile — the
  * continuous face of `text_readability`, folding each document batch
  * into per-(lang, source) integer sums (doc count, Σtoks, Σsents,
  * Σchars).
  *
  * The batch entry's micro-averaged design is exactly what makes it
  * maintainable: every slice metric is a ratio of ADDITIVE integer
  * sums, so the [[DeltaStore]] contract applies verbatim
  * (per-batch deltas are batch-sized, the fold is |lang|·|source|-
  * bounded, replay/compaction/crash discipline inherited), and the
  * read face is [[TextFunctions.readabilityFace]] — the SAME ratio
  * projection the batch entry runs, so streamed == batch is a
  * structural identity with zero FP residue (integer sums fold
  * exactly).
  */
class StreamingReadabilityJob(spark: SparkSession, statePath: String,
                              compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "readability", Seq("lang", "source"), Seq("n_docs", "t", "s", "c"), compactEvery)

  /** One micro-batch of document rows (needs lang, source, text). */
  def processBatch(docs: DataFrame, batchId: Long): Unit =
    state.append(
      TextFunctions.readabilityCounts(docs)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("t"), sum("sents").as("s"), sum("chars").as("c")),
      batchId)

  /** The maintained readability profile — the batch entry's own ratio
    * face over the folded sums. Empty before the first commit. */
  def readProfile(): DataFrame = state.state() match {
    case Some(sums) => TextFunctions.readabilityFace(sums)
    case None =>
      import spark.implicits._
      Seq.empty[(String, String, Long, Double, Double, Double)]
        .toDF("lang", "source", "n_docs", "wps", "cpw", "ease")
  }
}
