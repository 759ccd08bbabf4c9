package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.MicroBatchJob

/** Streaming maintenance of the BIGRAM substrates — the continuous face
  * of [[TextFunctions.tokenPmi]] and [[TextFunctions.bigramLogprob]]:
  * both consume only keyed counts ((a,b) bigram counts; token counts;
  * their totals), and since documents never span micro-batches the
  * per-batch counts are ADDITIVE deltas — the same property
  * [[StreamingVocabJob]] exploits for the vocabulary, extended to the
  * pair key. State grows with the (token + bigram) vocabulary, not the
  * corpus; per-batch cost scales with the batch.
  *
  * Each count set is its own additive [[DeltaStore]] under one root,
  * with its own marker: a replay that lands after one state's
  * compaction but before the other's is skipped exactly where it was
  * folded and re-appended (idempotently) where it was not.
  *
  * The two consumers read the folded states and reproduce the batch
  * faces' arithmetic EXACTLY (integer counts → the same doubles), so
  * streamed == batch is equality, not approximation — spec-held
  * across plain replay, compaction, and replay-across-compaction.
  */
class StreamingBigramJob(spark: SparkSession, statePath: String,
                         compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val tokens = DeltaStore.additive(spark, statePath,
    "tokens", Seq("token"), Seq("n", "n_docs"), compactEvery)
  private[graft] val bigrams = DeltaStore.additive(spark, statePath,
    "bigrams", Seq("a", "b"), Seq("n"), compactEvery)

  /** One micro-batch: one token delta + one bigram delta, each a pure
    * function of the batch (docs never span batches).
    */
  def processBatch(docs: DataFrame, batchId: Long): Unit = {
    tokens.append(
      TextFunctions.docTokenCounts(docs).groupBy("token")
        .agg(sum("tf").as("n"), count(lit(1)).as("n_docs")), batchId)
    bigrams.append(
      TextFunctions.docBigrams(docs).groupBy("a", "b")
        .agg(count(lit(1)).as("n")), batchId)
  }

  def compact(): Unit = { tokens.compact(); bigrams.compact() }

  /** Collocations from the maintained counts — must equal
    * [[TextFunctions.tokenPmi]] over everything ingested. Empty before
    * the first commit.
    */
  def readPmi(minPair: Long = 5, k: Int = 50): DataFrame =
    (tokens.state(), bigrams.state()) match {
      case (Some(tok), Some(bg)) =>
        val nBg = bg.select(col("a"), col("b"), col("n").cast("double").as("n_ab"))
        val bTot = nBg.agg(sum("n_ab").as("bt"))
        val uni = tok.select(col("token"), col("n").cast("double").as("n"))
        val tTot = uni.agg(sum("n").as("tt"))
        nBg.filter(col("n_ab") >= minPair)
          .join(uni.select(col("token").as("a"), col("n").as("n_a")), "a")
          .join(uni.select(col("token").as("b"), col("n").as("n_b")), "b")
          .crossJoin(broadcast(bTot))
          .crossJoin(broadcast(tTot))
          .select(col("a").as("tok_a"), col("b").as("tok_b"),
            col("n_ab").cast("long").as("n_pair"),
            round(log((col("n_ab") / col("bt")) /
              ((col("n_a") / col("tt")) * (col("n_b") / col("tt")))), 4).as("pmi"))
          .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
          .limit(k)
      case _ => spark.emptyDataFrame
        .select(lit("").as("tok_a"), lit("").as("tok_b"),
          lit(0L).as("n_pair"), lit(0.0).as("pmi")).limit(0)
    }

  /** Score a document set under the MAINTAINED add-k bigram model —
    * for docs = everything ingested this must equal
    * [[TextFunctions.bigramLogprob]] (same pre-aggregated join shape,
    * same weighted sum). Scoring new documents against the maintained
    * corpus model is the production read: the model is state, the
    * scored set is the batch.
    */
  def scoreDocs(docs: DataFrame, smoothK: Double = 0.5): DataFrame =
    (tokens.state(), bigrams.state()) match {
      case (Some(tok), Some(bg)) =>
        val model = bg.select(col("a"), col("b"), col("n").cast("double").as("c_ab"))
        val uni = tok.select(col("token"), col("n").cast("double").as("c_a"))
        val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
        val perDocBigram = TextFunctions.docBigrams(docs).groupBy("doc_id", "a", "b")
          .agg(count(lit(1)).cast("double").as("n_occ"))
        perDocBigram
          .join(model, Seq("a", "b"))
          .join(uni.withColumnRenamed("token", "a"), "a")
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(sum(col("n_occ")).cast("long").as("n_bigrams"),
            round(sum(col("n_occ") *
              -log((col("c_ab") + lit(smoothK)) / (col("c_a") + lit(smoothK) * col("v"))))
              / sum(col("n_occ")), 4).as("avg_neg_logprob"))
          .orderBy("doc_id")
      case _ => spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_bigrams"),
          lit(0.0).as("avg_neg_logprob")).limit(0)
    }
}
