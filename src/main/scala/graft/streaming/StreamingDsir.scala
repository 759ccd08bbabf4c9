package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{LocalFs, MicroBatchJob}
import graft.functions.TextFunctions

/** Streaming DSIR scoring — the model-serving face of
  * [[TextFunctions.dsirWeights]] for a continuous document ingest (the
  * bootstrap-then-immutable pattern of [[StreamingKMeansAssignJob]]
  * applied to the hashed-bigram importance model):
  *
  *   1. the FIRST non-empty batch that carries BOTH target and raw
  *      documents fits the λ table with the SAME
  *      [[TextFunctions.dsirTrain]] machinery as the batch face (a
  *      single-class model would be a division by the smoothing floor
  *      dressed up as a fit) and persists it
  *      ([[DeltaStore.frozenModel]]), immutable afterwards, which is
  *      what makes every score replay-reproducible. A
  *      single-class (or zero-bigram) batch before bootstrap is SKIPPED
  *      — logged, counted in [[StreamingDsirJob.skippedBootstraps]],
  *      nothing scored or persisted — and bootstrap retries on the next
  *      batch: throwing here would wedge the query permanently, since
  *      the checkpointed batch replays identically on every restart
  *      (first micro-batch all-target is a plausible ingest pattern,
  *      not an operator error);
  *   2. every batch scores ITSELF against the broadcast persisted
  *      model ([[TextFunctions.dsirScore]]: ≤1025-row broadcast join +
  *      one doc-keyed agg — never a historical rescan); bigram buckets
  *      the frozen model never saw fall back to the persisted
  *      bucket = −1 default λ; per-doc weights append to the
  *      `weights` log ([[DeltaStore.log]]);
  *   3. the monitor a selection pipeline watches — per-class doc count
  *      and mean log importance weight — folds in an
  *      [[DeltaStore]] keyed by is_target, with the weight
  *      mass carried as an EXACT integer (the 4dp-rounded weight ×
  *      10⁴), so the additive replay/compaction/crash contract applies
  *      verbatim and a raw-pool mean drifting toward the target mean
  *      (distribution shift eroding the selection signal) is one read
  *      away.
  *
  * Per-batch cost scales with the batch; the maintained state is
  * 2-row; the model is [[TextFunctions.DsirBuckets]]+1 rows regardless
  * of corpus size.
  */
class StreamingDsirJob(spark: SparkSession, modelPath: String,
                       compactEvery: Int = 16) extends MicroBatchJob {

  private val pendingDir = new Path(modelPath, "pending")
  private def model(fit: => Option[DataFrame]): Option[DataFrame] =
    DeltaStore.frozenModel(spark, modelPath, "lambda")(fit.map(Seq(_))).map(_.head)
  private val weights = DeltaStore.log(spark, modelPath, "weights",
    Seq("doc_id", "is_target", "n_bigrams", "dsir_logw"))

  private[graft] val summary = DeltaStore.additive(spark, modelPath,
    "dsir_summary", Seq("is_target"), Seq("n_docs", "sum_logw_q"), compactEvery)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pre-bootstrap batches skipped for lacking both classes (liveness
    * diagnostic: a stream stuck single-class never trains — visible
    * here instead of wedging the query with a deterministic replay
    * failure). The DATA is not lost: each skipped batch's bucket rows
    * persist under `pending/batch=<id>` and are backfill-scored by the
    * first batch that finds a trained model (see [[drainPending]]), so
    * the streamed weight set stays equal to the batch face's.
    */
  @volatile private[graft] var skippedBootstraps: Long = 0L

  /** Score-and-commit every buffered pre-bootstrap batch against the
    * frozen model, under the batch's ORIGINAL id. Runs at the start of
    * any batch that has both a model and a pending buffer, so every
    * crash window heals: weights rewrite byte-stable (the model is
    * immutable), the summary delta re-appends idempotently, and the
    * pending dir is deleted only after both commits.
    */
  private def drainPending(model: DataFrame): Unit = {
    val fs = LocalFs.fileSystem(pendingDir, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pendingDir)) return
    val dirs = fs.listStatus(pendingDir).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .sortBy(_.getPath.getName.stripPrefix("batch=").toLong)
    dirs.foreach { d =>
      val bid = d.getPath.getName.stripPrefix("batch=").toLong
      val rows = spark.read.parquet(d.getPath.toString)
      commitScores(TextFunctions.dsirScore(rows, model), bid)
      log.info(s"backfilled pre-bootstrap batch $bid from $pendingDir")
      fs.delete(d.getPath, true)
    }
    fs.delete(pendingDir, true)
  }

  /** Shared weights+summary commit (weights first — see processBatch). */
  private def commitScores(raw: DataFrame, batchId: Long): Unit = {
    val scored = raw
      .select(col("doc_id"), col("is_target"), col("n_bigrams"),
        round(col("logw_raw"), 4).as("dsir_logw"))
      .localCheckpoint(true)
    weights.append(scored, batchId)
    summary.append(
      scored.groupBy("is_target").agg(
        count(lit(1)).as("n_docs"),
        sum(round(col("dsir_logw") * 10000).cast("long")).as("sum_logw_q")),
      batchId)
  }

  /** The persisted λ table, once the bootstrap batch has committed it. */
  def readModel(): Option[DataFrame] = model(None)

  /** One micro-batch of documents(doc_id, text, lang, …): bootstrap
    * the model on first contact, score the batch against the persisted
    * λ table, append weights + additive summary deltas.
    */
  def processBatch(docs: DataFrame, batchId: Long): Unit = {
    if (docs.isEmpty) return
    val rows = TextFunctions.dsirBucketRows(docs).localCheckpoint(true)
    model {
      val classes = rows.select("is_target").distinct().count()
      if (classes == 2) Some(TextFunctions.dsirTrain(rows))
      else {
        // Skip, don't throw: the checkpointed batch replays
        // deterministically, so a refusal here would wedge the query
        // permanently on a first micro-batch that happens to be
        // single-class (or all sub-2-token docs — 0 classes). The
        // batch is BUFFERED (per-batch overwrite — replay-idempotent),
        // not dropped: the first post-bootstrap batch backfill-scores
        // it, so the checkpoint advancing past it loses nothing.
        rows.write.options(LocalFs.writeOptions).mode("overwrite")
          .parquet(s"$pendingDir/batch=$batchId")
        skippedBootstraps += 1
        log.warn(
          s"batch $batchId: skipping DSIR bootstrap for $modelPath — " +
            (if (classes == 0) "no document produced a bigram"
             else "batch lacks both target and raw docs") +
            s" ($classes class(es)); buffered for backfill, retrying on the next batch")
        None
      }
    }.foreach { m =>
      // drain BEFORE this batch's own commit: backfilled summary deltas
      // keep their original (smaller) batch ids, which stays idempotent
      // because no compaction can fold past an id before its delta's
      // first append lands through this single-writer path
      drainPending(m)
      // weights first, summary second: a crash between the writes is
      // healed by the replay overwriting both (the immutable model
      // makes the recompute byte-stable)
      commitScores(TextFunctions.dsirScore(rows, m), batchId)
    }
  }

  /** Every score committed so far. Empty before the first commit. */
  def readWeights(): DataFrame = weights.readDeltas().getOrElse(emptyWeights)

  /** The maintained selection-signal monitor:
    * (is_target, n_docs, mean_logw).
    */
  def readSummary(): DataFrame = summary.state() match {
    case Some(s) => s.select(col("is_target"), col("n_docs"),
      (col("sum_logw_q") / 10000.0 / col("n_docs")).as("mean_logw"))
    case None => emptyWeights
      .select(col("is_target"), lit(0L).as("n_docs"), lit(0.0).as("mean_logw"))
      .limit(0)
  }

  private def emptyWeights: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long, Double)]
      .toDF("doc_id", "is_target", "n_bigrams", "dsir_logw")
  }
}
