package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Analytics
import graft.sources.MicroBatchJob

/** Continuous Population-Stability-Index monitor — the deployed form
  * of `value_psi` ([[Analytics.valuePsi]]): in production the
  * reference distribution is FIXED when the model ships and the live
  * stream is compared against it, so the streaming face uses the
  * bootstrap-then-immutable pattern ([[StreamingKMeansAssignJob]]'s
  * model discipline applied to the decile table):
  *
  *   1. the FIRST non-empty batch fits per-type decile boundaries
  *      (the batch face's exact-percentile fit) and persists them plus
  *      its own bucket counts as the immutable REFERENCE, one
  *      [[DeltaStore.frozenModel]] of two parts: a crash between the two
  *      writes refits both on the replay;
  *   2. every batch (including the bootstrap) buckets itself map-side
  *      against the broadcast boundary table and appends its
  *      (event_type, bucket, n) counts — additive when each event
  *      arrives once, so the [[DeltaStore]] contract applies
  *      verbatim; state is ≤ 10·¦types¦ rows;
  *   3. [[readPsi]] folds reference-vs-maintained counts through the
  *      SAME smoothed-PSI projection as the batch entry. Directly
  *      after bootstrap the maintained counts equal the reference, so
  *      PSI is exactly 0 — drift shows up as later batches shift the
  *      mix (the retrain alarm, live instead of nightly).
  */
class StreamingPsiJob(spark: SparkSession, modelPath: String,
                      compactEvery: Int = 16) extends MicroBatchJob {

  /** The frozen (bounds, reference) pair. */
  private def model(fit: => Option[Seq[DataFrame]]): Option[Seq[DataFrame]] =
    DeltaStore.frozenModel(spark, modelPath, "bounds", "reference")(fit)

  private[graft] val state = DeltaStore.additive(spark, modelPath,
    "psi_counts", Seq("event_type", "bucket"), Seq("n"), compactEvery)

  /** The persisted boundary table, once bootstrapped. */
  def readBounds(): Option[DataFrame] = model(None).map(_.head)

  private def bucketCounts(events: DataFrame, bounds: DataFrame): DataFrame =
    events.select(col("event_type"), col("value"))
      .join(broadcast(bounds), "event_type")
      .withColumn("bucket", Analytics.psiBucket)
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))

  /** One micro-batch of (event_type, value, ...) rows — each event
    * arrives once. */
  def processBatch(events: DataFrame, batchId: Long): Unit = {
    // an empty batch must never reach the bootstrap: a boundary table
    // fitted on zero rows would become the permanent reference
    if (events.isEmpty) return
    val bounds = model {
      val b = Analytics.psiBounds(events.select(col("event_type"), col("value")))
        .localCheckpoint(true)
      Some(Seq(b, bucketCounts(events, b)))
    }.get.head
    state.append(bucketCounts(events, bounds), batchId)
  }

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, Long)].toDF("event_type", "bucket", "n")
  }

  /** PSI of the maintained stream counts against the immutable
    * reference — the batch entry's smoothed fold, with the reference
    * as the "first" side. n_first/n_second report the two masses.
    */
  def readPsi(): DataFrame = {
    val ref = model(None).fold(empty)(_(1))
    val cur = state.state().getOrElse(empty)
    Analytics.psiFold(
      ref.select(col("event_type"), col("bucket"), col("n").as("a"))
        .join(cur.select(col("event_type"), col("bucket"), col("n").as("b")),
          Seq("event_type", "bucket"), "full")
        .na.fill(0L, Seq("a", "b")))
  }
}
