package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.MicroBatchJob

/** Streaming maintenance of the per-user activity-count relation — the
  * continuous face of `user_activity_gini`
  * ([[graft.queries.Analytics.userActivityGini]]).
  *
  * Event counts per user are additive when each event arrives exactly
  * once, so the [[DeltaStore]] contract applies verbatim;
  * state is user-sized regardless of event volume. The read face folds
  * the maintained counts through the SAME Gini/top-decile projection
  * as the batch entry, so streamed == batch is structural (all-integer
  * state, the face's own rounding).
  *
  * This is the concentration monitor a live sampling pipeline watches:
  * when the streamed Gini crosses a threshold, uniform per-user
  * sampling has stopped representing the traffic and the weighting /
  * capping policy needs to react — without a nightly batch recompute.
  */
class StreamingActivityJob(spark: SparkSession, statePath: String,
                           compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "user_activity", Seq("user_id"), Seq("x"), compactEvery)

  /** One micro-batch of event rows (user_id, ...) — each event arrives
    * once. */
  def processBatch(events: DataFrame, batchId: Long): Unit =
    state.append(
      events.groupBy("user_id").agg(count(lit(1)).as("x")), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("user_id", "x")
  }

  /** Maintained Gini + top-decile share — the batch entry's own
    * projection over the maintained counts.
    */
  def readGini(): DataFrame =
    graft.queries.Analytics.giniFace(state.state().getOrElse(empty))
}
