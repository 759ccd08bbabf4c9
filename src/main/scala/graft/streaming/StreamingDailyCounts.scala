package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Analytics
import graft.sources.MicroBatchJob

/** Streaming maintenance of the per-(event_type, day) count state —
  * the continuous substrate under the monitoring stack
  * (`gap_fill_daily`, `cusum_changepoint`, `series_correlation`): one
  * maintained table serves every read face, so the pipeline-health
  * dashboard is always current without re-scanning event history.
  *
  *   1. each micro-batch aggregates its own rows to (type, day, n)
  *      deltas — counts are sums over rows, genuinely additive, so the
  *      [[DeltaStore]] replay/compaction/crash contract
  *      applies verbatim (plain append idempotence; no pre-batch read);
  *   2. the state is ¦types¦·¦days¦-bounded regardless of event
  *      volume — per-batch cost scales with the batch, the fold with
  *      the grid;
  *   3. the read faces run the SAME dims-only code paths as the batch
  *      entries ([[Analytics.densifyDaily]], [[Analytics.cusumOver]]),
  *      so streamed == batch is a structural identity, not a parallel
  *      implementation (spec-held exactly — integer counts fold with
  *      no FP residue).
  */
class StreamingDailyCountsJob(spark: SparkSession, statePath: String,
                              compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "daily_counts", Seq("event_type", "day"), Seq("n_events"), compactEvery)

  /** One micro-batch of event rows (needs `event_type`, `ts`). */
  def processBatch(events: DataFrame, batchId: Long): Unit =
    state.append(
      events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events")),
      batchId)

  /** The folded sparse counts. None before the first commit. */
  def readDaily(): Option[DataFrame] = state.state()

  /** The zero-filled dense grid — identical arithmetic to the batch
    * `gap_fill_daily` face. Empty before the first commit. */
  def readGrid(): DataFrame = readDaily() match {
    case Some(d) => Analytics.densifyDaily(d)
    case None => emptyGrid
  }

  /** Maintained change-points — the batch `cusum_changepoint`
    * detector over the maintained grid. Empty before the first
    * commit. */
  def readChangepoints(): DataFrame = readDaily() match {
    case Some(d) => Analytics.cusumOver(Analytics.densifyDaily(d))
    case None => emptyGrid
      .select(col("event_type"), col("day").as("change_day"),
        lit(0.0).as("cusum_stat"), lit(0L).as("n_days")).limit(0)
  }

  private def emptyGrid: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long)].toDF("event_type", "day", "n_events")
  }
}
