package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Analytics
import graft.sources.MicroBatchJob

/** Streaming maintenance of the exact-cents daily revenue substrate —
  * ONE maintained (priority, day, n_orders, cents) relation serving
  * BOTH calendar read faces: the RANGE-framed rolling 7-day revenue
  * (`rolling_revenue_7d`) and the month-over-month growth
  * (`monthly_growth`). The one-relation-many-faces amortization the
  * daily-counts job demonstrates for the monitoring stack, here for
  * the revenue stack.
  *
  * Every column is additive (counts and integer cents), so the
  * [[DeltaStore]] contract applies verbatim; the faces are
  * [[Analytics.rollingRevenueFace]] / [[Analytics.monthlyGrowthFace]]
  * — the batch entries' own projections — so streamed == batch is
  * structural and exact (no FP residue: the cents quantize at the
  * substrate's own (priority, day) grain in both paths).
  */
class StreamingDailyRevenueJob(spark: SparkSession, statePath: String,
                               compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val state = DeltaStore.additive(spark, statePath,
    "daily_revenue", Seq("priority", "day"), Seq("n_orders", "cents"), compactEvery)

  /** One micro-batch of order rows (o_orderpriority, o_orderdate,
    * o_totalprice). Orders are immutable facts — each arrives once, so
    * per-batch daily aggregates are true deltas. */
  def processBatch(orders: DataFrame, batchId: Long): Unit =
    state.append(Analytics.dailyRevenue(orders), batchId)

  private def empty: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Long)]
      .toDF("priority", "day", "n_orders", "cents")
  }

  /** Maintained rolling 7-day revenue — the batch entry's own face. */
  def readRolling(): DataFrame =
    Analytics.rollingRevenueFace(state.state().getOrElse(empty))

  /** Maintained month-over-month growth — the batch entry's own face. */
  def readMonthly(): DataFrame =
    Analytics.monthlyGrowthFace(state.state().getOrElse(empty))
}
