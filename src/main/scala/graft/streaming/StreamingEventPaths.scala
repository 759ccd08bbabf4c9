package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.ParquetUpsertSink
import graft.queries.Analytics
import graft.sources.MicroBatchJob

/** Streaming maintenance of each user's journey PREFIX — the first
  * [[Analytics.PathLen]] events by (ts, event_id) — with the batch
  * `event_paths` histogram as its read face.
  *
  * The maintained object is a per-key BOTTOM-K under a total order: a
  * semilattice (idempotent, commutative, associative merge), which is
  * what makes the maintenance trivially correct under at-least-once
  * replay with NO delta-ordering discipline:
  *
  *   - per batch, the batch's own rows are pruned to ≤k per user
  *     FIRST (a batch-sized rank window — event volume never reaches
  *     the state), then lattice-merged with the committed prefixes of
  *     the touched users only ([[ParquetUpsertSink.readDirtyState]] —
  *     per-batch cost is dirty-buckets-sized, never state-sized);
  *   - `bottomK(state ∪ batch)` recomputed on a replayed batch equals
  *     the already-committed state (the batch's rows are already
  *     folded in), so the latest-image upsert re-commits the same
  *     image — idempotent without the appendOnce machinery the
  *     non-idempotent additive folds need;
  *   - out-of-order arrival is absorbed structurally: a late-but-
  *     earlier event displaces the k-th element on merge, exactly as
  *     the batch rank would have placed it.
  *
  * The read face explodes the prefix arrays into (user_id, rn,
  * event_type) rows and runs [[Analytics.pathHistogram]] — the SAME
  * code path as the batch entry, so streamed == batch is structural.
  */
class StreamingEventPathsJob(spark: SparkSession, statePath: String,
                             k: Int = Analytics.PathLen, numBuckets: Int = 8) extends MicroBatchJob {

  private[graft] val sink =
    new ParquetUpsertSink(spark, s"$statePath/state", Seq("user_id"), numBuckets)

  private val prefixType =
    "array<struct<ts:timestamp,event_id:bigint,event_type:string>>"

  private def emptyPre: DataFrame = {
    import spark.implicits._
    Seq.empty[Long].toDF("user_id")
      .withColumn("prefix", expr(s"CAST(array() AS $prefixType)"))
  }

  /** One micro-batch of event rows (user_id, ts, event_id, event_type). */
  def processBatch(events: DataFrame, batchId: Long): Unit = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cand = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("user_id")
      .agg(collect_list(struct(col("ts"), col("event_id"), col("event_type")))
        .as("cand"))
    val pre =
      if (sink.stateExists) sink.readDirtyState(cand).select("user_id", "prefix")
      else emptyPre
    val merged = cand.join(pre, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        slice(array_distinct(array_sort(concat(
          coalesce(col("prefix"), expr(s"CAST(array() AS $prefixType)")),
          coalesce(col("cand"), expr(s"CAST(array() AS $prefixType)"))))),
          1, k).as("prefix"))
    sink.merge(merged
      .withColumn("op", lit("u"))
      .withColumn("ts_ms", lit(batchId))
      .withColumn("seq", lit(0L)), batchId)
  }

  /** Maintained prefix rows (user_id, rn, event_type). Empty before
    * the first commit. */
  def readPrefixes(): DataFrame =
    if (!sink.stateExists)
      emptyPre.select(col("user_id"), lit(1).as("rn"), lit("").as("event_type")).limit(0)
    else sink.readState()
      .select(col("user_id"), posexplode(col("prefix")))
      .select(col("user_id"), (col("pos") + 1).cast("int").as("rn"),
        col("col.event_type").as("event_type"))

  /** The batch `event_paths` histogram over the maintained prefixes —
    * [[Analytics.pathHistogram]] verbatim. */
  def readPaths(): DataFrame = Analytics.pathHistogram(readPrefixes())
}
