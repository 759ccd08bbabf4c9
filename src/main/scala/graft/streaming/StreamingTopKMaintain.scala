package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{AggMaintain, CdcOps, ParquetUpsertSink}
import graft.sources.MicroBatchJob

/** Continuous face of the maintained ordered-statistic family
  * ([[AggMaintain.topkMaintain]] / [[AggMaintain.minmaxMaintain]]):
  * keep the cents-granular (group, value) SUPPORT relation current
  * from a single-table CDC stream, and read top-k / min / max / median
  * as projections over it — the same one-relation-many-read-faces
  * amortization the batch faces share through `cdc_cents_support`.
  *
  *   - the base state lives in a [[ParquetUpsertSink]] (bucketed; a
  *     batch rewrites dirty buckets, never the world);
  *   - the support relation is a FOLD of per-batch (g, v, d_n) deltas
  *     in a [[DeltaStore]] — support counts form an abelian
  *     group, so once a delta is computed, applying it is pure
  *     addition and the fold machinery (high-water replay skip,
  *     manifest-published appends and compaction) carries the
  *     operability.
  *
  * Crash discipline (the [[StreamingJoinMaintainJob]] rules, collapsed
  * to the single-table case): the support delta is computed AGAINST
  * PRE-BATCH STATE, so it is persisted with
  * [[DeltaStore.appendOnce]] (first durable write wins) and
  * the batch's two steps are ordered so each step's inputs are only
  * mutated by later steps:
  *
  *   (1) persist Δsupport — reads the sink state (mutated @2)
  *   (2) merge the batch into the sink — idempotent latest-image merge
  *
  * A replay recomputes the delta only if step 1's write is missing, in
  * which case step 2 (later) never ran either, so the state it reads
  * is exactly the state the crashed attempt read; a replay that finds
  * the delta durable skips straight to the idempotent merge. A
  * fresh-checkpoint full replay therefore skips every delta and
  * re-merges every batch — the support relation is untouched.
  *
  * Scale shape: per-batch cost is batch-sized (the delta joins the
  * batch's keys against the state's dirty buckets — the read the merge
  * pays anyway), the fold state is ¦distinct (g,v)¦-sized, and the
  * read faces scan only it. Nothing rescans the base state — at 100 TB
  * of state the classic "retract the leader → rescan the group" cost
  * this construction exists to avoid.
  */
class StreamingTopKMaintainJob(
    spark: SparkSession, statePath: String,
    key: String = "user_id", grpCol: String = "last_event_type",
    valCol: String = "last_value", k: Int = 3,
    numBuckets: Int = 8, compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val sink =
    new ParquetUpsertSink(spark, s"$statePath/state", Seq(key), numBuckets)
  private[graft] val support = DeltaStore.additive(spark, statePath,
    "support", Seq("g", "v"), Seq("d_n"), compactEvery)

  /** Before-image substrate for the delta: the committed state
    * RESTRICTED to the batch's dirty buckets ([[ParquetUpsertSink
    * .readDirtyState]] — every batch key hashes into a dirty bucket,
    * so the delta equals one computed against the full state,
    * spec-held there). This is what keeps per-batch cost batch-sized:
    * ¦dirty buckets¦ × bucket size, never the whole state.
    */
  private def pre(batch: DataFrame): DataFrame =
    if (sink.stateExists) sink.readDirtyState(batch)
    else CdcOps.latestState(batch.filter(lit(false)), Seq(key), Seq(grpCol, valCol))
      .drop("n_changes")

  /** One micro-batch. `stopAfterStep` is a crash-injection hook for
    * specs (2 = run to completion); the step order is load-bearing —
    * see the class scaladoc.
    */
  private[graft] def processBatchSteps(batch: DataFrame, batchId: Long,
                                       stopAfterStep: Int): Unit = {
    support.appendOnce(
      AggMaintain.centsSupportDelta(pre(batch), batch, Seq(key), grpCol, valCol),
      batchId)
    if (stopAfterStep < 2) return
    if (!batch.isEmpty) sink.merge(batch, batchId)
  }

  /** One micro-batch of a keyed CDC changelog (keyCols ++ dataCols
    * ++ op, ts_ms, seq — the shared pre-parsed delivery shape). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    processBatchSteps(batch, batchId, stopAfterStep = 2)

  /** The folded support relation in the shared read-face shape
    * (grp: struct(g, v), n_rows) — emptied value levels vanish
    * (support count 0), as in the batch fold. Empty before the first
    * commit.
    */
  def readSupport(): DataFrame = support.state() match {
    case None => spark.emptyDataFrame.select(
      struct(lit("").as("g"), lit(0L).as("v")).as("grp"),
      lit(0L).as("n_rows"))
    case Some(s) => s.filter(col("d_n") > 0)
      .select(struct(col("g"), col("v")).as("grp"), col("d_n").as("n_rows"))
  }

  /** The maintained leaderboard — [[AggMaintain.readTopK]] over the
    * streamed support relation. */
  def readTopK(): DataFrame = AggMaintain.readTopK(readSupport(), k)

  /** Maintained min/max/median for free off the same relation. */
  def readExtrema(): DataFrame = AggMaintain.readExtrema(readSupport())
}
