package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{AggMaintain, CdcOps, JoinMaintain, ParquetUpsertSink}
import graft.sources.MicroBatch

/** Continuous face of [[graft.cdc.JoinMaintain]]: keep the aggregated
  * join view V = γ_{A.grp}(A ⋈_{A.key=B.fk} B) current from ONE
  * multiplexed CDC stream carrying both tables (the delivery shape of
  * [[graft.cdc.CdcMultiTableStreamJob]] — real Debezium connectors
  * carry many tables on one topic), with every micro-batch paying
  * batch-sized cost:
  *
  *   - both base states live in [[ParquetUpsertSink]]s (bucketed;
  *     a batch rewrites dirty buckets, never the world);
  *   - the per-fk aggregate of B (the auxiliary index the A-side delta
  *     joins) and the view itself are FOLDS of per-batch delta rows in
  *     [[DeltaStore]]s — once a delta is computed, applying it
  *     is pure addition, so the fold machinery (high-water replay
  *     skip, manifest-published appends and compaction) carries all
  *     the operability.
  *
  * The crash/replay discipline is subtler than the additive jobs',
  * because here deltas are computed AGAINST PRE-BATCH STATE — a replay
  * that recomputed one after the state advanced would retract images
  * that were never added. Two rules make every crash point converge:
  *
  *   1. deltas are persisted with [[DeltaStore.appendOnce]]
  *      (first durable write wins; the delta expression is not even
  *      evaluated on a replay that finds it), and
  *   2. the batch's steps are ordered so each step's INPUTS are only
  *      mutated by LATER steps:
  *         (1) persist ΔV_A   — reads A-state, idx fold   (mutated @3,@2)
  *         (2) persist Δidx   — reads B-state             (mutated @5)
  *         (3) merge A batch  — idempotent sink merge
  *         (4) persist ΔV_B   — reads B-state, A-state    (wants post-3 A)
  *         (5) merge B batch
  *      A replay therefore recomputes a delta only if NO later step
  *      ran (its own write is the earliest missing artifact), so the
  *      state it reads is exactly the state the crashed attempt read.
  *      Sink merges re-apply the same latest-images (idempotent), and
  *      a fresh-checkpoint full replay skips every delta and re-merges
  *      every batch in order — the view is untouched and the states
  *      converge to themselves.
  */
class StreamingJoinMaintainJob(
    spark: SparkSession, statePath: String,
    aKey: String = "user_id", grpCol: String = "last_event_type",
    bKey: String = "o_orderkey", fkCol: String = "cust", valCol: String = "val",
    numBuckets: Int = 8, compactEvery: Int = 16) {

  private[graft] val aSink =
    new ParquetUpsertSink(spark, s"$statePath/a_state", Seq(aKey), numBuckets)
  private[graft] val bSink =
    new ParquetUpsertSink(spark, s"$statePath/b_state", Seq(bKey), numBuckets)
  private[graft] val idx = DeltaStore.additive(spark, statePath, "idx",
    Seq("grp"), Seq("d_n", "d_cents"), compactEvery)
  private[graft] val viewA = DeltaStore.additive(spark, statePath, "view_a",
    Seq("grp"), Seq("d_n", "d_cents"), compactEvery)
  private[graft] val viewB = DeltaStore.additive(spark, statePath, "view_b",
    Seq("grp"), Seq("d_n", "d_cents"), compactEvery)

  private def emptyState(batch: DataFrame, keyCols: Seq[String],
                         dataCols: Seq[String]): DataFrame =
    CdcOps.latestState(batch.filter(lit(false)), keyCols, dataCols).drop("n_changes")

  /** Before-image substrates for the two signed-image deltas: the
    * committed state restricted to the batch's dirty buckets
    * ([[ParquetUpsertSink.readDirtyState]] — every batch key hashes
    * into a dirty bucket, so the delta equals one computed against the
    * full state, spec-held there). Batch-sized, never state-sized.
    */
  private def aPre(aBatch: DataFrame): DataFrame =
    if (aSink.stateExists) aSink.readDirtyState(aBatch)
    else emptyState(aBatch, Seq(aKey), Seq(grpCol))

  private def bPre(bBatch: DataFrame): DataFrame =
    if (bSink.stateExists) bSink.readDirtyState(bBatch)
    else emptyState(bBatch, Seq(bKey), Seq(fkCol, valCol))

  /** FULL post-merge A state for the B-side delta's enrichment join —
    * a B row's fk can point at ANY A key, not just this batch's dirty
    * buckets, so this one read legitimately spans the state (on a real
    * cluster: the bucketed-join side of a co-partitioned probe, not a
    * scan the maintenance path could avoid).
    */
  private def aFull(aBatch: DataFrame): DataFrame =
    if (aSink.stateExists) aSink.readState()
    else emptyState(aBatch, Seq(aKey), Seq(grpCol))

  /** The maintained per-fk aggregate of B, in [[AggMaintain.groupAgg]]
    * shape (grp, n_rows, sum_cents) — zero-support groups dropped, as
    * [[AggMaintain.applyDelta]] would.
    */
  private def idxFold(bBatch: DataFrame): DataFrame = idx.state() match {
    case Some(s) => s.filter(col("d_n") > 0)
      .select(col("grp"), col("d_n").as("n_rows"), col("d_cents").as("sum_cents"))
    case None => AggMaintain.groupAgg(
      emptyState(bBatch, Seq(bKey), Seq(fkCol, valCol)), fkCol, valCol)
  }

  private def aggSigned(signed: DataFrame): DataFrame =
    signed.groupBy("grp").agg(sum("dn").as("d_n"), sum("dc").as("d_cents"))

  /** One micro-batch, both tables. `stopAfterStep` is a crash-injection
    * hook for specs (5 = run to completion); see the class scaladoc for
    * the step numbering and why the order is load-bearing.
    */
  private[graft] def processBatchSteps(aBatch: DataFrame, bBatch: DataFrame,
                                       batchId: Long, stopAfterStep: Int): Unit = {
    // lazy: aPre/bPre collect dirty-bucket ids driver-side, and
    // appendOnce takes its delta BY NAME — on a replayed batch every
    // appendOnce returns before forcing its argument, so neither
    // before-image read happens (two avoided batch scans per replay)
    lazy val a0 = aPre(aBatch)
    lazy val b0 = bPre(bBatch)
    viewA.appendOnce(aggSigned(
      JoinMaintain.deltaFromA(a0, aBatch, idxFold(bBatch), aKey, grpCol)), batchId)
    if (stopAfterStep < 2) return
    idx.appendOnce(
      AggMaintain.epochDelta(b0, bBatch, Seq(bKey), fkCol, valCol), batchId)
    if (stopAfterStep < 3) return
    if (!aBatch.isEmpty) aSink.merge(aBatch, batchId)
    if (stopAfterStep < 4) return
    val aNew = aFull(aBatch)
    viewB.appendOnce(aggSigned(
      JoinMaintain.deltaFromB(b0, bBatch, aNew, bKey, fkCol, valCol, aKey, grpCol)), batchId)
    if (stopAfterStep < 5) return
    if (!bBatch.isEmpty) bSink.merge(bBatch, batchId)
  }

  def processBatch(aBatch: DataFrame, bBatch: DataFrame, batchId: Long): Unit =
    processBatchSteps(aBatch, bBatch, batchId, stopAfterStep = 5)

  /** The maintained view: one sum-combine over the two delta folds.
    * (grp, n_pairs, sum_cents); emptied groups vanish (integer
    * arithmetic — count 0 implies cents 0, as in
    * [[AggMaintain.applyDelta]]). Empty before the first commit.
    */
  def readView(): DataFrame = (viewA.readDeltas(), viewB.readDeltas()) match {
    case (None, None) => spark.emptyDataFrame
      .select(lit("").as("grp"), lit(0L).as("n_pairs"), lit(0L).as("sum_cents")).limit(0)
    case (a, b) =>
      (a.toSeq ++ b.toSeq).reduce(_ unionByName _)
        .groupBy("grp")
        .agg(sum("d_n").as("n_pairs"), sum("d_cents").as("sum_cents"))
        .filter(col("n_pairs") > 0)
  }

  /** Run continuously over a multiplexed stream; `splitA`/`splitB`
    * route and project each micro-batch to the two changelog schemas
    * (keyCols ++ dataCols ++ op, ts_ms, seq) — the same pre-parse
    * routing contract as [[graft.cdc.CdcMultiTableStreamJob]].
    */
  def start(tagged: DataFrame, splitA: DataFrame => DataFrame,
            splitB: DataFrame => DataFrame, checkpoint: String,
            trigger: Trigger = MicroBatch.DefaultTrigger): StreamingQuery =
    MicroBatch.start(tagged, checkpoint, trigger) { (batch, batchId) =>
      processBatch(splitA(batch), splitB(batch), batchId)
    }
}
