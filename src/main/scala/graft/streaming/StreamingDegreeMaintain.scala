package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.ParquetUpsertSink
import graft.sources.MicroBatchJob

/** Continuous face of [[graft.queries.Graph.degreeMaintain]] — the
  * maintained co-purchase degree table kept current from a stream of
  * completed order baskets, where the maintained object is the edge
  * SET, not an additive count.
  *
  * Input contract: each micro-batch carries COMPLETE baskets — rows
  * (l_orderkey, l_partkey) where no order spans batches (the shape an
  * order-completion feed delivers; the batch face's epoch split has
  * the same whole-order granularity). Per batch:
  *
  *   - the batch's canonical (src < dst) pairs expand MAP-SIDE from
  *     per-order sorted baskets ([[graft.dedup.Dedup.postingPairs]] —
  *     never a fact self-join);
  *   - the NOVELTY check anti-joins them against the pre-batch edge
  *     set restricted to the batch's dirty buckets
  *     ([[ParquetUpsertSink.readDirtyState]] — every batch edge hashes
  *     into a dirty bucket, so the check equals one against the full
  *     set at ¦dirty buckets¦ cost);
  *   - only genuinely-new edges' endpoints fold into the degree state,
  *     a [[DeltaStore]] of (node, d_deg) deltas — degree
  *     increments are abelian once the set-novelty check has fired.
  *
  * Crash discipline (the [[StreamingTopKMaintainJob]] rules — the
  * delta is computed AGAINST PRE-BATCH STATE, so first durable write
  * wins and steps mutate each other's inputs only forward):
  *
  *   (1) persist Δdegree via `appendOnce` — reads the edge sink
  *       (mutated @2); a replay that finds the delta durable never
  *       recomputes it, one that doesn't finds the sink exactly as the
  *       crashed attempt read it (step 2 never ran);
  *   (2) upsert the batch's pairs into the edge sink — idempotent
  *       latest-image merge keyed on (src, dst).
  *
  * Scale shape: per-batch cost is Θ(batch baskets + batch pairs) plus
  * one keyed probe of the maintained set's dirty buckets; the degree
  * fold is ¦V¦-sized; nothing ever rescans edge history. The batch
  * face's oracle certifies the identical fold arithmetic against a
  * from-scratch recompute; the spec holds streamed == batch at every
  * micro-batch here.
  */
class StreamingDegreeMaintainJob(
    spark: SparkSession, statePath: String,
    numBuckets: Int = 8, compactEvery: Int = 16) extends MicroBatchJob {

  private[graft] val edgeSink =
    new ParquetUpsertSink(spark, s"$statePath/edges", Seq("src", "dst"), numBuckets)
  private[graft] val degrees = DeltaStore.additive(spark, statePath,
    "degree", Seq("node"), Seq("d_deg"), compactEvery)

  /** Canonical (src < dst) distinct pairs of one batch of complete
    * baskets — map-side expansion, one basket groupBy + one pair
    * distinct shuffle, both batch-sized.
    */
  private[graft] def batchPairs(batch: DataFrame): DataFrame = batch
    .groupBy("l_orderkey")
    .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    .filter(size(col("parts")) >= 2)
    .select(explode(graft.dedup.Dedup.postingPairs(col("parts"))).as("pr"))
    .select(col("pr.id_a").as("src"), col("pr.id_b").as("dst"))
    .distinct()

  /** The set-union novelty check: batch pairs minus the maintained set
    * (dirty buckets only). */
  private def novel(pairs: DataFrame): DataFrame =
    if (!edgeSink.stateExists) pairs
    else pairs.join(
      edgeSink.readDirtyState(pairs.withColumn("ts_ms", lit(0L)))
        .select("src", "dst"),
      Seq("src", "dst"), "left_anti")

  private def degreeDelta(delta: DataFrame): DataFrame = delta
    .select(col("src").as("node"))
    .union(delta.select(col("dst").as("node")))
    .groupBy("node").agg(count(lit(1)).as("d_deg"))

  /** One micro-batch; `stopAfterStep` (2 = completion) is the specs'
    * crash-injection hook — the step order is load-bearing, see the
    * class scaladoc.
    */
  private[graft] def processBatchSteps(batch: DataFrame, batchId: Long,
                                       stopAfterStep: Int): Unit = {
    val pairs = batchPairs(batch).localCheckpoint(true)
    degrees.appendOnce(degreeDelta(novel(pairs)), batchId)
    if (stopAfterStep < 2) return
    if (!pairs.isEmpty) edgeSink.merge(
      pairs.withColumn("op", lit("c"))
        .withColumn("first_batch", lit(batchId))
        .withColumn("ts_ms", lit(batchId))
        .withColumn("seq", lit(0L)),
      batchId)
  }

  /** One micro-batch of (l_orderkey, l_partkey) rows carrying
    * complete baskets. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    processBatchSteps(batch, batchId, stopAfterStep = 2)

  /** The maintained degree table (node, degree). Empty before the
    * first commit. */
  def readDegrees(): DataFrame = degrees.state() match {
    case None => spark.emptyDataFrame
      .select(lit(0L).as("node"), lit(0L).as("degree")).limit(0)
    case Some(s) => s.filter(col("d_deg") > 0)
      .select(col("node"), col("d_deg").as("degree"))
  }
}
