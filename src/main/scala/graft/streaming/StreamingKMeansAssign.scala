package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.KMeans
import graft.sources.MicroBatchJob

/** Streaming cluster assignment — the model-serving face of
  * [[KMeans.embeddingKmeans]] for a continuous embedding ingest
  * (the bootstrap-then-immutable pattern of
  * [[StreamingAnnIngestJob]]'s quantizers applied to the centroid
  * table):
  *
  *   1. the FIRST non-empty batch trains the k-means model with the
  *      SAME Lloyd machinery as the batch face and persists the
  *      centroid table ([[DeltaStore.frozenModel]]) — immutable
  *      afterwards, which is what makes
  *      every assignment replay-reproducible (a centroid table that
  *      drifted between attempts would assign a replayed batch
  *      differently);
  *   2. every batch assigns ITSELF map-side against the persisted
  *      broadcast centroids (fused codegen l2sq + partially-aggregated
  *      argmin — the batch face's plan) and appends its
  *      (vec_id, cluster_id, dist) rows to the `assign` log
  *      ([[DeltaStore.log]]);
  *   3. per-cluster population and inertia (Σ dist) fold in an
  *      [[DeltaStore]] — both are sums over rows of a pure
  *      per-batch function (the centroids never change), so the
  *      additive replay/compaction/crash contract applies verbatim.
  *      The read face is the drift monitor a serving pipeline
  *      watches: a cluster whose mean distance creeps up is a model
  *      due for retraining.
  *
  * Per-batch cost scales with the batch (assignment is one broadcast
  * probe; nothing historical is ever rescored), and the maintained
  * stats are k-bounded regardless of corpus size.
  */
class StreamingKMeansAssignJob(spark: SparkSession, modelPath: String,
                               compactEvery: Int = 16) extends MicroBatchJob {

  private def centroids(fit: => Option[DataFrame]): Option[DataFrame] =
    DeltaStore.frozenModel(spark, modelPath, "centroids")(fit.map(Seq(_))).map(_.head)

  private val assign = DeltaStore.log(spark, modelPath, "assign", Seq("vec_id", "cluster_id", "dist"))

  private[graft] val stats = DeltaStore.additive(spark, modelPath,
    "cluster_stats", Seq("cluster_id"), Seq("n", "sdist"), compactEvery)

  /** The persisted model, once the bootstrap batch has committed it. */
  def readCentroids(): Option[DataFrame] = centroids(None)

  /** One micro-batch of (vec_id, embedding) rows: bootstrap the model
    * on first contact, assign the batch against the persisted
    * centroids, append assignments + additive cluster-stat deltas.
    */
  def processBatch(embs: DataFrame, batchId: Long): Unit = {
    // an empty batch must never reach the bootstrap: a centroid table
    // trained on zero rows would be persisted as the immutable model
    // and permanently assign every later batch to nothing
    if (embs.isEmpty) return
    val widened = KMeans.widen(embs).localCheckpoint(true)
    val cents = centroids {
      val c = KMeans.train(widened)
      require(!c.isEmpty,
        s"refusing to persist an empty k-means model for $modelPath")
      Some(c)
    }.get
    val assigned = KMeans.assign(widened, cents)
      .select(col("vec_id"), col("cluster_id"), col("dist"))
      .localCheckpoint(true)
    // assignments first, stats second: a crash between the two writes
    // is healed by the replay overwriting both (the immutable model
    // makes the recompute byte-stable)
    assign.append(assigned, batchId)
    stats.append(
      assigned.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("sdist")),
      batchId)
  }

  /** Everything assigned so far. Empty before the first commit. */
  def readAssignments(): DataFrame = assign.readDeltas().getOrElse(emptyAssignments)

  /** The maintained drift monitor: (cluster_id, n_vecs, mean_dist). */
  def readStats(): DataFrame = stats.state() match {
    case Some(s) => s.select(col("cluster_id"), col("n").as("n_vecs"),
      (col("sdist") / col("n")).as("mean_dist"))
    case None => emptyAssignments
      .select(col("cluster_id"), lit(0L).as("n_vecs"), lit(0.0).as("mean_dist"))
      .limit(0)
  }

  private def emptyAssignments: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Double)].toDF("vec_id", "cluster_id", "dist")
  }
}
