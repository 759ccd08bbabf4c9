package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.Ann
import graft.sources.{LocalFs, MicroBatchJob}

/** Streaming k-NN-graph maintenance — the continuous face of
  * [[graft.similarity.Ann.knnGraphIncremental]], built on the
  * persisted-artifact pattern [[StreamingAnnIngestJob]] establishes:
  *
  *   1. the first non-empty batch trains the coarse quantizer and
  *      persists it ([[DeltaStore.frozenModel]]) — immutable
  *      afterwards, so cell membership is stable and every later batch
  *      assigns map-side with no retraining;
  *   2. every batch appends its cell assignment to the `assigned` log
  *      ([[DeltaStore.log]]);
  *   3. ONLY the batch's DIRTY cells re-rank their edge lists — a
  *      clean cell's top-k provably cannot change because candidates
  *      never cross cells (the [[Ann.knnGraphIncremental]] IVM bound,
  *      spec'd there as bit-identical carry-over) — and the edge
  *      store is parquet PARTITIONED BY cell written under dynamic
  *      partition overwrite, so the publish touches exactly the dirty
  *      partitions. Per-batch cost is Σ|dirty cell|² + the batch
  *      assignment scan, never the accumulated corpus.
  *
  * Replay consistency: a replayed batch rewrites a byte-identical
  * assignment (immutable quantizer ⇒ same cells), and the edge
  * recompute is a pure function of (accumulated assignment, dirty
  * cells) — a replayed batch re-publishes the same edge partitions it
  * published the first time, so the graph converges to exactly the
  * batch recompute regardless of replays (asserted in the spec).
  */
class StreamingKnnMaintainJob(spark: SparkSession, indexPath: String,
                              nCells: Int = 16, k: Int = 5) extends MicroBatchJob {

  private val edgesDir = new Path(indexPath, "edges")
  private val assigned = DeltaStore.log(spark, indexPath, "assigned", Seq("vec_id", "embedding", "cell"))
  private def centroids(fit: => Option[DataFrame]): Option[DataFrame] =
    DeltaStore.frozenModel(spark, indexPath, "centroids")(fit.map(Seq(_))).map(_.head)

  def readCentroids(): Option[DataFrame] = centroids(None)

  /** The accumulated (vec_id, embedding, cell) assignment. */
  def readAssigned(): Option[DataFrame] = assigned.readDeltas()

  /** The current edge list (vec_id, neighbor_id, rank, cosine). Empty
    * frame before the first commit.
    */
  def readGraph(): DataFrame =
    if (LocalFs.fileSystem(edgesDir, spark.sparkContext.hadoopConfiguration).exists(edgesDir))
      spark.read.parquet(edgesDir.toString).select("vec_id", "neighbor_id", "rank", "cosine")
    else spark.range(0).select(col("id").as("vec_id"), col("id").as("neighbor_id"),
      lit(1).as("rank"), lit(0.0).as("cosine")).limit(0)

  /** One micro-batch: bootstrap the quantizer on first contact, assign
    * the batch map-side, append its assignment, re-rank the dirty
    * cells' edge lists against the accumulated assignment.
    */
  def processBatch(embs: DataFrame, batchId: Long): Unit = {
    assigned.checkOrWriteFormat("_knn_geometry", s"knn:cells=$nCells,k=$k", stampUnmarked = true)
    // an empty batch must not reach the bootstrap (an empty quantizer
    // would permanently assign every later batch to zero cells)
    if (embs.isEmpty) return
    val cents = centroids {
      val (c, _) = Ann.ivfIndex(embs, nCells)
      require(!c.isEmpty,
        s"refusing to persist an empty IVF quantizer for $indexPath")
      Some(c)
    }.get
    val newAssigned = Ann.assignCells(cents, embs)
      .localCheckpoint(true)
    assigned.append(newAssigned, batchId)
    val dirty = newAssigned.select("cell").distinct()
    val all = readAssigned().get
    // the IVM step: candidates never cross cells, so re-ranking the
    // dirty cells IS the full recompute for every affected point
    val dirtyAssigned = all.join(broadcast(dirty), "cell")
    val dirtyEdges = Ann.knnGraphEdges(dirtyAssigned, k)
      .join(all.select(col("vec_id"), col("cell")), "vec_id")
      .select("cell", "vec_id", "neighbor_id", "rank", "cosine")
    // dynamic partition overwrite: ONLY the dirty cell partitions are
    // replaced; clean cells' files are untouched (asserted in the spec
    // via file modification times)
    dirtyEdges.write.options(LocalFs.writeOptions)
      .partitionBy("cell")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(edgesDir.toString)
  }
}
