package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField}
import graft.sources.{CorpusIO, LocalFs, MicroBatch}

/** Continuous JSONL landing-zone ingestion — the streaming face of
  * [[CorpusIO]]: a corpus-building pipeline's producers drop jsonl
  * shards into a landing directory; Spark's file streaming source
  * tracks processed files in the checkpoint (exactly-once file
  * accounting), each micro-batch parses with the explicit schema +
  * PERMISSIVE corrupt capture, clean rows land in the parquet corpus,
  * corrupt raw lines land in a quarantine area, and ingest counters
  * maintain additively.
  *
  * Idempotency under at-least-once foreachBatch replay, per sink:
  *   - corpus/quarantine: each batch OVERWRITES its own
  *     `batch=<id>` subdirectory — a replayed batch rewrites the same
  *     rows in place instead of appending duplicates (the
  *     batch-id-scoped-output discipline every exactly-once file sink
  *     uses). A subdirectory counts once its `_SUCCESS` marker exists,
  *     which every write leaves whatever the session's committer conf;
  *     readers skip one whose write crashed;
  *   - counters: [[DeltaStore]]'s batchId-keyed appends.
  *
  * At 100 TB nothing here is driver-sized: the parse is a map-side
  * projection, the quarantine split a filter, the writes partitioned;
  * the only state is the file-source log and the two-row counter.
  */
class StreamingJsonlIngestJob(spark: SparkSession, corpusPath: String,
                              quarantinePath: String, statsPath: String,
                              compactEvery: Int = 16) {

  private[graft] val stats = DeltaStore.additive(spark, statsPath,
    "ingest_stats", Seq("k"), Seq("n"), compactEvery)

  /** One micro-batch of PERMISSIVE-parsed rows (data cols +
    * `_corrupt_record`).
    */
  def processBatch(parsed: DataFrame, batchId: Long): Unit = {
    val p = parsed.localCheckpoint(true)
    val (clean, bad) = CorpusIO.quarantine(p)
    clean.write.options(DeltaStore.writeOptions).mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
    bad.write.options(DeltaStore.writeOptions).mode("overwrite").text(s"$quarantinePath/batch=$batchId")
    stats.append(
      clean.select(lit("clean").as("k"))
        .unionAll(bad.select(lit("corrupt").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n")),
      batchId)
  }

  /** The committed batch subdirectories of `path`: a dir whose write
    * crashed before its `_SUCCESS` is no data. Before the first commit a
    * bare read would throw AnalysisException; the readers return an
    * empty frame of the contract schema instead.
    */
  private def batches(path: String): Seq[String] = {
    val p = new Path(path)
    DeltaStore.committedBatches(LocalFs.fileSystem(p, spark.sparkContext.hadoopConfiguration), p).map(_.toString)
  }

  private def emptyOf(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The ingested corpus (batch partition column dropped); empty with
    * the corpus schema before any batch has been processed.
    */
  def readCorpus(): DataFrame = batches(corpusPath) match {
    case Seq() => emptyOf(CorpusIO.DocSchema)
    case dirs => spark.read.parquet(dirs: _*)
  }

  /** Quarantined raw lines across all batches; empty before any batch. */
  def readQuarantine(): DataFrame = batches(quarantinePath) match {
    case Seq() => emptyOf(org.apache.spark.sql.types.StructType(Seq(StructField("raw_line", StringType))))
    case dirs => spark.read.text(dirs: _*).toDF("raw_line")
  }

  /** (k, n) ingest counters: clean / corrupt line totals. */
  def readStats(): DataFrame = {
    import spark.implicits._
    stats.state().getOrElse(Seq.empty[(String, Long)].toDF("k", "n"))
      .orderBy("k")
  }

  /** Watch a landing directory continuously. The file source's
    * checkpointed file log makes each shard process exactly once.
    */
  def start(landingDir: String, checkpoint: String,
            trigger: Trigger = MicroBatch.DefaultTrigger): StreamingQuery =
    MicroBatch.start(
      spark.readStream
        .schema(CorpusIO.DocSchema.add(StructField("_corrupt_record", StringType)))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(landingDir),
      checkpoint, trigger)(processBatch)
}
