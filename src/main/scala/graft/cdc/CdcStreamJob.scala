package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sources.MicroBatch

/** Reader/sink configuration — the reference's config surface
  * (/root/reference/src/main/scala/com/sg/job/streaming/StreamingUtils.scala:1-7),
  * kept source-compatible in spirit but generalized: a CDC stream can
  * come from Kafka (production), a JSON-lines directory (replayable
  * test/backfill source), or an in-memory stream (specs).
  */
final case class KafkaReaderConfig(
    kafkaBootstrapServers: String,
    topics: String,
    startingOffsets: String = "latest")

final case class JdbcConfig(
    url: String,
    user: String = "test",
    password: String = "Test123",
    tableName: String = "orders_it")

sealed trait CdcSource
final case class KafkaSource(config: KafkaReaderConfig) extends CdcSource
final case class FileSource(path: String) extends CdcSource
final case class MemorySource(raw: DataFrame) extends CdcSource

/** One table's binding in a multi-table CDC stream: which envelope
  * `source.table` it claims, where its state lives, and its shapes.
  * `numBuckets` is the most files its state is split into (see
  * [[ParquetUpsertSink]]: the state's size picks the bucket count).
  */
final case class TableRoute(
    table: String,
    statePath: String,
    keyCols: Seq[String],
    pkSchema: StructType,
    rowSchema: StructType,
    numBuckets: Int = 64)

/** One CDC stream's source, checkpoint and state. `numBuckets` is the
  * most files the state is split into (see [[ParquetUpsertSink]]: the
  * state's size picks the bucket count).
  */
final case class CdcJobConfig(
    source: CdcSource,
    checkpointLocation: String,
    statePath: String,
    keyCols: Seq[String],
    pkSchema: StructType,
    rowSchema: StructType,
    numBuckets: Int = 64)

/** Streaming CDC job: source → distributed envelope decode → keyed
  * upsert into a bucket-partitioned parquet state table.
  *
  * This is the reference's StreamingJobExecutor
  * (/root/reference/src/main/scala/com/sg/job/streaming/StreamingJobExecutor.scala:17-66)
  * re-expressed Spark-first:
  *   - the envelope decode is `from_json` (executor-side, codegen), not a
  *     driver loop;
  *   - the Delta `merge` becomes [[CdcOps.mergeChangeSet]] +
  *     [[ParquetUpsertSink]] with dirty-bucket-only rewrites;
  *   - `foreachBatch` + checkpointing gives exactly-once state evolution,
  *     as in the reference.
  *
  * The query is started by [[graft.sources.MicroBatch]], in the
  * caller's stream session: its offset, commit and file-source logs
  * (the write-ahead log of Structured Streaming) are written without
  * forking, in Spark's own on-disk format. The source and the sink are
  * built in that session too.
  */
class CdcStreamJob(spark: SparkSession, config: CdcJobConfig) {

  def readRaw(): DataFrame = CdcStreamJob.readRaw(spark, config.source)

  def parsed(): DataFrame = parsedIn(spark)

  private[cdc] def parsedIn(session: SparkSession): DataFrame =
    DebeziumEnvelope.parse(CdcStreamJob.readRaw(session, config.source),
      config.pkSchema, config.rowSchema)

  /** Start the continuous upsert. Each micro-batch is merged into the
    * parquet state with Delta-merge semantics.
    */
  def execute(trigger: Trigger = MicroBatch.DefaultTrigger): StreamingQuery = {
    val session = MicroBatch.session(spark)
    val sink = new ParquetUpsertSink(session, config.statePath, config.keyCols, config.numBuckets)
    MicroBatch.start(parsedIn(session), config.checkpointLocation, trigger) { (batch, batchId) =>
      sink.merge(flattenAfterImage(batch), batchId)
    }
  }

  /** Flatten parsed envelope rows (after-image struct) into the sink's
    * flat changelog shape: key cols + op + ts_ms + seq + data cols.
    *
    * `seq` is the within-millisecond tiebreak for the (ts_ms, seq)
    * recency order — Debezium's ts_ms is millisecond-resolution, so two
    * changes to one key in the same ms are common and a ts-only order
    * would pick a nondeterministic winner. Preference: the source log
    * position (`src_lsn`: Postgres lsn / MySQL pos — totally ordered
    * within a source), then the Kafka partition offset (ordered within
    * a key because Debezium keys the topic by PK), then ts_ms.
    *
    * Contract: within one topic all envelopes must draw `seq` from the
    * SAME ordinal domain — true for any single Debezium connector,
    * which emits lsn (or pos) either always or never. Mixing domains
    * (some rows lsn, some offset-only) would compare incomparable
    * ordinals inside a same-millisecond tie; don't merge streams from
    * heterogeneous connectors into one state table without normalizing
    * seq first.
    */
  def flattenAfterImage(parsed: DataFrame): DataFrame =
    CdcStreamJob.flattenAfterImage(parsed, config.keyCols, config.rowSchema)
}

object CdcStreamJob {
  val KafkaFormat = "kafka"

  /** Source → raw Kafka-shaped frame (string key/value [+ topic,
    * offset]) read in `spark` — shared by the single-table and
    * multi-table jobs. A [[MemorySource]] frame keeps its own session;
    * [[MicroBatch.start]] rebinds it.
    */
  def readRaw(spark: SparkSession, source: CdcSource): DataFrame = source match {
    case KafkaSource(k) =>
      spark.readStream
        .format(KafkaFormat)
        .options(kafkaOptions(k))
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value",
          "topic", "offset")
    case FileSource(path) =>
      spark.readStream
        .schema("key STRING, value STRING, topic STRING")
        .json(path)
    case MemorySource(raw) => raw
  }

  /** Static face of [[CdcStreamJob.flattenAfterImage]] (same contract —
    * see the instance scaladoc for the seq-domain discipline), usable
    * per route by the multi-table job.
    */
  def flattenAfterImage(parsed: DataFrame, keyCols: Seq[String],
                        rowSchema: StructType): DataFrame = {
    val dataCols = rowSchema.fieldNames.filterNot(keyCols.contains)
    val seqSources =
      Seq(col("src_lsn")) ++
        (if (parsed.columns.contains("offset")) Seq(col("offset")) else Seq.empty) ++
        Seq(col("ts_ms"), lit(0L))
    parsed.select(
      keyCols.map(col) ++ Seq(col("op"), col("ts_ms"),
        coalesce(seqSources: _*).as("seq")) ++
        dataCols.map(f => col(s"after.$f").as(f)): _*)
  }

  /** Reader options for the Kafka source — the reference's
    * StreamingJobExecutor.read surface
    * (/root/reference/src/main/scala/com/sg/job/streaming/StreamingJobExecutor.scala:36-46),
    * exposed as data so the plumbing is spec-checkable without a broker.
    */
  def kafkaOptions(k: KafkaReaderConfig): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.kafkaBootstrapServers,
    "subscribe" -> k.topics,
    "startingOffsets" -> k.startingOffsets,
    "failOnDataLoss" -> "false")
}

/** Multi-table CDC routing: ONE Debezium stream carrying N tables,
  * fanned to per-table [[ParquetUpsertSink]] state dirs inside a single
  * foreachBatch / checkpoint.
  *
  * The reference binds one topic to one table
  * (/root/reference/src/main/scala/com/sg/job/streaming/StreamingJobExecutor.scala:36-46);
  * real Debezium connectors deliver MANY tables per connector (topic
  * per table, or one routed topic), and the envelope's `source.table`
  * field (parsed by [[DebeziumEnvelope]]) carries exactly what routing
  * needs. Each route has its own pk/row schema — heterogeneous tables
  * share the stream.
  *
  * Execution shape per micro-batch: the raw batch is persisted ONCE,
  * then each route filters on a cheap pre-parse `get_json_object` of
  * `source.table` (no full from_json for rows bound elsewhere), parses
  * with ITS schema, flattens, and merges into its own sink. Tables
  * silent in a batch skip their merge entirely (no spurious empty
  * epochs), so per-table epoch counts are independent. Envelopes whose
  * table matches no route are dropped — add a catch-all route if the
  * deployment must quarantine them instead.
  *
  * Recovery contract is the single-table job's: one checkpoint governs
  * the whole fan-out, and a crash mid-fan-out is safe because each
  * sink's commit is atomic and records the batch's `#txn` marker. A
  * replayed batch is SKIPPED by every sink that already committed it
  * (no new epoch) and merged by every sink that did not, so the
  * fan-out converges to the same per-table states either way.
  */
class CdcMultiTableStreamJob(spark: SparkSession, source: CdcSource,
                             checkpointLocation: String, routes: Seq[TableRoute]) {
  require(routes.nonEmpty, "at least one table route required")
  require(routes.map(_.table).distinct.size == routes.size,
    s"duplicate table routes: ${routes.map(_.table).mkString(", ")}")
  require(routes.map(_.statePath).distinct.size == routes.size,
    "routes must not share a statePath (sinks are single-writer)")

  def execute(trigger: Trigger = MicroBatch.DefaultTrigger): StreamingQuery = {
    val session = MicroBatch.session(spark)
    val sinks = routes.map(r =>
      r.table -> new ParquetUpsertSink(session, r.statePath, r.keyCols, r.numBuckets)).toMap
    MicroBatch.start(CdcStreamJob.readRaw(session, source), checkpointLocation, trigger) {
      (batch, batchId) =>
        val raw = batch.persist()
        try routes.foreach { r =>
          val routed = raw.filter(
            get_json_object(col("value"), "$.payload.source.table") === r.table)
          // persist the PARSED route too: the emptiness probe and the
          // merge would otherwise each run the filter+from_json+flatten
          // pipeline — 2N parse jobs per batch instead of N
          val flat = CdcStreamJob.flattenAfterImage(
            DebeziumEnvelope.parse(routed, r.pkSchema, r.rowSchema),
            r.keyCols, r.rowSchema).persist()
          try { if (!flat.isEmpty) sinks(r.table).merge(flat, batchId) }
          finally { flat.unpersist(); () }
        } finally { raw.unpersist(); () }
    }
  }
}

/** Initial-load job (the reference's StreamingJobInitialExecutor,
  * /root/reference/src/main/scala/com/sg/job/streaming/StreamingJobInitialExecutor.scala:17-55):
  * consumes the Debezium snapshot (op='r') stream in append mode and
  * seeds the state table.
  */
class CdcInitialLoadJob(spark: SparkSession, config: CdcJobConfig) {
  private val job = new CdcStreamJob(spark, config)

  def execute(trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val session = MicroBatch.session(spark)
    val sink = new ParquetUpsertSink(session, config.statePath, config.keyCols, config.numBuckets)
    MicroBatch.start(job.parsedIn(session).filter(col("op") === "r"), config.checkpointLocation,
      trigger) { (batch, batchId) => sink.merge(job.flattenAfterImage(batch), batchId) }
  }
}
