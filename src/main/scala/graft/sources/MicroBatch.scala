package graft.sources

import java.util.WeakHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** How every graft query is started, and where its checkpoint is
  * written: one `foreachBatch` query over a checkpoint, started in the
  * caller's stream session.
  *
  * The stream session is a clone of the caller's session (same
  * SparkContext) whose one extra setting writes the query's offset,
  * commit and file-source logs (the write-ahead log of Structured
  * Streaming) through [[LocalFsCheckpointFileManager]]: one small file
  * write each instead of ten forked processes on a local file system
  * without `libhadoop`. The caller's conf is never written.
  *
  * There is one stream session per caller session, not one per start:
  * each clone's `StreamingQueryManager` registers a listener bus on the
  * SparkContext that Spark never removes. Every start first brings the
  * clone in line with its caller: the caller's current runtime conf
  * (plus the manager setting), and the caller's streaming listeners, so
  * a listener attached to the caller sees the query's progress. Queries
  * started here are therefore listed by the clone's `streams`, not the
  * caller's.
  *
  * Every query is stateless, so Spark's default output mode (append)
  * hands `f` the same rows as update would.
  */
object MicroBatch {
  /** The trigger of a query started without one. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  private val ManagerClass = classOf[LocalFsCheckpointFileManager].getName

  /** caller session → its stream session; a caller that is collected
    * drops its entry.
    */
  private val streamSessions = new WeakHashMap[SparkSession, SparkSession]()

  /** The stream session of `spark`, in line with its caller's current
    * conf and listeners. `spark` may itself be a stream session.
    */
  def session(spark: SparkSession): SparkSession = {
    val (caller, stream) = streamSessions.synchronized {
      streamSessions.asScala.collectFirst { case (c, s) if s eq spark => (c, s) }
        .getOrElse(spark ->
          streamSessions.computeIfAbsent(spark, GraftExpressionBridge.cloneSession(_)))
    }
    stream.synchronized {
      val conf = caller.conf.getAll + (LocalFsCheckpointFileManager.ConfKey -> ManagerClass)
      val streamConf = stream.conf.getAll
      (streamConf.keySet -- conf.keySet).foreach(stream.conf.unset)
      conf.foreach { case (k, v) => if (!streamConf.get(k).contains(v)) stream.conf.set(k, v) }
      val listeners = caller.streams.listListeners()
      val streamListeners = stream.streams.listListeners()
      streamListeners.filterNot(listeners.contains).foreach(stream.streams.removeListener)
      listeners.filterNot(streamListeners.contains).foreach(stream.streams.addListener)
    }
    stream
  }

  /** Start `f` on every micro-batch of `input` (a streaming frame of the
    * caller's session or of its stream session) in the stream session,
    * checkpointed at `checkpoint`.
    */
  def start(input: DataFrame, checkpoint: String, trigger: Trigger = DefaultTrigger)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val stream = session(input.sparkSession)
    // the query copies the session's conf as it starts: never mid-sync
    stream.synchronized {
      GraftExpressionBridge.rebind(input, stream).writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch(f)
        .start()
    }
  }
}

/** A streaming job whose micro-batch is one [[processBatch]] call. */
trait MicroBatchJob {
  def processBatch(batch: DataFrame, batchId: Long): Unit

  /** Run continuously over a streaming frame. */
  def start(input: DataFrame, checkpoint: String,
            trigger: Trigger = MicroBatch.DefaultTrigger): StreamingQuery =
    MicroBatch.start(input, checkpoint, trigger)(processBatch)
}
