package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span or one stream batch. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var gcS = 0.0
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planningS = 0.0
  var exchanges = 0L
  var sorts = 0L
  var filesRead = 0L
  /** (function name, seconds) per finished SQL execution. */
  val actions = mutable.ArrayBuffer.empty[(String, Double)]

  def +=(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskS += o.taskS; gcS += o.gcS
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; planningS += o.planningS; exchanges += o.exchanges
    sorts += o.sorts; filesRead += o.filesRead; actions ++= o.actions
    this
  }
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the program, plus a
  * SparkListener. Jobs are attributed to the span open on the
  * submitting thread (a local property) or, for stream work, to the
  * stream batch that ran them; each finished SQL execution (an action:
  * its name, duration, planning time and executed plan) follows its
  * jobs through the execution id. Only work between [[enable]] and
  * [[disable]] is recorded, and in an untraced run no listener is
  * registered at all.
  */
final class Tracer(spark: SparkSession, runId: String, cores: Int) {
  private val SpanProp = "perfbench.span"
  @volatile private var on = false
  private var installed = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val t0 = System.nanoTime()

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val execRecs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Counters)]()
  // executions that only enclose others (a stream batch's foreachBatch
  // around the sink's own actions): the enclosed ones are the actions
  private val wrappers = ConcurrentHashMap.newKeySet[Long]()

  private def counters(key: String): Counters = byKey.computeIfAbsent(key, _ => new Counters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop("streaming.sql.batchId") match {
        case Some(b) => s"batch:${prop("sql.streaming.queryId").getOrElse("")}:$b"
        case None => prop(SpanProp).map(s => s"span:$s").getOrElse("none")
      }
      e.stageIds.foreach(s => stageKey.putIfAbsent(s, key))
      prop("spark.sql.execution.id").foreach(x => execKey.putIfAbsent(x.toLong, key))
      counters(key).synchronized { counters(key).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
        val c = counters(k)
        c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val c = counters(k)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskS += m.executorRunTime / 1e3
            c.gcS += m.jvmGCTime / 1e3
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
            c.outputRows += m.outputMetrics.recordsWritten
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart =>
        start.rootExecutionId.filter(_ != start.executionId).foreach(wrappers.add)
      case end: SparkListenerSQLExecutionEnd if on && !wrappers.contains(end.executionId) =>
        PerfbenchAccess.finished(end).foreach { case (name, durNs, qe) =>
          val c = new Counters
          c.planningS = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
          planNodes(qe.executedPlan).foreach { n =>
            n match {
              case _: ShuffleExchangeLike => c.exchanges += 1
              case _: SortExec => c.sorts += 1
              case _ => ()
            }
            n.metrics.get("numFiles").foreach(m => c.filesRead += m.value)
          }
          c.actions += ((name, durNs / 1e9))
          execRecs.add((end.executionId, c))
        }
      case _ => ()
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  /** Start recording. Events still queued from untraced work are
    * delivered first, so they are not recorded.
    */
  def enable(): Unit = {
    if (installed) PerfbenchAccess.drain(spark.sparkContext)
    else spark.sparkContext.addSparkListener(jobListener)
    installed = true
    on = true
  }

  /** Stop recording, once the events of the traced work are delivered. */
  def disable(): Unit = {
    flush()
    on = false
  }

  def enabled: Boolean = on

  def stop(): Unit = if (installed) {
    flush()
    on = false
    spark.sparkContext.removeSparkListener(jobListener)
    installed = false
  }

  /** Wait for queued listener events, then attach each finished SQL
    * execution to the span or batch whose jobs it ran.
    */
  def flush(): Unit = if (installed) {
    PerfbenchAccess.drain(spark.sparkContext)
    var r = execRecs.poll()
    while (r != null) {
      val (id, c) = r
      val dst = counters(Option(execKey.get(id)).getOrElse("none"))
      dst.synchronized { dst += c }
      r = execRecs.poll()
    }
  }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def lastSpan(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)
  def spansNamed(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Counters of the span and every span below it. */
  def spanCounters(s: Span): Counters = {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    val out = new Counters
    ids.foreach(i => Option(byKey.get(s"span:$i")).foreach(out += _))
    out
  }

  /** Counters of one batch of one stream query. */
  def batchCounters(queryId: String, batchId: Long): Counters =
    Option(byKey.get(s"batch:$queryId:$batchId")).getOrElse(new Counters)

  /** Seconds of each layer not covered by a child span. */
  def selfTimeByLayer(): Map[String, Double] = {
    val childS = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0 && s.end >= 0) childS(s.parent) += s.seconds)
    spans.filter(_.end >= 0).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childS(s.id)).sum
    }
  }

  def busyFrac(c: Counters, wallS: Double): Double =
    if (wallS > 0) c.taskS / (wallS * cores) else 0.0

  def writeSpans(out: Path): Unit = if (spans.nonEmpty) {
    val lines = spans.map { s =>
      Json.obj("run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_s" -> Json.num((s.start - t0) / 1e9), "end_s" -> Json.num((s.end - t0) / 1e9))
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
