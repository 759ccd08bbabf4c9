package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * {{{
  *   Main --workload cdc_trickle|curation --seed N --seconds S
  *        --trace 0|1 --threads N --work DIR --out FILE [--data DIR --gen-s X --gen-rows N]
  * }}}
  *
  * Writes one JSON object to `--out`: the end-to-end metrics (untraced
  * run) or the per-layer metrics (traced run), the operation counts,
  * the output checks and the input description. The caller prints the
  * contract line from it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, threads: Int,
                        work: Path, out: Path, data: Option[String], genS: Double, genRows: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("threads").toInt,
      Paths.get(m("work")), Paths.get(m("out")), m.get("data"), m.get("gen-s").fold(0.0)(_.toDouble),
      m.get("gen-rows").fold(0.0)(_.toDouble))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val cores = args.threads
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = new Ctx(spark, args, cores, sessionS)
    val ok =
      try {
        args.workload match {
          case "cdc_trickle" => CdcWorkloads.trickle(ctx)
          case "curation"    => Curation.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        true
      } catch {
        case e: Throwable =>
          ctx.error(s"run aborted: $e")
          e.printStackTrace()
          false
      }
    ctx.tracer.stop()
    ctx.tracer.writeSpans(Paths.get(args.out.toString + ".spans.jsonl"))
    ctx.writeResult(args.out, aborted = !ok)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

/** Run state shared by the workloads: session, counters, checks,
  * metrics and the tracer.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cores: Int, val sessionS: Double) {
  val runId: String = s"${args.workload}-${args.seed}-${if (args.trace) "traced" else "plain"}"
  val tracer = new Tracer(spark, runId, cores)
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, String] // name -> raw JSON value
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** One counted operation. A failure is counted and re-thrown. */
  def op[T](kind: String)(f: => T): T = {
    attemptedN += 1
    try f
    catch {
      case e: Throwable =>
        failedN += 1
        error(s"$kind failed: $e")
        throw e
    }
  }

  def error(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] $msg") }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $d")
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def putInfo(name: String, json: String): Unit = info(name) = json

  /** `<kind>_p50_s` of latency samples and `<kind>_tail_s` of `tailOf`
    * (the same samples unless given); the tail's percentile and counts
    * go to the info.
    */
  def latency(kind: String, xs: Seq[Double], tailOf: Seq[Double] = Nil): Unit = {
    metric(s"${kind}_p50_s", Stats.median(xs), "s")
    val (v, pct, above, n) = Stats.tail(if (tailOf.nonEmpty) tailOf else xs)
    metric(s"${kind}_tail_s", v, "s")
    putInfo(s"${kind}_tail", Json.obj("percentile" -> Json.num(pct), "above" -> above.toString,
      "samples" -> n.toString))
  }

  /** spark.* per unit of work (stream batch or curation pass), as the
    * median over the units.
    */
  def sparkLayer(cs: Seq[Counters], wallS: Seq[Double]): Unit = {
    def med(f: Counters => Double) = if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
    metric("spark.jobs", med(_.jobs.toDouble), "count")
    metric("spark.stages", med(_.stages.toDouble), "count")
    metric("spark.tasks", med(_.tasks.toDouble), "count")
    metric("spark.planning_s", med(_.planningS), "s")
    metric("spark.task_s", med(_.taskS), "s")
    metric("spark.busy_frac",
      if (cs.isEmpty) 0.0 else Stats.median(cs.zip(wallS).map { case (c, w) => tracer.busyFrac(c, w) }), "ratio")
    metric("spark.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "B")
    metric("spark.shuffle_read_bytes", med(_.shuffleReadBytes.toDouble), "B")
    metric("spark.spill_bytes", med(_.spillBytes.toDouble), "B")
    metric("spark.gc_s", med(_.gcS), "s")
    metric("spark.exchanges", med(_.exchanges.toDouble), "count")
    metric("spark.sorts", med(_.sorts.toDouble), "count")
  }

  /** self.<layer>: span time of each layer not covered by child spans. */
  def selfTimes(): Unit = {
    val self = tracer.selfTimeByLayer()
    Layers.all.foreach(l => metric(s"self.$l", self.getOrElse(l, 0.0), "s"))
  }

  def writeResult(out: Path, aborted: Boolean): Unit = {
    val sb = new StringBuilder("{")
    sb ++= s""""run":${Json.str(runId)},"attempted":$attemptedN,"failed":$failedN,"aborted":$aborted,"""
    sb ++= """"metrics":""" + metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{${Json.str("value")}:${Json.num(v)},${Json.str("unit")}:${Json.str(u)}}"
    }.mkString("{", ",", "}") + ","
    sb ++= """"checks":""" + checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]") + ","
    sb ++= """"errors":""" + errors.map(Json.str).mkString("[", ",", "]") + ","
    sb ++= """"info":""" + info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    sb ++= "}"
    Files.write(out, (sb.toString + "\n").getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Span layers, named after the repo modules they wrap. */
object Layers {
  val all: Seq[String] = Seq("bench", "cdc.CdcStreamJob", "cdc.ParquetUpsertSink.read",
    "cdc.DebeziumEnvelope", "Artifacts", "dedup.Dedup", "queries.Graph", "similarity.Ann",
    "functions", "queries.Analytics", "multimodal.BinaryPipeline")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that leaves at least ten samples above it,
    * but never below p90: (value, percentile, samples above, samples).
    * From 101 samples on that is the sample with ten above it; below,
    * it is p90, interpolated between the two samples around it (the
    * value has fewer than ten samples above it).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val pos = math.max(0.9 * (n - 1), n - 11.0) // 0-based rank
    val lo = pos.toInt
    val hi = math.min(lo + 1, n - 1)
    val v = s(lo) + (pos - lo) * (s(hi) - s(lo))
    (v, if (n > 1) 100.0 * pos / (n - 1) else 100.0, n - 1 - lo, n)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }
}

object DiskUsage {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
