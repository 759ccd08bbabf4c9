package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc._

/** The CDC trickle workload. It feeds the real [[CdcStreamJob]] from a
  * directory of Debezium JSON envelopes written by [[ChangeGen]] and
  * checks every read against the generator's in-memory replay, and the
  * final state against [[CdcOps.latestState]] over the whole changelog.
  */
object CdcWorkloads {
  private val NumBuckets = 64
  private val Reads = Seq("scan", "lookup", "cdf", "time_travel")

  // ---- sizes (see BENCHMARK.json for why each workload exists) ----
  private val TrickleKeys = 20000
  private val TrickleSizes = Seq(10, 100, 1000)
  private val SetupReps = 3
  /** Whole units (trickle cycles, curation passes) a run measures at least. */
  val MinUnits = 2

  private def config(source: CdcSource, run: Path) = CdcJobConfig(
    source = source,
    checkpointLocation = run.resolve("checkpoint").toString,
    statePath = run.resolve("state").toString,
    keyCols = Seq("id"),
    pkSchema = ChangeGen.pkSchema,
    rowSchema = ChangeGen.rowSchema,
    numBuckets = NumBuckets)

  private def reader(ctx: Ctx, run: Path) =
    new ParquetUpsertSink(ctx.spark, run.resolve("state").toString, Seq("id"), NumBuckets)

  private def hex(d: MessageDigest): String = d.digest().map("%02x".format(_)).mkString

  private def aggOf(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("qty"), sum("price_cents"), sum(length(col("name"))),
      sum("last_ts_ms")).head()
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def cell(r: Row, i: Int): String = if (r.isNullAt(i)) "null" else r.get(i).toString

  private def renderState(r: Row): String = (0 until 6).map(cell(r, _)).mkString("|")

  /** The fixed read set at committed epoch `e` (e >= 1), each read
    * timed, counted, traced and checked against the reference marks.
    */
  private def readSet(ctx: Ctx, sink: ParquetUpsertSink, gen: ChangeGen, e: Long,
                      now: Mark, prev: Mark, times: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    val t = ctx.tracer
    def timedRead[T](kind: String)(f: => T): T = {
      val (r, s) = Stats.timed(ctx.op(s"read:$kind")(t.span(s"read:$kind:$e", "cdc.ParquetUpsertSink.read")(f)))
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
      r
    }
    val scan = timedRead("scan")(aggOf(sink.readState()))
    ctx.check(s"scan@$e", scan == now.agg, s"got $scan want ${now.agg}")
    val keys = gen.lookupKeys
    val looked = timedRead("lookup")(sink.readState().filter(col("id").isin(keys: _*))
      .select(ChangeGen.stateCols.map(col): _*).collect().map(renderState).toSet)
    ctx.check(s"lookup@$e", looked == now.lookups,
      s"diff ${(looked -- now.lookups).take(3)} / ${(now.lookups -- looked).take(3)}")
    val cdf = timedRead("cdf")(sink.changesBetween(e - 1, e)
      .select(Seq("id", "change", "name", "qty", "price_cents", "status", "last_ts_ms").map(col): _*)
      .collect().map(r => (0 until 7).map(cell(r, _)).mkString("|")).toSet)
    ctx.check(s"cdf@$e", cdf == now.changes, s"${cdf.size} rows, want ${now.changes.size}; " +
      s"e.g. ${(cdf -- now.changes).take(2)} / ${(now.changes -- cdf).take(2)}")
    val tt = timedRead("time_travel")(aggOf(sink.readStateAt(e - 1)))
    ctx.check(s"time_travel@$e", tt == prev.agg, s"got $tt want ${prev.agg}")
  }

  /** Final state == CdcOps.latestState over every change generated. */
  private def checkFinalState(ctx: Ctx, sink: ParquetUpsertSink, gen: ChangeGen): Unit = {
    val spark = ctx.spark
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("op", StringType), StructField("ts_ms", LongType),
      StructField("seq", LongType), StructField("name", StringType), StructField("qty", LongType),
      StructField("price_cents", LongType), StructField("status", StringType)))
    val rows = gen.log.map { c =>
      val a = c.after
      if (a == null) Row(c.id, c.op, c.tsMs, c.lsn, null, null, null, null)
      else Row(c.id, c.op, c.tsMs, c.lsn, a.name, a.qty, a.priceCents, a.status)
    }
    val changelog = spark.createDataFrame(rows.asJava, schema)
    val reference = CdcOps.latestState(changelog, Seq("id"), Seq("name", "qty", "price_cents", "status"))
      .select(ChangeGen.stateCols.map(col): _*)
    val state = sink.readState().select(ChangeGen.stateCols.map(col): _*)
    val extra = state.exceptAll(reference).count()
    val missing = reference.exceptAll(state).count()
    ctx.check("final_state", extra == 0 && missing == 0,
      s"$extra rows only in the sink, $missing only in the reference")
  }

  private def progressOf(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue / 1e3)

  private def manifestBuckets(run: Path, e: Long): Map[String, String] = {
    val f = run.resolve("state").resolve(s"_manifest.v$e")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(b, d) = l.split('\t'); b -> d }.toMap
  }

  /** Buckets whose data directory changed between epochs e-1 and e. */
  private def bucketsRewritten(run: Path, e: Long): Int = {
    val (a, b) = (manifestBuckets(run, e - 1), manifestBuckets(run, e))
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
  }

  /** Parse + flatten one staged file into the no-op sink. */
  private def forceParse(ctx: Ctx, file: Path): Double = {
    val spark = ctx.spark
    val (_, s) = Stats.timed(ctx.tracer.span(s"parse:${file.getFileName}", "cdc.DebeziumEnvelope") {
      val raw = spark.read.schema("key STRING, value STRING, topic STRING").json(file.toString)
      val parsed = DebeziumEnvelope.parse(raw, ChangeGen.pkSchema, ChangeGen.rowSchema)
      CdcStreamJob.flattenAfterImage(parsed, Seq("id"), ChangeGen.rowSchema)
        .write.format("noop").mode("overwrite").save()
    })
    s
  }

  /** Per-batch write-side figures of one traced batch. */
  final case class BatchLayer(envelopes: Int, distinctKeys: Int, latency: Double,
                              p: StreamingQueryProgress, c: Counters, buckets: Int, parseS: Double)

  private val SizeClass = Map(10 -> "b10", 100 -> "b100", 1000 -> "b1k")

  /** stream.*, envelope.*, sink.* and spark.* from traced batches. */
  private def reportBatchLayers(ctx: Ctx, bs: Seq[BatchLayer], staged: Long, inputRows: Long): Unit = {
    def med(f: BatchLayer => Double, xs: Seq[BatchLayer] = bs) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    ctx.metric("stream.latest_offset_s", med(b => dur(b.p, "latestOffset")), "s")
    ctx.metric("stream.planning_s", med(b => dur(b.p, "queryPlanning")), "s")
    ctx.metric("stream.add_batch_s", med(b => dur(b.p, "addBatch")), "s")
    ctx.metric("stream.wal_commit_s", med(b => dur(b.p, "walCommit")), "s")
    ctx.metric("stream.commit_offsets_s", med(b => dur(b.p, "commitOffsets")), "s")
    ctx.metric("stream.input_rows_ratio", if (staged > 0) inputRows.toDouble / staged else 0.0, "ratio")
    val parsed = bs.filter(_.parseS > 0)
    ctx.metric("envelope.parse_s", med(_.parseS, parsed), "s")
    ctx.metric("envelope.rows_per_s",
      if (parsed.isEmpty) 0.0 else parsed.map(_.envelopes).sum / parsed.map(_.parseS).sum, "rows/s")
    def dirtyScan(b: BatchLayer) = b.c.actions.filter(_._1 == "collect").map(_._2).sum
    def write(b: BatchLayer) = b.c.actions.filter(_._1 != "collect").map(_._2).sum
    for (n <- TrickleSizes) {
      val cls = SizeClass(n)
      val xs = bs.filter(_.envelopes == n)
      ctx.metric(s"sink.dirty_scan_s.$cls", med(dirtyScan, xs), "s")
      ctx.metric(s"sink.write_s.$cls", med(write, xs), "s")
      ctx.metric(s"sink.commit_fs_s.$cls",
        med(b => math.max(0.0, dur(b.p, "addBatch") - dirtyScan(b) - write(b)), xs), "s")
      ctx.metric(s"sink.rows_written.$cls", med(_.c.outputRows.toDouble, xs), "rows")
      ctx.metric(s"sink.bytes_written.$cls", med(_.c.outputBytes.toDouble, xs), "B")
      ctx.metric(s"sink.buckets_rewritten.$cls", med(_.buckets.toDouble, xs), "count")
      ctx.metric(s"sink.useful_ratio.$cls",
        med(b => if (b.c.outputRows > 0) b.distinctKeys.toDouble / b.c.outputRows else 0.0, xs), "ratio")
    }
    ctx.sparkLayer(bs.map(_.c), bs.map(_.latency))
  }

  /** state.* from the traced read spans (p50 per read type; bytes and
    * files per read set).
    */
  private def reportReadLayers(ctx: Ctx, times: Map[String, Seq[Double]], epochs: Seq[Long]): Unit = {
    Reads.foreach(k => ctx.metric(s"state.${k}_s", times.get(k).filter(_.nonEmpty).fold(0.0)(Stats.median), "s"))
    val perSet = epochs.map { e =>
      val c = new Counters
      Reads.foreach(k => ctx.tracer.lastSpan(s"read:$k:$e").foreach(s => c += ctx.tracer.spanCounters(s)))
      c
    }
    ctx.metric("state.bytes_read", if (perSet.isEmpty) 0.0 else Stats.median(perSet.map(_.inputBytes.toDouble)), "B")
    ctx.metric("state.files_read", if (perSet.isEmpty) 0.0 else Stats.median(perSet.map(_.filesRead.toDouble)), "count")
  }

  def trickle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.dir("trickle")
    // set-up 1: generate the seed snapshot, several times (same seed,
    // so every repetition must produce the same bytes)
    var gen: ChangeGen = null
    var seedBytes: Array[Byte] = null
    val digests = mutable.Set.empty[String]
    val genTimes = (1 to SetupReps).map { rep =>
      Stats.timed(ctx.op("setup:generate") {
        gen = new ChangeGen(ctx.args.seed, TrickleKeys)
        gen.snapshot()
        seedBytes = ChangeGen.write(gen.log.toSeq, root.resolve(s"gen$rep/seed.json"))
        val d = MessageDigest.getInstance("SHA-256"); d.update(seedBytes); digests += hex(d)
      })._2
    }
    ctx.check("generator_deterministic", digests.size == 1, s"${digests.size} distinct digests")
    val marks = mutable.ArrayBuffer(gen.mark())
    // set-up 2: seed the state through the stream (batch 0)
    val run = root.resolve("run")
    val src = run.resolve("source")
    Files.createDirectories(src)
    Files.copy(root.resolve(s"gen$SetupReps/seed.json"), src.resolve("00000.json"))
    var q: StreamingQuery = null
    val (_, seedS) = Stats.timed(ctx.op("setup:seed") {
      q = new CdcStreamJob(spark, config(FileSource(src.toString), run))
        .execute(Trigger.ProcessingTime(0L))
      q.processAllAvailable()
    })
    val seedStateBytes = DiskUsage.bytes(run.resolve("state"))
    val sink = reader(ctx, run)
    // the batch stream is a deterministic sequence; how much of it a
    // run stages depends on the run's speed, so it is hashed apart
    val digest = MessageDigest.getInstance("SHA-256")
    var envelopesTotal = gen.log.size.toLong
    var jsonBytes = seedBytes.length.toLong
    var epoch = 0L
    val readTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    /** Stage one batch, wait for its commit; returns (latency, file,
      * distinct keys).
      */
    def commitOne(n: Int): (Double, Path, Int) = {
      val lines = gen.changes(n)
      val next = epoch + 1
      val staging = root.resolve(s"staging/$next.json")
      val bytes = ChangeGen.write(lines.toSeq, staging)
      digest.update(bytes)
      jsonBytes += bytes.length
      envelopesTotal += n
      marks += gen.mark()
      val t0 = System.nanoTime()
      val lat = ctx.op("batch")(ctx.tracer.span(s"batch:$next", "cdc.CdcStreamJob") {
        Files.move(staging, src.resolve(f"$next%05d.json"), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        Stats.secondsSince(t0)
      })
      epoch = next
      (lat, src.resolve(f"$next%05d.json"), lines.map(_.id).distinct.size)
    }

    // set-up 3: one warm-up cycle of batches and reads (JIT, codegen)
    val (_, warmS) = Stats.timed {
      TrickleSizes.foreach { n =>
        ctx.op("warmup")(commitOne(n))
        ctx.op("warmup")(readSet(ctx, sink, gen, epoch, marks(epoch.toInt), marks(epoch.toInt - 1), mutable.Map.empty))
      }
    }
    val setupS = ctx.sessionS + Stats.median(genTimes) + seedS + warmS
    val firstMeasured = epoch + 1

    final case class Sample(epoch: Long, n: Int, latency: Double, file: Path, keys: Int, buckets: Int)
    type Times = mutable.Map[String, mutable.ArrayBuffer[Double]]
    /** One 10/100/1000 cycle, each commit followed by the read set. */
    def cycle(times: Times): Seq[Sample] = TrickleSizes.map { n =>
      val (lat, file, keys) = commitOne(n)
      // manifests age out after two epochs, so diff them right away
      val buckets = if (ctx.tracer.enabled) bucketsRewritten(run, epoch) else 0
      readSet(ctx, sink, gen, epoch, marks(epoch.toInt), marks(epoch.toInt - 1), times)
      Sample(epoch, n, lat, file, keys, buckets)
    }

    def e2e(samples: Seq[Sample], times: Times): Unit = {
      val lats = samples.map(_.latency)
      val reads = Reads.flatMap(k => times.getOrElse(k, Nil))
      ctx.latency("batch", lats)
      ctx.latency("read", reads)
      ctx.metric("rows_per_s", samples.map(_.n).sum / lats.sum, "rows/s")
      ctx.metric("pass_s", (lats.sum + reads.sum) / (samples.size / TrickleSizes.size), "s")
      ctx.putInfo("samples", Json.obj(
        "batch_s" -> Json.arr(samples.map(s => Json.obj("envelopes" -> s.n.toString, "s" -> Json.num(s.latency)))),
        "read_s" -> Json.obj(Reads.map(k => k -> Json.arr(times.getOrElse(k, Nil).map(Json.num))): _*)))
    }

    val t0 = System.nanoTime()
    // whole cycles, at least MinUnits, so every run measures the same mix
    if (!ctx.args.trace) {
      val samples = mutable.ArrayBuffer.empty[Sample]
      while (Stats.secondsSince(t0) < ctx.args.seconds || samples.size < MinUnits * TrickleSizes.size)
        samples ++= cycle(readTimes)
      e2e(samples.toSeq, readTimes)
    } else {
      // untraced and traced cycles alternate (plain, traced, traced,
      // plain, ...), so warm-up drift falls on both sides alike; the
      // ratio of the two is the tracing overhead
      val plain, traced = mutable.ArrayBuffer.empty[Sample]
      val plainTimes: Times = mutable.Map.empty
      var k = 0
      while (Stats.secondsSince(t0) < ctx.args.seconds || traced.size < MinUnits * TrickleSizes.size ||
        plain.size < MinUnits * TrickleSizes.size) {
        if (k % 4 == 1 || k % 4 == 2) {
          ctx.tracer.enable()
          traced ++= ctx.tracer.span(s"cycle:$k", "bench")(cycle(readTimes))
          ctx.tracer.disable()
        } else plain ++= cycle(plainTimes)
        k += 1
      }
      // decode cost, measured apart from the commits: every traced
      // batch's file parsed again into the no-op sink
      ctx.tracer.enable()
      val extras = traced.toSeq.map(s => (s, ctx.op("trace:parse")(forceParse(ctx, s.file))))
      ctx.tracer.flush()
      val prog = progressOf(q)
      val qid = q.id.toString
      val layers = extras.flatMap { case (s, parseS) =>
        prog.get(s.epoch).map(p =>
          BatchLayer(s.n, s.keys, s.latency, p, ctx.tracer.batchCounters(qid, s.epoch), s.buckets, parseS))
      }
      val tracedInput = traced.flatMap(s => prog.get(s.epoch)).map(_.numInputRows).sum
      reportBatchLayers(ctx, layers, traced.map(_.n).sum, tracedInput)
      reportReadLayers(ctx, readTimes.toMap.map { case (k, v) => k -> v.toSeq }, traced.toSeq.map(_.epoch))
      ctx.selfTimes()
      ctx.metric("trace.batch_p50_ratio",
        Stats.median(traced.toSeq.map(_.latency)) / Stats.median(plain.toSeq.map(_.latency)), "ratio")
      val pr = Reads.flatMap(k => plainTimes.getOrElse(k, Nil))
      val tr = Reads.flatMap(k => readTimes.getOrElse(k, Nil))
      ctx.metric("trace.read_p50_ratio", Stats.median(tr) / Stats.median(pr), "ratio")
      ctx.metric("trace.pass_ratio", (traced.map(_.latency).sum + tr.sum) / traced.size /
        ((plain.map(_.latency).sum + pr.sum) / plain.size), "ratio")
    }
    q.stop()
    ctx.op("check:final_state")(checkFinalState(ctx, sink, gen))
    val stateBytes = DiskUsage.bytes(run.resolve("state"))
    if (!ctx.args.trace) {
      ctx.metric("state_bytes_per_row", stateBytes.toDouble / gen.liveRows, "B/row")
      ctx.metric("setup_s", setupS, "s")
    }
    ctx.putInfo("input", Json.obj(
      "envelopes" -> envelopesTotal.toString, "keys" -> TrickleKeys.toString,
      "json_bytes" -> jsonBytes.toString, "seed_state_rows" -> TrickleKeys.toString,
      "seed_state_json_bytes" -> seedBytes.length.toString, "seed_state_bytes" -> seedStateBytes.toString,
      "final_live_rows" -> gen.liveRows.toString, "state_bytes" -> stateBytes.toString,
      "batches_measured" -> (epoch - firstMeasured + 1).toString,
      "batch_sizes" -> Json.arr(TrickleSizes.map(_.toString)),
      "sha256_seed" -> Json.str(digests.head), "sha256_batches" -> Json.str(hex(digest))))
    ctx.putInfo("setup", Json.obj("session_s" -> Json.num(ctx.sessionS),
      "generate_s" -> Json.arr(genTimes.map(Json.num)), "seed_s" -> Json.num(seedS),
      "warmup_s" -> Json.num(warmS)))
  }
}
