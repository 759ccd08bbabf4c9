package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Builds the shared artifacts first (each timed as its
  * own line — see [[Artifacts]]), then times every driver query; prints
  * per-query timings as SHORT chunk lines followed by one short summary
  * line, and writes the complete full-precision JSON (including the
  * `artifacts` section) to `bench_full.json`. The driver parses the
  * bench result out of a bounded log-tail window (~3 KB): a single line
  * carrying all ~80 query timings overflowed it two rounds running
  * (BENCH_r02/r03 `parsed:null`), so the output is sized to survive
  * tail truncation — the summary line is printed LAST (always inside
  * the window), the artifacts line sits just above it (r6's
  * first-position artifacts line occupied the most-clippable slot), and
  * chunk lines are small enough that at most the first can be clipped.
  * `tools/bench_compare.py` stitches chunks + summary back together and
  * diffs artifacts across rounds.
  *
  * Noise discipline (r6 lesson: a single unguarded run showed 3–5×
  * phantom regressions on unchanged source during a box-load window):
  * every query is timed TWICE and the minimum is reported — the warm
  * second trial costs little and the min is far less load-sensitive —
  * and the machine's 1-/5-min load averages at bench start and end are
  * recorded in bench_full.json (`load` field) so a cross-round diff can
  * tell "code got slower" from "box was busy". Artifact builds stay
  * single-run (they memoize — a second trial would time a cache hit),
  * which is why the load context matters most for their lines.
  */
object Bench {

  /** (1-min, 5-min) system load averages; JMX fallback carries only the
    * 1-min figure.
    */
  private def loadAvg(): Seq[Double] =
    try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split("\\s+").take(2).map(_.toDouble).toSeq
    } catch {
      case _: Throwable =>
        Seq(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // PIN HYGIENE (r15 verdict #1/#5): the full-precision JSON goes to a
    // SCRATCH path by default, so a casual/driver rerun can never
    // silently overwrite the committed pin files. Pinning is explicit
    // (SPARK_GRAFT_BENCH_OUT=bench_full.json), and a pin run REFUSES to
    // start on a loaded box — two rounds of pins taken at load 4.7–6.3
    // drowned every per-entry cross-round comparison in host drift.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_scratch.json")
    val pinning = sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val maxPinLoad = sys.env.getOrElse("SPARK_GRAFT_PIN_MAX_LOAD", "1.5").toDouble
    // recorded in the JSON as load.guard: the PRE-WARMUP box state the
    // pin decision was made on (load.start is measured after warmup and
    // so mostly reads back this process's own 32-core warm-up pass)
    val loadGuard = loadAvg()
    if (pinning && sys.env.get("SPARK_GRAFT_PIN_FORCE").isEmpty) {
      if (loadGuard.head > maxPinLoad) {
        System.err.println(f"[bench] REFUSING to pin to $outPath: 1-min load " +
          f"${loadGuard.head}%.2f > $maxPinLoad%.1f — wait for an idle box or set " +
          "SPARK_GRAFT_PIN_FORCE=1 (and expect drift-polluted numbers)")
        sys.exit(2)
      }
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // pinned like Verify/SparkSpec: Tables.events' NTZ cast
      // is session-zone dependent, and bench numbers must measure the
      // same row sets the correctness gate verifies
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SchemaGate.assertClean(spark, sfDir)
    // Warm codegen + JIT on the smallest SF: each query's generated code
    // is identical across SFs, so one tiny pass compiles it all and the
    // timed pass below measures the engine, not janino/C2. Set
    // SPARK_GRAFT_WARMUP_DIR=none to skip.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // a warm-up miss must not kill the bench, but it is never silent:
    // each one is logged and listed as `warmup_failed` in the summary,
    // since a skipped warm-up puts codegen/JIT cost into that entry's
    // timed number
    var warmupFailed = List.empty[String]
    if (warmupDir != "none" && warmupDir != sfDir) {
      // gate the warm-up dir too, LOUDLY but non-fatally: a drifted dir
      // fails (nearly) every warm-up entry, and the diagnostic names
      // the drift so a slow round is attributable.
      val warmDrift = SchemaGate.diffs(spark, warmupDir)
      if (warmDrift.nonEmpty) {
        System.err.println(s"[bench] WARNING: warm-up dir $warmupDir has schema " +
          s"drift (${warmDrift.size} diffs) — warm-up will likely no-op and " +
          "timed numbers include codegen/JIT cost:")
        warmDrift.foreach(l => System.err.println(s"[bench]   $l"))
      }
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try fn(spark, warmupDir).count() catch {
          case e: Throwable =>
            warmupFailed ::= name
            System.err.println(s"[bench] warm-up $name FAILED: ${e.getMessage}")
        }
      }
    }
    var failed = List.empty[String]
    val loadStart = loadAvg()
    // Shared-artifact builds FIRST, each timed as its own line: the
    // memoized generators (pair table, BPE training, ANN tiers, mm
    // codec, CDC state) serve many queries, and without explicit
    // attribution a regression in one would land on whichever consumer
    // runs first alphabetically. After this pass the per-query numbers
    // below are marginal costs.
    val artifacts = Artifacts.builders.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir) } catch {
        case e: Throwable =>
          failed ::= s"artifact:$name"
          System.err.println(s"[bench] artifact $name FAILED: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Min-of-2 per query: trial 1 pays any residual compilation/cache
    // cost, trial 2 is pure-warm; min(t1, t2) is the least
    // load-sensitive point statistic available at this budget. Each
    // trial is guarded independently, so a trial-2 failure still keeps
    // trial 1's real measurement (the query is flaky, not free).
    //
    // Timed ORDER is a fixed pseudo-random permutation (sort by md5 of
    // the entry name), not alphabetical: the first-timed entries absorb
    // whatever post-warmup contention the box still carries, and
    // alphabetical order pinned that cost on the same c-prefixed
    // entries every round (the r12 driver run read curation_*/corpus_*
    // at 4–6× their idle-box pins purely by position). The name-hash
    // order spreads the settling across unrelated families while
    // staying identical across rounds and boxes — deterministic with no
    // seed to drift, so cross-round per-query diffs stay like-for-like.
    val timedOrder = SparkEntry.queries.toSeq.sortBy { case (n, _) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(n.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    }
    val runs = timedOrder.map { case (name, fn) =>
      def trial(): Option[Double] =
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
        }
      val t1 = trial()
      val times = (t1.toSeq ++ (if (t1.isDefined) trial().toSeq else Seq.empty))
      name -> times
    }
    // a query with NO successful trial is reported ONLY in `failed` —
    // a fake 0.0s timing would read as "infinitely fast" downstream
    val results = runs.collect { case (name, ts) if ts.nonEmpty => name -> ts.min }
    // Streaming-throughput line (min-of-2, like every query): rows/s
    // through the reference-shaped file-source → envelope-parse →
    // merge → ParquetUpsertSink path, so continuous-substrate
    // regressions surface round-over-round like batch ones.
    val streaming: Option[(Long, Double)] =
      try Some(StreamBench.run(spark, sfDir))
      catch {
        case e: Throwable =>
          failed ::= "streaming:cdc_upsert"
          System.err.println(s"[bench] streaming throughput FAILED: ${e.getMessage}")
          None
      }
    // Image-ingest line: the continuous perceptual-dedup path with a
    // REAL ImageIO decode per payload — the capacity number of the mm
    // family, pinned beside the CDC line.
    val streamingMm: Option[(Long, Double)] =
      try Some(StreamBench.runPhash(spark, sfDir))
      catch {
        case e: Throwable =>
          failed ::= "streaming:phash_ingest"
          System.err.println(s"[bench] mm streaming throughput FAILED: ${e.getMessage}")
          None
      }
    val loadEnd = loadAvg()
    def fmt(v: Double, dec: Int): String = s"%.${dec}f".formatLocal(java.util.Locale.ROOT, v)
    def qJson(qs: Seq[(String, Double)], dec: Int): String =
      qs.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }.mkString("{", ",", "}")
    // total = artifact builds + marginal query times, so the headline
    // stays comparable with pre-attribution rounds (where the builds
    // were hidden inside the first consumer's number)
    val total = artifacts.map(_._2).sum + results.map(_._2).sum
    def strList(xs: Seq[String]): String = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = strList(failed)
    val warmupFailedJson = strList(warmupFailed)

    def loadJson(l: Seq[Double]): String =
      l.map(fmt(_, 2)).mkString("[", ",", "]")
    val loadField =
      s""""load":{"guard":${loadJson(loadGuard)},"start":${loadJson(loadStart)},"end":${loadJson(loadEnd)}}"""
    // both trials per query, full precision, for post-hoc noise analysis
    val runsJson = runs.map { case (k, ts) =>
      "\"" + k + "\":" + ts.filterNot(_.isNaN).map(fmt(_, 3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")

    def throughputJson(field: String, path: String, r: Option[(Long, Double)]): String =
      r match {
        case Some((rows, sec)) =>
          s""""$field":{"path":"$path","rows":$rows,"sec":${fmt(sec, 3)},"rows_per_sec":${fmt(if (sec > 0) rows / sec else 0.0, 1)}}"""
        case None => s""""$field":null"""
      }
    val streamingField = throughputJson("streaming", "cdc_upsert", streaming) + "," +
      throughputJson("streaming_mm", "phash_ingest", streamingMm)
    // Complete full-precision record → file (survives regardless of log tail).
    val fullLine =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","trials":2,$loadField,"artifacts":${qJson(artifacts, 3)},"queries":${qJson(results, 3)},"runs":$runsJson,$streamingField,"failed":$failedJson,"warmup_failed":$warmupFailedJson,"sf":"$sfDir"}"""
    val fullPath = java.nio.file.Paths.get(outPath)
    java.nio.file.Files.write(fullPath, (fullLine + "\n").getBytes("UTF-8"))

    // Chunk lines: ~20 queries each at 2 decimals keeps every line < ~700 B.
    val chunks = results.grouped(20).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      println(s"""{"metric":"chunk","part":${i + 1},"of":${chunks.size},"queries":${qJson(chunk, 2)}}""")
    }
    // Artifact build costs AFTER the chunks (just above the summary) so
    // they stay inside the driver's log-tail window — first position was
    // the most-clippable slot.
    println(s"""{"metric":"streaming",$streamingField,$loadField}""")
    println(s"""{"metric":"artifacts","artifacts":${qJson(artifacts, 2)},$loadField}""")
    // Summary LAST so the driver's tail window always contains it whole;
    // carries the headline value plus the top-12 slowest for a quick read.
    val slowest = results.sortBy(-_._2).take(12)
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n":${results.size},"trials":2,"queries":${qJson(slowest, 3)},"failed":$failedJson,"warmup_failed":$warmupFailedJson,"sf":"$sfDir","full":"${fullPath.toAbsolutePath}"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
