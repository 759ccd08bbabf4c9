package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Artifacts, SessionCache, SparkEntry}

/** The curation workload: a fixed list of roster entries over the
  * generated tables, each pass starting from a cold [[SessionCache]]
  * so the shared artifact builds count.
  */
object Curation {

  /** (entry, family); the family names the module its layer metrics
    * are reported under.
    */
  val entries: Seq[(String, String)] = Seq(
    "dedup_minhash_lsh" -> "dedup", "dedup_ppjoin" -> "dedup", "graph_random_walks" -> "graph",
    "ann_lsh_topk" -> "ann", "doc_tfidf" -> "text", "q9_profit_nation" -> "analytics",
    "mm_phash_dedup" -> "mm")

  val familyLayer: Map[String, String] = Map("dedup" -> "dedup.Dedup", "graph" -> "queries.Graph",
    "ann" -> "similarity.Ann", "text" -> "functions", "analytics" -> "queries.Analytics",
    "mm" -> "multimodal.BinaryPipeline")

  /** The [[Artifacts]] builders the entries above read. */
  val builders: Seq[String] = Seq("dedup_lsh_index", "dedup_ppjoin_pairs", "graph_walks",
    "ann_tier_lsh", "text_token_counts", "mm_codec", "mm_phash_pairs")

  /** Warm passes after each cold one: each is one read sample. The
    * first after a cold pass is slower than the rest; with three, the
    * median of the samples falls among the later ones.
    */
  private val WarmPasses = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.args.data.getOrElse(throw new IllegalArgumentException("--data is required"))
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val builderFns = Artifacts.builders.toMap
    val familyOf = entries.toMap
    val missing = entries.map(_._1).filterNot(fns.contains) ++ builders.filterNot(builderFns.contains)
    require(missing.isEmpty, s"unknown entries or builders: ${missing.mkString(", ")}")

    // set-up: one checked pass (JIT and codegen warm-up); its outputs
    // are written for the oracle comparison made by the caller
    val outDir = ctx.dir("curation-out")
    val (expected, warmS) = Stats.timed(entries.map { case (name, _) =>
      val n = ctx.op("warmup") {
        val path = outDir.resolve(name).toString
        fns(name)(spark, data).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
      }
      ctx.check(s"$name:nonempty", n > 0, "empty result")
      name -> n
    }.toMap)
    val oracleJson = entries.map(_._1).filter(oracle.contains)
      .map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}")
    Files.write(outDir.resolve("oracle_sql.json"), oracleJson.getBytes(UTF_8))
    val setupS = ctx.sessionS + ctx.args.genS + warmS

    def entry(name: String, pass: String): Double = {
      val (n, s) = Stats.timed(ctx.op("entry")(
        ctx.tracer.span(s"$pass:$name", familyLayer(familyOf(name)))(fns(name)(spark, data).count())))
      ctx.check(s"$name:rows", n == expected(name), s"$n rows, checked pass had ${expected(name)}")
      s
    }

    /** One cold pass: its time, per-entry times, per-entry times of each
      * warm pass after it, and the bytes the artifacts held. With
      * `prebuild`, the artifacts are built one by one before the entries
      * (the traced run's procedure, so it can time each builder).
      */
    final case class Pass(coldS: Double, cold: Seq[Double], warm: Seq[Seq[Double]], cachedBytes: Double)
    def pass(i: Int, prebuild: Boolean): Pass = {
      coldStart(spark)
      val (cold, coldS) = Stats.timed(ctx.tracer.span(s"pass:$i", "bench") {
        if (prebuild) builders.foreach(b =>
          ctx.op("artifact")(ctx.tracer.span(s"artifact:$b", "Artifacts")(builderFns(b)(spark, data))))
        entries.map { case (n, _) => entry(n, "cold") }
      })
      val bytes = cachedBytes(spark)
      val warm = (1 to WarmPasses).map(_ => entries.map { case (n, _) => entry(n, "warm") })
      Pass(coldS, cold, warm, bytes)
    }

    def report(ps: Seq[Pass]): Unit = {
      val cold = ps.flatMap(_.cold)
      // a read is one warm pass: every entry again over the warm
      // SessionCache. Its time is mostly the entries that recompute
      // (analytics, tf-idf, MinHash); the other four are cache hits of
      // ~50 ms whose speed shifts by a third from run to run, so a
      // median over single warm entries measures that shift. A run has
      // too few warm passes for a tail, so the tail is taken over the
      // single warm entries, where the slowest entry's samples set it.
      val warmPasses = ps.flatMap(_.warm.map(_.sum))
      val warm = ps.flatMap(_.warm.flatten)
      ctx.latency("batch", cold)
      ctx.latency("read", warmPasses, tailOf = warm)
      ctx.metric("rows_per_s", ctx.args.genRows / Stats.median(ps.map(_.coldS)), "rows/s")
      ctx.metric("pass_s", Stats.median(ps.map(_.coldS)), "s")
      ctx.putInfo("samples", Json.obj("batch_s" -> Json.arr(cold.map(Json.num)),
        "read_s" -> Json.arr(warmPasses.map(Json.num)), "read_entry_s" -> Json.arr(warm.map(Json.num))))
      ctx.putInfo("entry_s", Json.obj(entries.indices.map { i =>
        entries(i)._1 -> Json.obj("cold" -> Json.num(Stats.median(ps.map(_.cold(i)))),
          "warm" -> Json.num(Stats.median(ps.flatMap(_.warm.map(_(i))))))
      }: _*))
    }

    val t0 = System.nanoTime()
    // whole passes, at least MinUnits
    if (!ctx.args.trace) {
      val ps = mutable.ArrayBuffer.empty[Pass]
      while (Stats.secondsSince(t0) < ctx.args.seconds || ps.size < CdcWorkloads.MinUnits)
        ps += pass(ps.size, prebuild = false)
      report(ps.toSeq)
      ctx.metric("setup_s", setupS, "s")
      ctx.metric("state_bytes_per_row", Stats.median(ps.toSeq.map(_.cachedBytes)) / ctx.args.genRows, "B/row")
    } else {
      // untraced and traced passes alternate (plain, traced, traced,
      // plain, ...) and follow the same procedure, so their ratio is
      // the tracing overhead
      val plain, traced = mutable.ArrayBuffer.empty[Pass]
      var k = 0
      while (Stats.secondsSince(t0) < ctx.args.seconds || traced.size < CdcWorkloads.MinUnits ||
        plain.size < CdcWorkloads.MinUnits) {
        if (k % 4 == 1 || k % 4 == 2) {
          ctx.tracer.enable()
          traced += pass(k, prebuild = true)
          ctx.tracer.disable()
        } else plain += pass(k, prebuild = true)
        k += 1
      }
      val t = ctx.tracer
      val passSpans = t.spansNamed("pass:").filter(_.end >= 0)
      // artifact builds, one metric per builder plus their sum
      builders.foreach { b =>
        ctx.metric(s"artifacts.${b}_s", Stats.median(t.spansNamed(s"artifact:$b").map(_.seconds)), "s")
      }
      ctx.metric("artifacts.build_s", Stats.median(passSpans.map { p =>
        t.spansNamed("artifact:").filter(_.parent == p.id).map(_.seconds).sum
      }), "s")
      // marginal entry time, jobs and busy share per family and pass
      familyLayer.keys.toSeq.sorted.foreach { fam =>
        val names = entries.filter(_._2 == fam).map(_._1).toSet
        val perPassSpans = passSpans.map(p => t.spansNamed("cold:").filter(s =>
          s.parent == p.id && names.contains(s.name.stripPrefix("cold:"))))
        val secs = perPassSpans.map(_.map(_.seconds).sum)
        val cs = perPassSpans.map { ss => val c = new Counters; ss.foreach(s => c += t.spanCounters(s)); c }
        ctx.metric(s"$fam.entry_s", Stats.median(secs), "s")
        ctx.metric(s"$fam.jobs", Stats.median(cs.map(_.jobs.toDouble)), "count")
        ctx.metric(s"$fam.busy_frac", Stats.median(cs.zip(secs).map { case (c, s) => t.busyFrac(c, s) }), "ratio")
      }
      ctx.sparkLayer(passSpans.map(t.spanCounters), passSpans.map(_.seconds))
      ctx.selfTimes()
      ctx.metric("trace.pass_ratio",
        Stats.median(traced.toSeq.map(_.coldS)) / Stats.median(plain.toSeq.map(_.coldS)), "ratio")
      ctx.metric("trace.read_p50_ratio", Stats.median(traced.toSeq.flatMap(_.warm.map(_.sum))) /
        Stats.median(plain.toSeq.flatMap(_.warm.map(_.sum))), "ratio")
    }
    ctx.putInfo("input", Json.obj("table_rows" -> ctx.args.genRows.toLong.toString,
      "entries" -> Json.arr(entries.map(e => Json.str(e._1))),
      "result_rows" -> Json.obj(entries.map(e => e._1 -> expected(e._1).toString): _*)))
    ctx.putInfo("setup", Json.obj("session_s" -> Json.num(ctx.sessionS),
      "generate_s" -> Json.num(ctx.args.genS), "warmup_s" -> Json.num(warmS)))
  }

  /** Empty the artifact cache and drop the blocks of every persisted
    * frame, so a pass starts from nothing materialized.
    */
  private def coldStart(spark: SparkSession): Unit = {
    SessionCache.invalidate(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Bytes held by cached and checkpointed blocks (the materialized
    * shared artifacts) after a pass.
    */
  private def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}
