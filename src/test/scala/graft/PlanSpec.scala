package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.CdcOps
import graft.similarity.Ann

/** Plan-shape assertions: the scale-design claims in the scaladocs,
  * checked against the actual physical plans so a refactor that
  * silently degrades the plan (window instead of partial agg, corpus
  * shuffle before the LSH probe join, interpreted fallback in the
  * vector hot path) fails CI.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("cdc_latest_state partially aggregates before its single shuffle — no window") {
    val p = plan(CdcOps.latestState(
      CdcOps.userChangelog(spark, sfDir), Seq("user_id"), CdcOps.userDataCols))
    // max_by's struct buffer forces SortAggregate (struct agg buffers are
    // not hash-aggregable) but the scale property is the partial agg:
    // each map task collapses its changes per key BEFORE the exchange.
    assert(p.contains("partial_max_by"), "map-side partial aggregation expected")
    assert("Exchange".r.findAllIn(p).size === 1, "exactly one shuffle expected")
    assert(!p.contains("Window"), "no window operator expected")
  }

  test("mergeChangeSet folds base and change rows in one shuffle, no join") {
    val ch = CdcOps.userChangelog(spark, sfDir)
    val split = org.apache.spark.sql.functions.unix_millis(
      org.apache.spark.sql.functions.lit("2024-01-16 00:00:00").cast("timestamp"))
    // a materialized base, as the sink's committed state is: its own
    // aggregate's shuffle is not part of the merge
    val base = CdcOps.latestState(ch.filter(org.apache.spark.sql.functions.col("ts_ms") < split),
      Seq("user_id"), CdcOps.userDataCols).drop("n_changes").localCheckpoint(true)
    val p = plan(CdcOps.mergeChangeSet(base,
      ch.filter(org.apache.spark.sql.functions.col("ts_ms") >= split),
      Seq("user_id"), CdcOps.userDataCols))
    // the scaladoc's scale claim: base and change rows are unioned and
    // folded per key, with the map-side partial max_by collapsing both
    // BEFORE the one shuffle — no join, no window
    assert(p.contains("partial_max_by"), "the union must partially aggregate map-side")
    assert("Exchange".r.findAllIn(p).size === 1, s"exactly one shuffle expected:\n$p")
    assert(!p.contains("Join"), s"no join in the merge path:\n$p")
    assert(!p.contains("Window"), "no window operator in the merge path")
  }

  test("the sink's commit writes its merge in one shuffle: no second exchange, at most one sort") { withFullBuckets {
      import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.command.DataWritingCommandExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.functions.{col, lit, unix_millis}
      import org.apache.spark.sql.util.QueryExecutionListener
      // the plan as executed: AQE's final plan, through its query stages
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case n => n +: n.children.flatMap(nodes)
      }
      val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          nodes(qe.executedPlan).collectFirst { case w: DataWritingCommandExec => w.child }
            .foreach(writes.add)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val ch = CdcOps.userChangelog(spark, sfDir)
      val split = unix_millis(lit("2024-01-16 00:00:00").cast("timestamp"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-write-plan").toString
      val sink = new graft.cdc.ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 16)
      spark.listenerManager.register(listener)
      try {
        sink.merge(ch.filter(col("ts_ms") < split), 0)    // epoch 0: over an empty base
        sink.merge(ch.filter(col("ts_ms") >= split), 1)   // epoch 1: over the dirty buckets
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      val plans = writes.asScala.toSeq
      assert(plans.size === 2, "one write per commit")
      plans.foreach { w =>
        val ns = nodes(w)
        val exchanges = ns.collect { case e: ShuffleExchangeLike => e }
        assert(exchanges.size === 1, s"exactly one shuffle per commit:\n$w")
        assert(exchanges.head.toString.contains("hashpartitioning(bucket"),
          s"the one shuffle is by bucket:\n$w")
        assert(ns.count(_.isInstanceOf[SortExec]) <= 1, s"at most one sort per commit:\n$w")
      }
      assert(sink.readState().count() ===
        CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols).count())
  }}

  // NOTE: these two tests build through the generic DataFrame faces —
  // the (spark, dir) driver faces serve a per-(dir, tier) memoized
  // checkpoint, whose plan is just a Scan and would make plan
  // assertions vacuous
  test("LSH ANN probes via broadcast join — corpus is never sort-merge shuffled") {
    val p = plan(Ann.lshTopK(Tables.embeddings(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), "probe set should broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join of the corpus expected")
  }

  test("IVF-PQ probe join broadcasts on cell — the corpus is encoded and scored shuffle-free") {
    // raw scan, not Tables.embeddings: its small-file fan-out
    // repartition is a documented no-op at scale (splits >= cores), and
    // THIS plan is the 100 TB shape the assertion locks
    val p = plan(Ann.ivfpqTopK(Tables.load(spark, sfDir, "embeddings")))
    // the deployable ANN tier's contract: the probe side (query ADC
    // tables × probed cells, driver-built) broadcasts and joins on
    // `cell`; the corpus side is ONE scan feeding the map-side encode
    assert("""BroadcastHashJoin \[cell""".r.findFirstIn(p).isDefined,
      s"probe join must be broadcast-hash on cell:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never be shuffled for the probe join")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"the code table must come from exactly one corpus scan:\n$p")
    // every shuffle Exchange sits ABOVE the join (top-k window + final
    // sort on (query, vec, score) scalars) — none below it touches the
    // corpus. \b keeps the probe's own BroadcastExchange (legitimately
    // under the join) out of the match.
    val shuffleAt = """\bExchange\b""".r.findAllMatchIn(p).map(_.start).toSeq
    assert(shuffleAt.nonEmpty && shuffleAt.max < p.indexOf("BroadcastHashJoin"),
      s"no shuffle Exchange may sit under the probe join (corpus side):\n$p")
  }

  test("IVF-PQ refine keeps every join broadcast — ADC probe on cell, survivor re-rank on vec_id") {
    val p = plan(Ann.ivfpqRefineTopK(Tables.load(spark, sfDir, "embeddings")))
    assert("""BroadcastHashJoin \[cell""".r.findFirstIn(p).isDefined,
      s"ADC probe join must be broadcast-hash on cell:\n$p")
    // the exact re-rank fetches raw vectors for the k' survivors via a
    // broadcast of the survivor ids — the corpus must never shuffle for
    // either stage
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for probe or re-rank:\n$p")
  }

  test("embedding cosine exact tier broadcasts via Spark (executor-accounted), fused-loop scored") {
    val p = plan(graft.dedup.Dedup.embeddingCosine(Tables.embeddings(spark, sfDir)))
    // the corpus side must be a Spark-managed broadcast build — the
    // payload sits in executor-accounted memory (BroadcastExchange),
    // not a hand-rolled sparkContext.broadcast of a driver collect
    assert(p.contains("BroadcastExchange"), s"corpus must be a Spark broadcast build:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), "non-equi id_a < id_b pair join expected")
    assert(p.contains("vec_cosine"), "scoring must be the native fused-loop expression")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never shuffle for the pair join")
  }

  test("tfidf doc-similarity probes via broadcast join on token") {
    val p = plan(graft.functions.TextFunctions.docSimilarTfidf(
      Tables.load(spark, sfDir, "documents")))
    // the probe docs' weight rows broadcast; candidate scoring joins
    // them against the corpus posting (weight) table on token — the
    // corpus is never shuffled FOR THE PROBE (the weight-table build
    // itself is keyed one-time work and may legitimately sort-merge at
    // scale)
    assert("""BroadcastHashJoin \[token""".r.findFirstIn(p).isDefined,
      s"probe join must be broadcast-hash on token:\n$p")
  }

  test("bigram_logprob pre-aggregates (doc,a,b) below the model join") {
    val p = plan(graft.functions.TextFunctions.bigramLogprob(
      Tables.load(spark, sfDir, "documents")))
    // the skew claim: per-occurrence rows collapse to one row per
    // (doc, bigram) BEFORE the model join, so a Zipf-hot bigram is
    // capped at one joined row per doc. Physical plans print top-down,
    // so "below the join" = the agg matches later in the string.
    val agg = """HashAggregate\(keys=\[doc_id#\d+L?, a#\d+, b#\d+\]""".r.findFirstMatchIn(p)
    assert(agg.isDefined, s"(doc,a,b) pre-aggregation expected in plan:\n$p")
    val firstJoin = p.indexOf("Join")
    assert(firstJoin >= 0 && agg.get.start > firstJoin,
      s"the (doc,a,b) aggregation must sit BELOW the model join:\n$p")
  }

  test("mm IVF-PQ inherits the broadcast-probe shape over the codec frame") {
    val p = plan(graft.multimodal.BinaryPipeline.similarTopKIvfPq(spark, sfDir))
    assert("""BroadcastHashJoin \[cell""".r.findFirstIn(p).isDefined,
      s"mm probe join must be broadcast-hash on cell:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the mm feature corpus must never shuffle for the probe join")
  }

  test("native vector expressions appear in the plan (not HOF lambdas)") {
    val p = plan(Ann.bruteForceTopK(Tables.embeddings(spark, sfDir)))
    // The scoring projection sits above a BroadcastNestedLoopJoin (no
    // whole-stage fusion there) but still evaluates through generated
    // UnsafeProjection code — what matters is that the native expression
    // is used, not an interpreted aggregate/zip_with lambda tree.
    assert(p.contains("vec_cosine"), "expected the native vec_cosine in the plan")
    assert(!p.contains("lambdafunction"), "no interpreted HOF lambdas in the scoring path")
  }

  test("decimal money faces keep their filters pushed to the scan") {
    // the decimal casts are projections ABOVE the filter — they must
    // not block predicate pushdown into the parquet scan. The scan's
    // metadata string truncates at 100 chars by default, which would
    // hide q6's longer filter list from the assertion.
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try {
      val p1 = plan(graft.queries.Analytics.q1PricingDecimal(spark, sfDir))
      assert(p1.contains("PushedFilters") && p1.contains("LessThanOrEqual(l_shipdate"),
        s"q1 decimal shipdate filter must reach the scan:\n$p1")
      val p6 = plan(graft.queries.Analytics.q6RevenueDecimal(spark, sfDir))
      assert(p6.contains("GreaterThanOrEqual(l_shipdate") && p6.contains("LessThan(l_quantity"),
        s"q6 decimal filters must reach the scan:\n$p6")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q18 aggregates the fact table before joining dims") {
    val q = graft.queries.Analytics.q18LargeOrders(spark, sfDir)
    val p = q.queryExecution.optimizedPlan.toString
    val aggIdx = p.indexOf("Aggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0)
    // optimizedPlan prints top-down: the join must appear above (before)
    // the lineitem aggregate, i.e. the aggregate is a join INPUT
    assert(joinIdx < aggIdx, s"aggregate must be a join input, not sit above it:\n$p")
    assert(p.contains("sum_qty"), "pre-aggregated quantity expected in plan")
  }

  test("ntile quartiles plan carries no window operator (boundary + map-side assign)") {
    val p = plan(graft.queries.Analytics.ntileQuartiles(spark, sfDir))
    assert(!p.contains("Window"), s"the few-partition sort window must be gone:\n$p")
    assert(p.contains("BroadcastHashJoin"), "boundary table should broadcast back")
  }

  test("ngram jaccard groups postings once — no shingle-keyed self-join") {
    // inspect the pair-scores build chain, not the entry — the entry
    // serves a memoized checkpoint (three consumers share one pair
    // table), which would make these assertions vacuous; the docs face
    // runs the same build chain, and the entries sort the checkpoint,
    // so no presentation sort here
    val p = plan(graft.dedup.Dedup.ngramJaccardPairs(Tables.documents(spark, sfDir)))
    assert(p.contains("Scan ExistingRDD"), "grouped postings must be materialized once")
    // r9 de-join: the set sizes ride in the posting elements, so after
    // the pair explosion there is NO join of any kind (subsumes the
    // earlier no-shingle-self-join and no-anti-join asserts; the
    // df-cap anti-join lives above the materialized postings) — and so
    // no broadcast to build while the pair aggregation holds all
    // execution memory, the sf1 OOM this shape exists to prevent.
    assert(!p.contains("Join"), s"no join of any kind after the explosion:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"fan-out repartition + pair agg only:\n$p")
  }

  test("decontaminate joins the corpus against broadcast bench grams") {
    val p = plan(graft.dedup.Dedup.decontaminate(spark, sfDir))
    // the gram-keyed join (on sh) must be broadcast — the corpus never
    // shuffles its grams; the final per-doc result join carries ids only
    assert(p.contains("BroadcastHashJoin [sh"), s"bench gram set should broadcast:\n$p")
    assert(p.contains("pmod") && p.contains("DataFilters: [isnotnull(doc_id"),
      "bench slice filter reaches its own scan")
  }

  test("pack_sequences windows per bucket, never globally") {
    val p = plan(graft.functions.TextFunctions.packSequences(spark, sfDir))
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(p).size
    val bucketSpecs = "windowspecdefinition\\(bucket".r.findAllIn(p).size
    assert(bucketSpecs >= 1, s"running sum must partition by bucket:\n$p")
    assert(allSpecs === bucketSpecs, s"no window spec may be global (empty partition):\n$p")
  }

  test("q13 aggregates orders per customer before the outer join") {
    val p = graft.queries.Analytics.q13CustomerDistribution(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val joinIdx = p.indexOf("Join LeftOuter")
    assert(joinIdx >= 0, s"expected an outer join:\n$p")
    // top-down print: the per-customer aggregate must be INSIDE the
    // join subtree (below it), so the join carries one row per customer
    assert(p.indexOf("Aggregate [o_custkey", joinIdx) > joinIdx,
      s"per-customer aggregate must be a join input:\n$p")
  }

  test("q17 materializes the brand slice once and broadcasts the thresholds") {
    val p = plan(graft.queries.Analytics.q17SmallQuantity(spark, sfDir))
    // the brand-slice join runs once, upstream of the materialization
    // boundary; the visible plan reads the slice and broadcast-joins
    // only the tiny per-part threshold table back onto it
    assert(p.contains("Scan ExistingRDD"), s"brand slice must be materialized once:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"threshold join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact-table shuffle join expected:\n$p")
  }

  test("q21 scans the fact table once — no EXISTS self-joins survive the rewrite") {
    val p = plan(graft.queries.Analytics.q21WaitingSuppliers(spark, sfDir))
    val factScans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(factScans === 1, s"expected exactly one lineitem scan, got $factScans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims must broadcast:\n$p")
    // the two-stage aggregate replaced the multi-DISTINCT form — an
    // Expand here would mean 3 shuffled rows per fact row again
    assert(!p.contains("Expand"), s"no multi-distinct Expand may shuffle the fact:\n$p")
  }

  test("q19 pushes the per-side disjunctions into both scans below the join") {
    val q = graft.queries.Analytics.q19BandRevenue(spark, sfDir)
    val p = plan(q)
    // each scan's PushedFilters must carry an Or — brand/size bands on
    // part, quantity bands on lineitem — plus the extracted common
    // returnflag conjunct on lineitem; none of it may wait for the join
    val lineScan = p.linesIterator.filter(l =>
      l.contains("lineitem.parquet") && l.contains("PushedFilters")).mkString
    val partScan = p.linesIterator.filter(l =>
      l.contains("part.parquet") && l.contains("PushedFilters")).mkString
    assert(lineScan.contains("Or") && lineScan.contains("l_returnflag"),
      s"lineitem scan must receive the quantity-band Or and the common returnflag:\n$lineScan")
    assert(partScan.contains("Or") && partScan.contains("p_brand"),
      s"part scan must receive the brand/size Or:\n$partScan")
    assert(p.contains("BroadcastHashJoin"), s"part join should broadcast:\n$p")
  }

  test("bloom_prune_join filters the fact map-side, below the join") {
    val p = plan(graft.queries.Analytics.bloomPruneJoin(spark, sfDir))
    assert(p.contains("might_contain"), s"BloomFilterMightContain must appear in the plan:\n$p")
    // the bloom predicate must sit on the fact side BELOW the join —
    // i.e. between the lineitem scan and the join operator, so pruned
    // rows never reach the exchange
    val joinIdx = p.linesIterator.indexWhere(l => l.contains("Join"))
    val bloomIdx = p.linesIterator.indexWhere(l => l.contains("might_contain"))
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      s"bloom filter must be a descendant of the join (printed after it):\n$p")
  }

  test("doc_chunks is a pure map pass — the only exchange is the output sort") {
    val p = plan(graft.functions.TextFunctions.docChunks(spark, sfDir))
    // Tables.documents round-robin-spreads a small local scan (a no-op
    // at cluster scale — see Tables.fanOut); that spread is not a
    // chunking shuffle, so count only requirement-driven exchanges
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
    assert(exchanges <= 1, s"chunking itself must not shuffle (got $exchanges exchanges):\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"no aggregation belongs in a chunking pass:\n$p")
  }

  test("value_anomalies broadcasts the stats back — the fact is never shuffled at event grain") {
    val p = plan(graft.queries.Analytics.valueAnomalies(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"per-type stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no event-grain shuffle join allowed:\n$p")
  }

  test("retention_cohorts aggregates to user grain before joining — no window, no event-grain join") {
    val p = plan(graft.queries.Analytics.retentionCohorts(spark, sfDir))
    assert(!p.contains("Window"), s"no window operator expected:\n$p")
    // both join inputs are aggregates (first-month and distinct month),
    // so a join line must appear ABOVE at least two aggregate chains
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(joinIdx >= 0, s"expected a join:\n$p")
    val aggsBelow = lines.drop(joinIdx).count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate"))
    assert(aggsBelow >= 2, s"both join inputs must be pre-aggregated:\n$p")
  }

  test("dedup_clusters small-graph path: corpus sees ONE broadcast join, no shuffle join") {
    // bounded edge sets are solved exactly on the driver (union-find over
    // the rows a broadcast would ship there anyway); the corpus-side work
    // must then be a single broadcast label join — no iterative jobs, no
    // SortMergeJoin, the output orderBy as the only exchange
    val p = plan(graft.dedup.Dedup.dedupClusters(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"labels must broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle join expected:\n$p")
  }

  test("dup_span_stats materializes the span postings once") {
    val p = plan(graft.dedup.Dedup.dupSpanStats(spark, sfDir))
    // grams feed the df aggregation AND the join back — the plan must
    // read a materialized frame, not recompute the corpus explode twice
    assert(p.contains("Scan ExistingRDD"), s"span postings must be materialized:\n$p")
    assert(!p.contains("Generate explode"), s"no live corpus explode may remain:\n$p")
  }

  test("custom expressions compile under strict codegen (no interpreted fallback)") {
    // Regression lock for the silent-fallback failure mode: a doGenCode
    // body that emits uncompilable Java (e.g. a wrong FQN) still passes
    // every correctness spec because Spark quietly falls back to
    // interpreted eval — only this strict-mode run surfaces it.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, array_distinct, split, lit}
    val conf = spark.conf
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val d = graft.dedup.Dedup
      val bands = Seq(Seq(1L, 2L, 3L), Seq(42L)).toDF("h")
        .select(graft.functions.MinHashExpression.minhashBandHashes(col("h"),
          d.minhashA.toIndexedSeq, d.minhashB.toIndexedSeq,
          d.MinhashPrime, d.BandRows).as("b"))
        .collect()
      assert(bands.length === 2 && bands.forall(!_.isNullAt(0)))

      val planes = Array.tabulate(2 * 2 * 3)(i => if (i % 2 == 0) 1.0 else -1.0)
      val vecRow = Seq((Seq(1.0f, 0.0f, 2.0f), Seq(0.5f, 0.5f, -1.0f))).toDF("a", "b")
        .select(
          graft.functions.VectorExpressions.hyperplaneSigs(col("a"), planes, 2, 2, 3).as("s"),
          graft.functions.VectorExpressions.cosine(col("a"), col("b")).as("cos"),
          graft.functions.VectorExpressions.l2sq(col("a"), col("b")).as("l2"))
        .collect()
      assert(vecRow.length === 1 && !vecRow(0).isNullAt(0))

      val sh = Seq("a b c a").toDF("text")
        .select(graft.functions.SimHashExpression.simhash64(
          array_distinct(split(col("text"), lit(" ")))).as("sh"))
        .collect()
      assert(sh.length === 1 && !sh(0).isNullAt(0))

      // PQ encode: 2 subspaces × 2 codes × 2 dims; v=(0,0,5,5) → code 0
      // is nearest (0,0) [j=0], code 1 nearest (4,4) [j=1]
      val flatBooks = Array(0.0, 0.0, 3.0, 3.0, 1.0, 1.0, 4.0, 4.0)
      val pq = Seq(Seq(0.0f, 0.0f, 5.0f, 5.0f)).toDF("v")
        .select(graft.functions.VectorExpressions.pqEncodeCodes(
          col("v"), flatBooks, 2, 2, 2).as("codes"))
        .collect()
      assert(pq.length === 1 && pq(0).getSeq[Int](0) === Seq(0, 1))
    } finally {
      conf.set("spark.sql.codegen.fallback", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("q9 broadcasts both dims and shuffles only the pruned fact against orders") {
    val p = plan(graft.queries.Analytics.q9ProfitByNation(spark, sfDir))
    // part (filtered) and supplier⋈nation must broadcast; the only
    // shuffle join is lineitem⋈orders, carrying just widget rows
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"dims must broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, s"only the orders join may shuffle:\n$p")
  }

  test("q11 aggregates the fact once and broadcasts the threshold scalar back") {
    val p = plan(graft.queries.Analytics.q11ImportantParts(spark, sfDir))
    // the per-part table is materialized (localCheckpoint) so the
    // threshold pass re-reads group rows, not the fact scan
    assert(p.contains("Scan ExistingRDD"), s"per-part aggregate must be materialized:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row threshold must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join expected:\n$p")
  }

  test("q7 restricts supplier and customer by nation below the fact join") {
    val q = graft.queries.Analytics.q7VolumeShipping(spark, sfDir)
    val p = q.queryExecution.optimizedPlan.toString
    val joinIdx = p.indexOf("= o_orderkey")
    assert(joinIdx >= 0, s"expected an orderkey fact join:\n$p")
    // top-down print: everything after the fact join line is its input
    // subtree — both nation IN-restrictions must already be there, so
    // the facts are pruned BEFORE they shuffle against each other
    val below = p.substring(joinIdx)
    val inFilters = "NATION_1,NATION_2".r.findAllIn(below).size
    assert(inFilters >= 2, s"nation IN-filters must sit below the fact join:\n$p")
  }

  test("copurchase pairs expand map-side — the fact table is never self-joined") {
    val p = plan(graft.queries.Analytics.copurchasePairs(spark, sfDir))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"basket expansion must not join at all:\n$p")
    assert(p.contains("Generate explode"), "pairs come from a map-side explode")
  }

  test("bm25 filters tokens to the query terms below the tf aggregate") {
    val q = graft.functions.TextFunctions.bm25Score(Tables.documents(spark, sfDir))
    val opt = q.queryExecution.optimizedPlan.toString
    // the isin filter must sit under the tf aggregate, so only
    // query-term tokens reach the (doc, token) shuffle
    val aggIdx = opt.indexOf("Aggregate [doc_id")
    assert(aggIdx >= 0, s"expected the per-doc aggregate:\n$opt")
    assert(opt.substring(aggIdx).contains("token#") &&
      opt.substring(aggIdx).contains(" IN "), // filter below the agg in the printed subtree
      s"query-term IN filter must sit below the tf aggregate:\n$opt")
    val p = plan(q)
    assert(p.contains("BroadcastExchange"), "df and corpus stats should broadcast")
  }

  test("source overlap groups grams once — no gram-keyed self-join") {
    val p = plan(graft.dedup.Dedup.sourceOverlap(spark, sfDir))
    // after the grouped frame materializes, the only joins are over the
    // |sources|²-row aggregate — tiny, so they must all broadcast
    assert(!p.contains("SortMergeJoin"), s"no shuffle join of gram rows:\n$p")
    // the grouped frame is checkpointed (read twice), so the downstream
    // plan reads srcs arrays and expands pairs map-side
    assert(p.contains("Generate explode"), "pairs come from a map-side explode")
  }

  test("weighted sample is a top-k heap, not a global sort") {
    val p = plan(graft.functions.TextFunctions.weightedSample(
      Tables.documents(spark, sfDir)))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must use per-partition heaps:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      "no full range-partitioned sort for a k-row result")
  }

  test("benford audit pushes the positivity filter into a single-column scan") {
    val p = graft.queries.Analytics.benfordAudit(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThan(l_extendedprice,0.0)"),
      s"positivity filter must reach the parquet scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"the scan must read exactly one column:\n$p")
  }

  test("gap-fill shuffles events once (the daily agg); the scaffold joins broadcast") {
    // the daily aggregate is checkpoint-materialized inside
    // densifyDaily (r10: shared with the streaming maintained-counts
    // face), so its map-side partials are locked on the pre-checkpoint
    // declaration and the scaffold shape on the full entry
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val pd = plan(daily)
    assert(pd.contains("partial_count") || pd.contains("partial count"),
      s"daily counts must partial-aggregate map-side:\n$pd")
    val p = plan(graft.queries.Analytics.gapFillDaily(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the dims-only scaffold must broadcast, never shuffle the grid")
  }

  test("graph epoch substrate: map-side pair expansion, two shuffles, fact join broadcast") {
    // the plan BEFORE checkpointing (cachedEpochPairs materializes);
    // rebuild the declaration to lock the shape
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val ordEpoch = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), lit(0).as("epoch"))
    val q = li.join(ordEpoch, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(first(col("epoch")).as("epoch"),
        sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) >= 2)
      .select(col("epoch"),
        explode(graft.dedup.Dedup.postingPairs(col("parts"))).as("pr"))
      .select(col("epoch"), col("pr.id_a").as("src"), col("pr.id_b").as("dst"))
      .groupBy("epoch", "src", "dst").agg(count(lit(1)).as("dw"))
    val p = plan(q)
    assert(p.contains("Generate explode"), "pairs must expand map-side from baskets")
    assert(p.contains("BroadcastHashJoin"),
      s"the orders epoch map must broadcast into the fact scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"exactly two shuffles expected (basket groupBy, pair count):\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "pair counts must partially aggregate map-side")
  }

  test("pca projection stays declarative: broadcast component join + partial agg, no corpus collect") {
    val p = plan(graft.similarity.Pca.pcaProject(spark, sfDir, q = 4))
    assert(p.contains("BroadcastHashJoin"),
      s"the d×q component table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no shuffle join in the projection")
    assert(p.contains("partial_sum"),
      "per-(vec, pc) scores must partially aggregate map-side")
  }

  test("dsir scoring probes the λ table via broadcast, never a corpus-sized join") {
    val docs = Tables.documents(spark, sfDir)
    val rows = graft.functions.TextFunctions.dsirBucketRows(docs)
    val p = plan(graft.functions.TextFunctions.dsirScore(
      rows, graft.functions.TextFunctions.dsirTrain(rows)))
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤1025-row λ model must broadcast into the bucket rows:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere in the scoring")
    assert(p.contains("partial_sum"),
      "per-doc weight sums must partially aggregate map-side")
  }

  test("classifier GD step: broadcast forward pass, map-side partial gradient") {
    val docs = Tables.documents(spark, sfDir)
    val (feat, labels) = graft.functions.Classifier.features(docs)
    val w0 = feat.select("bucket").distinct()
      .withColumn("w", org.apache.spark.sql.functions.lit(0.0))
    val p = plan(graft.functions.Classifier.gdStep(feat, labels, w0))
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤B-row weight table must broadcast into the forward pass:\n$p")
    assert(p.contains("partial_sum"),
      "the bucket gradient must partially aggregate map-side")
    assert(!p.contains("CartesianProduct"), "no cartesian in a GD step")
  }
}
