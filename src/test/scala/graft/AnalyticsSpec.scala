package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Analytics
import graft.Tables

class AnalyticsSpec extends AnyFunSuite with SparkSpec {

  test("q6 pushes filters down to the parquet scan") {
    // formatted explain prints scan details untruncated (tree strings elide long fields)
    val plan = Analytics.q6ForecastRevenue(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(l_shipdate") || plan.contains("LessThan(l_quantity")),
      s"expected pushed filters in:\n$plan")
  }

  test("q6 prunes columns: scan reads only needed fields") {
    val scanSchema = Analytics.q6ForecastRevenue(spark, sfDir)
      .queryExecution.executedPlan.toString
    // ReadSchema must not include untouched wide columns
    assert(!scanSchema.contains("l_returnflag"), "l_returnflag must be pruned from the scan")
  }

  test("broadcast_dim_join actually broadcasts the dims") {
    val plan = Analytics.broadcastDimJoin(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$plan")
  }

  test("salted join result equals plain join") {
    val salted = Analytics.skewSaltedJoin(spark, sfDir)
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("whole-stage codegen covers the q1 aggregation") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Analytics.q1PricingSummary(spark, sfDir)
    df.collect() // materialize so AQE finalizes the physical plan
    // query stages are leaves in the tree — descend into their plans by hand
    def hasCodegen(p: SparkPlan): Boolean = p match {
      case _: WholeStageCodegenExec => true
      case a: AdaptiveSparkPlanExec => hasCodegen(a.executedPlan)
      case q: QueryStageExec        => hasCodegen(q.plan)
      case other                    => other.children.exists(hasCodegen)
    }
    assert(hasCodegen(df.queryExecution.executedPlan),
      s"q1 must run inside codegen:\n${df.queryExecution.executedPlan}")
  }

  test("queries and oracles stay in sync") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle without query: ${os.diff(qs)}")
  }

  test("mergeable HLL sketches: daily-union estimate tracks exact distinct") {
    val est = Analytics.distinctUsersSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Analytics.distinctUsersExact(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val e = est(t).toDouble
      assert(math.abs(e - n) / n <= 0.05, s"$t: sketch $e vs exact $n")
    }
  }

  test("approx percentiles track exact within 5%") {
    val exact = Analytics.pricePercentiles(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Analytics.pricePercentilesApprox(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.05, s"$k p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 <= 0.05, s"$k p90: $a90 vs $p90")
    }
  }

  test("ntile_quartiles_approx tracks the exact quartile buckets within 5%") {
    // sf0.01 — the agreement-twin regime (at sf0.001 one order-statistic
    // slide moves a whole-percent of a tiny bucket)
    val twinDir = "/root/testdata/sf0.01"
    val exact = Analytics.ntileQuartiles(spark, twinDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val approx = Analytics.ntileQuartilesApprox(spark, twinDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet, "bucket scaffold must match")
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n <= 0.05,
        s"$k bucket count ${approx(k)} vs exact $n")
    }
    // each priority still partitions its full group across the buckets
    val byPrio = approx.groupBy(_._1._1).view.mapValues(_.values.sum)
    val exactByPrio = exact.groupBy(_._1._1).view.mapValues(_.values.sum)
    byPrio.foreach { case (p, tot) => assert(tot == exactByPrio(p),
      s"$p total drifted: $tot vs ${exactByPrio(p)}") }
  }

  test("monitor scale twins (t-digest) agree with their exact faces") {
    def rel(a: Double, b: Double): Double =
      if (b == 0.0) math.abs(a) else math.abs(a - b) / math.abs(b)
    // percentile_approx returns an ACTUAL value (no interpolation), so
    // at tiny n a quantile slides by a full order-statistic gap; assert
    // the twins at sf0.01 (~10x the rows) — the regime the scale twin
    // exists for, where the slide is O(1/n) of the mass.
    val twinDir = "/root/testdata/sf0.01"

    // value_psi: same halves/fold, approx decile fit
    val psiE = Analytics.valuePsi(spark, twinDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val psiA = Analytics.valuePsiApprox(spark, twinDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(psiA.keySet === psiE.keySet)
    psiE.foreach { case (t, v) =>
      assert(math.abs(psiA(t) - v) <= 0.02, s"$t psi: ${psiA(t)} vs $v") }

    // winsorized_stats: approx clamp bounds — moments within 5% relative
    val wE = Analytics.winsorizedStats(spark, twinDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val wA = Analytics.winsorizedStatsApprox(spark, twinDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    wE.foreach { case (t, (mw, sw)) =>
      assert(rel(wA(t)._1, mw) <= 0.05, s"$t mean_winsor: ${wA(t)._1} vs $mw")
      assert(rel(wA(t)._2, sw) <= 0.05, s"$t std_winsor: ${wA(t)._2} vs $sw") }

    // funnel_latency: approx p50/p90; n/mean/max identical by construction
    val fE = Analytics.funnelLatency(spark, twinDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    val fA = Analytics.funnelLatencyApprox(spark, twinDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    fE.foreach { case (s, (n, p50, p90)) =>
      assert(fA(s)._1 === n, s"$s: exact columns must be identical")
      assert(rel(fA(s)._2, p50) <= 0.05, s"$s p50: ${fA(s)._2} vs $p50")
      assert(rel(fA(s)._3, p90) <= 0.05, s"$s p90: ${fA(s)._3} vs $p90") }

    // cdc_change_cadence: approx gap quantiles, exact counts/mean/max
    val cE = graft.cdc.CdcQueries.changeCadence(spark, twinDir).head()
    val cA = graft.cdc.CdcQueries.changeCadenceApprox(spark, twinDir).head()
    assert(cA.getLong(0) === cE.getLong(0) && cA.getLong(1) === cE.getLong(1),
      "key/gap counts must be identical")
    Seq(3, 4, 5).foreach { i =>
      assert(rel(cA.getDouble(i), cE.getDouble(i)) <= 0.05,
        s"cadence col $i: ${cA.getDouble(i)} vs ${cE.getDouble(i)}") }
  }

  test("stratified sample hits per-stratum fractions within tolerance") {
    val docs = Tables.documents(spark, sfDir)
    val totals = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Analytics.stratifiedSample(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val want = if (lang == "en") 0.5 else 1.0
      val got = sampled.getOrElse(lang, 0L).toDouble / n
      assert(math.abs(got - want) <= 0.25, s"$lang: sampled fraction $got, wanted ~$want")
    }
    // non-en strata are kept whole: exact
    totals.filter(_._1 != "en").foreach { case (lang, n) =>
      assert(sampled(lang) === n, s"$lang should be fully retained")
    }
  }

  test("bloom-pruned join is bit-identical to the plain join") {
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("l_returnflag")
    val bloomed = Analytics.bloomPruneJoin(spark, sfDir)
    assert(bloomed.collect().toSeq === plain.collect().toSeq,
      "bloom false positives must be eliminated by the join")
  }

  test("a tiny bloom (high fpp) still yields the exact join result") {
    // 16 estimated items versus thousands of keys → the filter is
    // saturated and passes nearly everything; correctness must not
    // depend on the filter's selectivity, only shuffle volume does
    val tiny = Analytics.bloomPruneJoin(spark, sfDir, estItems = 16L)
    val sized = Analytics.bloomPruneJoin(spark, sfDir)
    assert(tiny.collect().toSeq === sized.collect().toSeq)
  }

  test("profile_columns reports exact per-column health on orders") {
    val prof = Analytics.profileColumns(spark, sfDir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val orders = Tables.orders(spark, sfDir)
    val nRows = orders.count()
    assert(prof.size === 6)
    prof.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") === nRows)
      assert(r.getAs[Long]("n_nulls") === 0L, "synthetic orders carry no nulls")
      assert(r.getAs[Long]("n_distinct") <= nRows)
    }
    // the primary key is fully distinct; low-cardinality dims are not
    assert(prof("o_orderkey").getAs[Long]("n_distinct") === nRows)
    assert(prof("o_orderstatus").getAs[Long]("n_distinct") < 10L)
    val mn = prof("o_totalprice").getAs[String]("min_str").toDouble
    val mx = prof("o_totalprice").getAs[String]("max_str").toDouble
    assert(mn <= mx)
  }

  test("profile_columns_approx tracks the exact profile within HLL tolerance, without Expand") {
    val exact = Analytics.profileColumns(spark, sfDir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val approx = Analytics.profileColumnsApprox(spark, sfDir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (c, a) =>
      val e = exact(c)
      // non-sketch columns are identical; the sketch is within ±5%
      // (2% rsd, generous margin at small cardinalities)
      assert(a.getAs[Long]("n_rows") === e.getAs[Long]("n_rows"))
      assert(a.getAs[Long]("n_nulls") === e.getAs[Long]("n_nulls"))
      assert(a.getAs[String]("min_str") === e.getAs[String]("min_str"))
      assert(a.getAs[String]("max_str") === e.getAs[String]("max_str"))
      val (ad, ed) = (a.getAs[Long]("n_distinct").toDouble, e.getAs[Long]("n_distinct").toDouble)
      assert(math.abs(ad - ed) <= math.max(ed * 0.05, 2.0),
        s"$c: approx $ad vs exact $ed")
    }
    // the scale property: NEITHER face Expands the scan any more — the
    // sketch face is one fused agg, and the exact face (r12 rewrite) is
    // per-column single-distinct aggs unioned, each over a one-column
    // pruned scan
    val plan = Analytics.profileColumnsApprox(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx profile must not Expand:\n$plan")
    val exactPlan = Analytics.profileColumns(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!exactPlan.contains("Expand"),
      s"the exact face's per-column rewrite must not Expand:\n$exactPlan")
  }

  test("retention cohorts: first month sets the cohort, later months count returns") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, t("1997-01-05 00:00:00")), (1L, t("1997-01-20 00:00:00")), // jan, twice (dedup to 1)
      (1L, t("1997-03-02 00:00:00")),                                 // returns at offset 2
      (2L, t("1997-01-15 00:00:00")),                                 // jan only
      (3L, t("1997-02-10 00:00:00")), (3L, t("1997-03-10 00:00:00"))) // feb cohort, returns at 1
      .toDF("user_id", "ts")
    val m = Analytics.retentionCohorts(events).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m === Map(
      ("1997-01", 0) -> 2L, ("1997-01", 2) -> 1L,
      ("1997-02", 0) -> 1L, ("1997-02", 1) -> 1L))
  }

  test("value anomalies flag only genuine outliers, with signed z-scores") {
    import spark.implicits._
    val base = (1 to 40).map(i => (i.toLong, "click", i % 10 + 0.0))
    val events = (base :+ (999L, "click", 1000.0))
      .toDF("event_id", "event_type", "value")
    val out = Analytics.valueAnomalies(events).collect()
    assert(out.length === 1 && out.head.getLong(0) === 999L)
    assert(out.head.getDouble(3) > 3.0, "the planted outlier z-score must exceed the gate")
    // without the outlier nothing is flagged
    assert(Analytics.valueAnomalies(base.toDF("event_id", "event_type", "value"))
      .count() === 0)
  }

  test("spend percentiles are monotone in spend within each segment") {
    val rows = Analytics.spendPercentiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, c) = (r.getDouble(3), r.getDouble(4))
      assert(p >= 0.0 && p <= 1.0 && c > 0.0 && c <= 1.0, s"out of range: $r")
    }
    rows.groupBy(_.getString(1)).values.foreach { seg =>
      val bySpend = seg.sortBy(_.getDouble(2))
      val pr = bySpend.map(_.getDouble(3))
      assert(pr.zip(pr.tail).forall { case (a, b) => a <= b },
        "percent_rank must be non-decreasing in spend")
      assert(pr.head === 0.0, "the minimum spend gets percent_rank 0")
    }
  }

  test("count-min estimates never undercount and stay within the eps bound") {
    val rep = Analytics.heavyHittersCms(spark, sfDir).collect()
    val n = Tables.events(spark, sfDir).count()
    val nUsers = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(rep.length === math.min(20L, nUsers))
    rep.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS must never undercount: $r")
      assert(est <= exact + math.max(2L, (2 * 0.0005 * n).toLong),
        s"CMS overcount beyond the eps·N bound: $r (n=$n)")
    }
    // the exact face agrees with a direct count
    val direct = Tables.events(spark, sfDir).groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(Analytics.userTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === direct.toSeq)
  }

  test("md5-mode CMS never undercounts and agrees with the exact face's keys") {
    val rep = Analytics.heavyHittersCmsMd5(spark, sfDir).collect()
    val exact = Analytics.userTopk(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.length === exact.size)
    rep.foreach { r =>
      assert(r.getLong(1) === exact(r.getLong(0)), s"exact count mismatch: $r")
      assert(r.getLong(2) >= r.getLong(1), s"CMS must never undercount: $r")
    }
  }

  test("funnel conversion respects event ORDER, not just event presence") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    val events = Seq(
      // user 1: full ordered funnel
      (1L, "view", t(10)), (1L, "click", t(20)), (1L, "purchase", t(30)),
      // user 2: click BEFORE the first view — must not count as converted,
      // and the later purchase has no qualifying click to follow
      (2L, "click", t(5)), (2L, "view", t(10)), (2L, "purchase", t(20)),
      // user 3: view only
      (3L, "view", t(10)))
      .toDF("user_id", "event_type", "ts")
    val out = graft.queries.Analytics.funnelConversion(events).collect()
    assert(out.length === 1 && out.head.getAs[String]("cohort") === "1997-03")
    assert(out.head.getAs[Long]("n_view") === 3L)
    assert(out.head.getAs[Long]("n_click") === 1L, "only user 1's click follows a view")
    assert(out.head.getAs[Long]("n_purchase") === 1L,
      "user 2's purchase lacks a qualifying click before it")
  }

  test("funnel latency equals a literal recompute over the stage table") {
    val st = Analytics.funnelUserStages(Tables.events(spark, sfDir)).collect()
    def gaps(from: String, to: String): Array[Long] = st
      .filter(r => r.getAs[java.sql.Timestamp](to) != null)
      .map(r => r.getAs[java.sql.Timestamp](to).getTime -
        r.getAs[java.sql.Timestamp](from).getTime)
      .sorted
    def pct(xs: Array[Long], q: Double): Double = {
      val pos = q * (xs.length - 1); val lo = pos.toInt; val f = pos - lo
      if (lo + 1 < xs.length) xs(lo) * (1 - f) + xs(lo + 1) * f else xs(lo).toDouble
    }
    val got = Analytics.funnelLatency(spark, sfDir).collect()
      .map(r => r.getAs[String]("step") -> r).toMap
    for ((step, g) <- Seq(
        "1_view_to_click" -> gaps("t_view", "t_click"),
        "2_click_to_purchase" -> gaps("t_click", "t_purchase"))) {
      val r = got(step)
      assert(r.getAs[Long]("n") === g.length.toLong, s"$step n")
      assert(math.abs(r.getAs[Double]("mean_ms") - g.map(_.toDouble).sum / g.length) < 1e-3)
      assert(math.abs(r.getAs[Double]("p50_ms") - pct(g, 0.5)) < 1e-3, s"$step p50")
      assert(math.abs(r.getAs[Double]("p90_ms") - pct(g, 0.9)) < 1e-3, s"$step p90")
      assert(r.getAs[Long]("max_ms") === g.last, s"$step max")
      // funnel ordering guarantees strictly positive latencies
      assert(g.head > 0, s"$step gaps must be positive")
    }
  }

  test("value psi equals a literal decile-bucket recompute and is non-negative") {
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val lo = ev.map(_._1).min; val hi = ev.map(_._1).max
    val mid = (lo + hi + 1) / 2
    def pct(xs: Array[Double], q: Double): Double = {
      val s = xs.sorted; val pos = q * (s.length - 1)
      val l = pos.toInt; val f = pos - l
      if (l + 1 < s.length) s(l) * (1 - f) + s(l + 1) * f else s(l)
    }
    val got = Analytics.valuePsi(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._2).foreach { case (t, rows) =>
      val first = rows.filter(_._1 < mid).map(_._3)
      val second = rows.filter(_._1 >= mid).map(_._3)
      val bs = (1 to 9).map(i => pct(first, i / 10.0))
      def bucket(x: Double) = bs.indexWhere(x <= _) match {
        case -1 => 10; case i => i + 1
      }
      val a = (1 to 10).map(k => first.count(bucket(_) == k).toLong)
      val b = (1 to 10).map(k => second.count(bucket(_) == k).toLong)
      val psi = (0 until 10).map { k =>
        val p = (a(k) + 0.5) / (first.length + 5)
        val q = (b(k) + 0.5) / (second.length + 5)
        (p - q) * math.log(p / q)
      }.sum
      val r = got(t)
      assert(r.getAs[Long]("n_first") === first.length.toLong, s"$t n_first")
      assert(r.getAs[Long]("n_second") === second.length.toLong, s"$t n_second")
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-3, s"$t psi")
      // Gibbs: a sum of (p-q)ln(p/q) terms is non-negative
      assert(r.getAs[Double]("psi") >= -1e-9, s"$t psi must be non-negative")
    }
  }

  test("seasonal anomalies equal a literal weekday-residual recompute") {
    def q(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .withColumn("isodow", weekday(col("day")) + 1)
      .collect().map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Int]("isodow"), r.getAs[Long]("n")))
    val means = daily.groupBy(_._2).map { case (d, rows) =>
      d -> q(rows.map(_._3).sum.toDouble / rows.length, 6)
    }
    val resids = daily.map(r => (r._1, r._3 - means(r._2)))
    val mu = resids.map(_._2).sum / resids.length
    val sd = q(math.sqrt(math.max(
      resids.map(r => r._2 * r._2).sum / resids.length - mu * mu, 0.0)), 6)
    val want = resids.map { case (d, r) => d -> q(r / sd, 4) }
      .filter(p => math.abs(p._2) > 2.0).toMap
    val got = Analytics.seasonalAnomalies(spark, sfDir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Double]("z")).toMap
    assert(got.keySet === want.keySet, "flagged-day sets differ")
    want.foreach { case (d, z) => assert(math.abs(got(d) - z) < 1e-9, s"$d z") }
    got.values.foreach(z => assert(math.abs(z) > 2.0))
  }

  test("event dup audit equals literal duplicate counting") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.sql.Timestamp](2)))
    val byId = ev.groupBy(_._1).map(_._2.length)
    val collisions = ev.groupBy(e => (e._2, e._3)).count(_._2.length > 1)
    val r = Analytics.eventDupAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_events") === ev.length.toLong)
    assert(r.getAs[Long]("n_ids") === byId.size.toLong)
    assert(r.getAs[Long]("n_dup_ids") === byId.count(_ > 1).toLong)
    assert(r.getAs[Long]("n_extra_rows") === byId.filter(_ > 1).map(_ - 1).sum.toLong)
    assert(r.getAs[Long]("n_user_ts_collisions") === collisions.toLong)
  }

  test("value ks equals a literal two-sample CDF recompute") {
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mid = (ev.map(_._1).min + ev.map(_._1).max + 1) / 2
    val got = Analytics.valueKs(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._2).foreach { case (t, rows) =>
      val first = rows.filter(_._1 < mid).map(_._3).sorted
      val second = rows.filter(_._1 >= mid).map(_._3).sorted
      val points = (first ++ second).distinct.sorted
      val d = points.map { x =>
        val f1 = first.count(_ <= x).toDouble / first.length
        val f2 = second.count(_ <= x).toDouble / second.length
        math.abs(f1 - f2)
      }.max
      val r = got(t)
      assert(r.getAs[Long]("n_first") === first.length.toLong, s"$t n_first")
      assert(r.getAs[Long]("n_second") === second.length.toLong, s"$t n_second")
      assert(math.abs(r.getAs[Double]("ks") - d) < 1e-3, s"$t ks")
      assert(r.getAs[Double]("ks") >= 0.0 && r.getAs[Double]("ks") <= 1.0)
    }
  }

  test("session bounce rollup equals a recompute over the session table") {
    val sess = graft.streaming.EventSessionizer.sessionizeBatch(spark, sfDir)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"), r.getAs[Long]("n_events")))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = graft.streaming.EventSessionizer.sessionBounce(spark, sfDir)
      .collect().map(r => r.getAs[String]("day") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounce"),
          r.getAs[Double]("mean_duration_ms"), r.getAs[Double]("bounce_rate")))).toMap
    sess.groupBy(s => fmt.format(s._1)).foreach { case (day, rows) =>
      val r = got(day)
      assert(r._1 === rows.length.toLong, s"$day n_sessions")
      assert(r._2 === rows.count(_._3 == 1L).toLong, s"$day n_bounce")
      val meanDur = rows.map(s => (s._2.getTime - s._1.getTime).toDouble).sum / rows.length
      assert(math.abs(r._3 - meanDur) < 1e-3, s"$day duration")
      assert(math.abs(r._4 - rows.count(_._3 == 1L).toDouble / rows.length) < 1e-4, s"$day rate")
    }
  }

  test("join key skew equals a literal per-key recompute with ratio >= 1") {
    val counts = Tables.lineitem(spark, sfDir).groupBy("l_orderkey")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("n")))
    val r = Analytics.joinKeySkew(spark, sfDir).collect().head
    val tot = counts.map(_._2).sum
    assert(r.getAs[Long]("n_keys") === counts.length.toLong)
    assert(r.getAs[Long]("n_rows") === tot)
    assert(r.getAs[Long]("max_rows") === counts.map(_._2).max)
    val topMass = counts.sortBy(c => (-c._2, c._1)).take(10).map(_._2).sum
    assert(math.abs(r.getAs[Double]("top10_share") - topMass.toDouble / tot) < 1e-4)
    assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9, "max/mean cannot be below 1")
  }

  test("winsorized stats equal a literal clamp-and-moment recompute") {
    val ev = Tables.events(spark, sfDir).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def pct(xs: Array[Double], q: Double): Double = {
      val s = xs.sorted; val pos = q * (s.length - 1)
      val lo = pos.toInt; val f = pos - lo
      if (lo + 1 < s.length) s(lo) * (1 - f) + s(lo + 1) * f else s(lo)
    }
    val got = Analytics.winsorizedStats(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (t, rows) =>
      val xs = rows.map(_._2)
      val (lo, hi) = (pct(xs, 0.05), pct(xs, 0.95))
      val wv = xs.map(x => math.min(math.max(x, lo), hi))
      val mu = wv.sum / wv.length
      val sd = math.sqrt(math.max(wv.map(x => x * x).sum / wv.length - mu * mu, 0.0))
      val r = got(t)
      assert(r.getAs[Long]("n") === xs.length.toLong, s"$t n")
      assert(math.abs(r.getAs[Double]("mean_raw") - xs.sum / xs.length) < 1e-3, s"$t raw")
      assert(math.abs(r.getAs[Double]("mean_winsor") - mu) < 1e-3, s"$t winsor")
      assert(math.abs(r.getAs[Double]("std_winsor") - sd) < 1e-3, s"$t std")
      // winsorizing can only pull the std in
      assert(r.getAs[Double]("std_winsor") <= pctStd(xs) + 1e-9, s"$t std shrink")
    }
  }

  private def pctStd(xs: Array[Double]): Double = {
    val mu = xs.sum / xs.length
    math.sqrt(math.max(xs.map(x => x * x).sum / xs.length - mu * mu, 0.0))
  }

  test("user activity gini equals the rank formula and bounds the decile share") {
    val counts = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("x")))
    val asc = counts.sortBy(c => (c._2, c._1)).map(_._2)
    val n = asc.length.toLong
    val tot = asc.sum
    val ix = asc.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val gini = 2.0 * ix / (n * tot).toDouble - (n + 1).toDouble / n
    val topK = math.ceil(n / 10.0).toLong
    val topMass = counts.sortBy(c => (-c._2, c._1)).take(topK.toInt).map(_._2).sum
    val r = Analytics.userActivityGini(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_users") === n)
    assert(r.getAs[Long]("total_events") === tot)
    assert(math.abs(r.getAs[Double]("gini") - gini) < 1e-4)
    assert(math.abs(r.getAs[Double]("top_decile_share") - topMass.toDouble / tot) < 1e-4)
    // bounds: gini in [0, 1); the top decile owns at least its uniform share
    assert(r.getAs[Double]("gini") >= 0.0 && r.getAs[Double]("gini") < 1.0)
    assert(r.getAs[Double]("top_decile_share") >= topK.toDouble / n - 1e-4)
  }

  test("co-purchase basket expansion equals the self-join formulation") {
    val li = Tables.lineitem(spark, sfDir)
    val items = li.select("l_orderkey", "l_partkey").distinct()
    val selfJoin = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(100)
    val fast = Analytics.copurchasePairs(spark, sfDir)
    assert(fast.exceptAll(selfJoin).isEmpty && selfJoin.exceptAll(fast).isEmpty,
      "map-side basket expansion must produce exactly the self-join pair counts")
  }

  test("event transitions: probabilities sum to 1 per source state, counts match lead") {
    val t = Analytics.eventTransitions(spark, sfDir).collect()
    assert(t.nonEmpty)
    val bySrc = t.groupBy(_.getString(0))
    bySrc.foreach { case (src, rows) =>
      val pSum = rows.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 0.01, s"$src transition probs sum to $pSum")
    }
    // total transitions = events - distinct users with >=1 event (each
    // user's last event has no successor)
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(t.map(_.getLong(2)).sum === expected)
  }

  test("bottom-k quantile sketch: daily sketches merge to the direct sketch exactly") {
    import graft.functions.QuantileSketch
    val k = 64
    val agg = QuantileSketch.bottomK(k)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        QuantileSketch.hashKey(col("event_id")).as("hkey"), col("value"))
    val direct = ev.groupBy("event_type")
      .agg(agg(col("hkey"), col("value")).as("sketch"))
    // shard by day, sketch each shard, then merge the shards by
    // re-sketching the union of their entries (set semantics: the
    // bottom-k of a union is the bottom-k of the bottom-ks)
    val merged = ev.groupBy("event_type", "day")
      .agg(agg(col("hkey"), col("value")).as("sketch"))
      .select(col("event_type"), explode(col("sketch")).as("e"))
      .groupBy("event_type")
      .agg(agg(col("e._1"), col("e._2")).as("sketch"))
    val d = direct.collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val m = merged.collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(d.keySet === m.keySet)
    d.keys.foreach { t =>
      assert(d(t) === m(t), s"merge-of-shards must equal direct sketch for $t")
      assert(d(t).size <= k, "sketch state must stay bounded")
    }
    // at-least-once idempotence ON THE REDUCE PATH: re-ingesting every
    // row a second time (the replayed-feed shape) must produce the
    // byte-identical sketch — a duplicate key may not occupy a slot or
    // evict a distinct k-th entry (regression lock for the r4 advice:
    // reduce used to insert duplicates that only merge deduplicated)
    val doubled = ev.unionAll(ev).groupBy("event_type")
      .agg(agg(col("hkey"), col("value")).as("sketch"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    d.keys.foreach { t =>
      assert(doubled(t) === d(t), s"replayed rows must be reduce-path no-ops for $t")
    }

    // rank accuracy: the p50 estimate's empirical rank is 0.5 +/- 0.15
    // (k=64 -> sigma ~ 6.3%, generous 2.4-sigma band)
    val est = graft.functions.QuantileSketch.quantileSketch(spark, sfDir, k)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    est.foreach { case (t, p50) =>
      val all = Tables.events(spark, sfDir).filter(col("event_type") === t)
        .select("value").collect().map(_.getDouble(0)).sorted
      val rank = all.count(_ <= p50).toDouble / all.length
      assert(rank > 0.35 && rank < 0.65, s"$t: p50 estimate $p50 sits at rank $rank")
    }
  }

  test("bottom-k sketch is partition/order/replay-invariant (seeded randomized)") {
    // pure-JVM property sweep over the Aggregator itself: any
    // partitioning of any input multiset, reduced in any order and
    // merged in any tree shape, must produce the identical sketch —
    // including duplicate keys carrying DIFFERENT values (the
    // at-least-once shape the r4 advice flagged: value ties must
    // resolve identically on the reduce and merge paths)
    val sk = new graft.functions.BottomKSketch(16)
    val rnd = new scala.util.Random(1234)
    (1 to 50).foreach { trial =>
      val n = 1 + rnd.nextInt(120)
      val rows = Vector.fill(n)((rnd.nextInt(40).toLong, // narrow key space → many dup keys
        math.rint(rnd.nextDouble() * 100) / 10))
      val direct = rows.foldLeft(sk.zero)(sk.reduce)
      // random shuffle + random partition count, merged left-to-right
      val shuffled = rnd.shuffle(rows)
      val parts = 1 + rnd.nextInt(6)
      val merged = shuffled.grouped(math.max(1, (n + parts - 1) / parts))
        .map(_.foldLeft(sk.zero)(sk.reduce))
        .foldLeft(sk.zero)(sk.merge)
      assert(merged === direct, s"trial $trial: partitioned-merge diverged from direct")
      // replaying the whole input is a no-op on both paths
      assert(rows.foldLeft(direct)(sk.reduce) === direct, s"trial $trial: reduce replay")
      assert(sk.merge(direct, direct) === direct, s"trial $trial: merge replay")
    }
  }

  test("gap-filled daily grid is dense, zero-filled, and count-preserving") {
    val ev = Tables.events(spark, sfDir)
    val grid = Analytics.gapFillDaily(spark, sfDir).collect()
    val types = ev.select("event_type").distinct().count()
    val spanDays = grid.map(r => java.time.LocalDate.parse(r.getString(1))).distinct
    // every type covers the identical full day spine
    assert(grid.length === types * spanDays.length)
    val span = (spanDays.min.toEpochDay to spanDays.max.toEpochDay).length
    assert(spanDays.length === span, "day spine has no holes")
    // densification must not invent or lose events
    assert(grid.map(_.getLong(2)).sum === ev.count())
  }

  test("q5 revenue rounds half-up exactly where the double sum sits below a half-cent") {
    import spark.implicits._
    // one lineitem per nation: 10.10 × 0.95 = 9.595 and 10.50 × 0.93 =
    // 9.765 exactly, but the double products are 9.594999999999999 and
    // 9.764999999999999, so round(sum(double), 2) gives 9.59 / 9.76
    val dir = java.nio.file.Files.createTempDirectory("q5-boundary").toString
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    val day = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    put("region", Seq((0, "ASIA")).toDF("r_regionkey", "r_name"))
    put("nation", Seq((0, "NATION_0", 0), (1, "NATION_1", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    put("customer", Seq((1L, 0), (2L, 1)).toDF("c_custkey", "c_nationkey"))
    put("supplier", Seq((1L, 0), (2L, 1)).toDF("s_suppkey", "s_nationkey"))
    put("orders", Seq((1L, 1L, day), (2L, 2L, day))
      .toDF("o_orderkey", "o_custkey", "o_orderdate"))
    put("lineitem", Seq((1L, 1L, 10.10, 0.05), (2L, 2L, 10.50, 0.07))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"))
    val got = Analytics.q5LocalSupplier(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("NATION_0" -> 9.60, "NATION_1" -> 9.77))
  }

  test("q12 priority accounting equals independent per-class counts") {
    val out = Analytics.q12LinePriority(spark, sfDir).collect()
    val joined = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        expr("l_shipdate >= o_orderdate + INTERVAL 60 DAYS"))
    out.foreach { r =>
      val flag = r.getString(0)
      val high = joined.filter(col("l_returnflag") === flag &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()
      val low = joined.filter(col("l_returnflag") === flag &&
        !col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()
      assert(r.getLong(1) === high && r.getLong(2) === low, s"mismatch for $flag")
    }
    // one CASE-sum pass, not a per-class re-scan: both sums share one aggregate
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum === joined.count())
  }

  test("ewma closed form equals the recursive definition per user") {
    val out = Analytics.ewmaEvents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // recompute a sample of users with the literal recursion
    // s_1 = v_1; s_i = α v_i + (1−α) s_{i−1} over the last-20 window
    val sample = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1).take(25)
    assert(sample.nonEmpty)
    sample.foreach { case (uid, rows) =>
      val vs = rows.sortBy(t => (t._2.getTime, t._3)).map(_._4)
        .takeRight(Analytics.EwmaWindow)
      val rec = vs.tail.foldLeft(vs.head)((s, v) =>
        Analytics.EwmaAlpha * v + (1 - Analytics.EwmaAlpha) * s)
      val (n, got) = out(uid)
      assert(n === vs.length, s"user $uid window size")
      assert(math.abs(got - rec) < 1e-6,
        s"user $uid: closed form $got vs recursion $rec")
    }
    // one exchange: the user partition serves the rank, the window max,
    // and the final aggregate
    val p = Analytics.ewmaEvents(spark, sfDir).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"ewma should reuse the single user-keyed exchange:\n$p")
  }

  test("cusum change-point equals a driver-side replay over the dense grid") {
    val grid = Analytics.gapFillDaily(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = Analytics.cusumChangepoint(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3)))).toMap
    val byType = grid.groupBy(_._1)
    assert(out.keySet === byType.keySet)
    byType.foreach { case (t, rows) =>
      val series = rows.sortBy(_._2).map(r => (r._2, r._3.toDouble))
      val n = series.length
      val mu = series.map(_._2).sum / n
      val sigma = math.sqrt(series.map(x => (x._2 - mu) * (x._2 - mu)).sum / (n - 1))
      var s = 0.0
      val cums = series.map { case (d, x) => s += x - mu; (d, s) }
      val (wantDay, wantS) = cums.sortBy { case (d, v) => (-math.abs(v), d) }.head
      val (gotDay, gotStat, gotN) = out(t)
      assert(gotN === n.toLong, s"$t n_days")
      assert(gotDay === wantDay, s"$t change day: got $gotDay want $wantDay")
      val wantStat = if (sigma == 0) 0.0 else math.abs(wantS) / (sigma * math.sqrt(n.toDouble))
      assert(math.abs(gotStat - wantStat) < 1e-3, s"$t stat: $gotStat vs $wantStat")
    }
  }

  test("series correlation equals a driver-side Pearson over the dense grid") {
    val grid = Analytics.gapFillDaily(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val series = grid.groupBy(_._1).map { case (t, rows) =>
      t -> rows.sortBy(_._2).map(_._3.toDouble)
    }
    val out = Analytics.seriesCorrelation(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val types = series.keys.toSeq.sorted
    val wantPairs = for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield (types(i), types(j))
    assert(out.keySet === wantPairs.toSet)
    wantPairs.foreach { case (ta, tb) =>
      val (x, y) = (series(ta), series(tb))
      val n = x.length
      val mx = x.sum / n; val my = y.sum / n
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = x.map(a => (a - mx) * (a - mx)).sum
      val vy = y.map(b => (b - my) * (b - my)).sum
      val want = cov / math.sqrt(vx * vy)
      assert(math.abs(out((ta, tb)) - want) < 1e-3,
        s"($ta,$tb): got ${out((ta, tb))} want $want")
      assert(out((ta, tb)).abs <= 1.0 + 1e-9)
    }
  }

  test("benford audit partitions every priced row and its chi-square terms are consistent") {
    val rows = Analytics.benfordAudit(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet.subsetOf((1 to 9).toSet))
    val priced = Tables.lineitem(spark, sfDir).filter(col("l_extendedprice") > 0).count()
    assert(rows.map(_._2).sum === priced, "every priced row lands in exactly one digit bin")
    // expectations are a probability split of the same total
    assert(math.abs(rows.map(_._3).sum - priced.toDouble) < 1.0)
    rows.foreach { case (d, n, e, chi) =>
      assert(e > 0 && chi >= 0)
      assert(math.abs(chi - (n - e) * (n - e) / e) < 0.05,
        s"digit $d chi2 term inconsistent with its own (n, e)")
    }
  }

  test("rfm segments partition the ordering customers into valid quartile codes") {
    val segs = Analytics.ordersRfm(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(segs.forall(_._1.matches("[1-4]{3}")), "segment codes are three quartile digits")
    val nCust = Tables.orders(spark, sfDir).select("o_custkey").distinct().count()
    assert(segs.map(_._2).sum === nCust, "every ordering customer lands in one segment")
    assert(segs.forall(_._3 > 0), "average spend positive")
    // best-recency segments must exist: quartile 1 is always populated
    assert(segs.exists(_._1.startsWith("1")))
  }

  test("rfm segment averages round half-up exactly where the double average sits below a half-cent") {
    import spark.implicits._
    // eight one-order customers: spend falls and recency grows with
    // custkey, so every ntile pairs customers (1,2), (3,4), (5,6),
    // (7,8) into segments 111..444. Each pair's exact average spend
    // ends in a half-cent (40.01 and 38.16 average 39.085), but the
    // double average is 39.084999999999994, which round(avg, 2) takes
    // down to 39.08
    val dir = java.nio.file.Files.createTempDirectory("rfm-boundary").toString
    val spend = Seq(40.01, 38.16, 30.02, 28.11, 20.02, 18.11, 10.01, 8.04)
    val ref = java.time.LocalDate.parse("1998-08-02")
    spend.zipWithIndex.map { case (p, i) =>
      (i.toLong + 1, i.toLong + 1, p,
        java.sql.Timestamp.valueOf(ref.minusDays(i).atStartOfDay()))
    }.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val got = Analytics.ordersRfm(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got === Seq(("111", 2L, 39.09, 0.5), ("222", 2L, 29.07, 2.5),
      ("333", 2L, 19.07, 4.5), ("444", 2L, 9.03, 6.5)))
  }

  test("trend slope equals a driver-side least-squares fit over the dense grid") {
    val grid = Analytics.gapFillDaily(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = Analytics.trendSlope(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    grid.groupBy(_._1).foreach { case (t, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      val n = ys.length
      val xs = (0 until n).map(_.toDouble)
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      val (gotN, gotS) = out(t)
      assert(gotN === n.toLong)
      assert(math.abs(gotS - slope) < 1e-4, s"$t slope $gotS vs fit $slope")
    }
  }

  test("fk audit covers every relation with full row counts and finds no orphans in consistent data") {
    val rows = Analytics.fkIntegrityAudit(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet === Set("customer.nation", "lineitem.orders",
      "lineitem.part", "lineitem.supplier", "nation.region",
      "orders.customer", "supplier.nation"))
    val li = Tables.lineitem(spark, sfDir).count()
    assert(rows("lineitem.orders")._1 === li)
    assert(rows("lineitem.part")._1 === li)
    assert(rows("orders.customer")._1 === Tables.orders(spark, sfDir).count())
    // the generated star schema is referentially consistent
    rows.foreach { case (rel, (_, orphans)) =>
      assert(orphans === 0L, s"$rel reported $orphans orphans on consistent data")
    }
    // dimension probes must broadcast — the audit is one scan per fact side
    val p = Analytics.fkIntegrityAudit(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"fk probes should broadcast:\n$p")
  }

  test("series_acf matches a literal per-lag Pearson over the dense grid") {
    val grid = Analytics.gapFillDaily(spark, sfDir)
      .select("event_type", "day", "n_events").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).map(_._3.toDouble) }
    val got = Analytics.seriesAcf(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    for ((t, series) <- grid; l <- 1 to Analytics.AcfMaxLag if series.length > l) {
      val x = series.dropRight(l) // earlier
      val y = series.drop(l)      // later
      val n = x.length
      val (mx, my) = (x.sum / n, y.sum / n)
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = x.map(a => (a - mx) * (a - mx)).sum
      val vy = y.map(b => (b - my) * (b - my)).sum
      val (gotN, gotR) = got((t, l))
      assert(gotN === n.toLong, s"$t lag $l pair count")
      if (vx > 0 && vy > 0)
        assert(math.abs(gotR - cov / math.sqrt(vx * vy)) < 1e-3,
          s"$t lag $l acf $gotR vs ${cov / math.sqrt(vx * vy)}")
    }
    // one exchange: the window, explode, and aggregate share the
    // event_type partitioning — no second shuffle after the grid
    val nEx = Analytics.seriesAcf(spark, sfDir).queryExecution.executedPlan
      .toString.linesIterator.count(_.contains("Exchange"))
    assert(nEx <= 6, s"expected a bounded exchange count, got $nEx")
  }

  test("assoc_rules matches a literal basket recount and keeps its identities") {
    val rules = Analytics.assocRules(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // literal recount from the raw tables
    val brandOf = Tables.part(spark, sfDir).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baskets = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), brandOf(r.getLong(1))))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSeq
    val n = baskets.length.toLong
    val cnt = baskets.flatMap(_.toSeq).groupBy(identity).map { case (b, bs) => b -> bs.length.toLong }
    val nxy = baskets.flatMap(s => for (x <- s; y <- s if x != y) yield (x, y))
      .groupBy(identity).map { case (p, ps) => p -> ps.length.toLong }
    assert(rules.keySet === nxy.keySet)
    for (((x, y), (gotN, sup, conf, lift)) <- rules) {
      assert(gotN === nxy((x, y)), s"($x,$y) pair count")
      assert(math.abs(sup - gotN.toDouble / n) < 1e-3)
      assert(math.abs(conf - gotN.toDouble / cnt(x)) < 1e-3)
      assert(math.abs(lift - gotN.toDouble * n / (cnt(x) * cnt(y))) < 1e-3)
      // symmetry: support and lift are direction-free, counts mirror
      assert(rules((y, x))._1 === gotN)
      assert(rules((y, x))._4 === lift)
    }
    // the brand lookup and count joins must broadcast — the only big
    // exchange is the orderkey basket build
    val p = Analytics.assocRules(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"dim joins should broadcast:\n$p")
  }

  test("event_paths matches a literal per-user prefix walk and shares the user exchange") {
    val got = Analytics.eventPaths(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
      .groupBy(_._1).values
      .map(_.sortBy(e => (e._2, e._3)).take(Analytics.PathLen).map(_._4).mkString(">"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
    assert(got === want)
    // the rank window and the per-user path assembly must share ONE
    // user-keyed exchange; only the tiny path histogram re-shuffles
    val plan = Analytics.eventPaths(spark, sfDir).queryExecution.executedPlan.toString
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1, s"expected one user_id exchange:\n$plan")
  }

  test("price_histogram covers every row once with contiguous bounds") {
    val rows = Analytics.priceHistogram(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val total = Tables.lineitem(spark, sfDir).count()
    assert(rows.map(_._4).sum === total, "histogram must partition all rows")
    assert(rows.forall(r => r._1 >= 0 && r._1 < Analytics.HistBuckets))
    // bucket bounds tile [min, max]: lo of bucket b+1 == hi of bucket b
    rows.sliding(2).foreach {
      case Array((b1, _, hi1, _), (b2, lo2, _, _)) if b2 == b1 + 1 =>
        assert(math.abs(hi1 - lo2) < 1e-9, s"gap between bucket $b1 and $b2")
      case _ => ()
    }
    // both passes read only the price column
    val plan = Analytics.priceHistogram(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"scan must prune to the single column:\n$plan")
  }

  test("sales_seasonality is a flat-sum index over exact counts") {
    val rows = Analytics.salesSeasonality(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    val total = rows.map(_._2).sum
    assert(total === Tables.orders(spark, sfDir).count())
    rows.foreach { case (dow, n, idx) =>
      assert(dow >= 1 && dow <= 7)
      assert(math.abs(idx - 7.0 * n / total) < 1e-3, s"dow $dow index")
    }
  }

  test("orders_abc classifies by exact cumulative cents at 80/95") {
    val perPart = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1) * (1.0 - r.getDouble(2))))
      .groupBy(_._1).map { case (p, rs) =>
        p -> math.round(rs.map(_._2).sum * 100)
      }.toSeq.sortBy { case (p, c) => (-c, p) }
    val total = perPart.map(_._2).sum
    var cum = 0L
    val classes = perPart.map { case (_, c) =>
      cum += c
      if (cum * 100 <= total * 80) "A" else if (cum * 100 <= total * 95) "B" else "C"
    }
    val want = classes.zip(perPart.map(_._2)).groupBy(_._1)
      .map { case (cl, xs) => cl -> (xs.size.toLong, xs.map(_._2).sum) }
    val got = Analytics.ordersAbc(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === want.keySet)
    for ((cl, (n, cents)) <- want) {
      assert(got(cl)._1 === n, s"class $cl count")
      assert(math.abs(got(cl)._2 - cents / 100.0) < 0.02, s"class $cl revenue")
    }
    // Pareto shape: class A (80% of revenue) is well under all parts
    assert(got("A")._1 < perPart.size, "class A must not swallow the catalog")
  }

  test("daily_anomalies_mad flags exactly the med/MAD outliers of the grid") {
    val grid = Analytics.gapFillDaily(spark, sfDir)
      .select("event_type", "day", "n_events").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val want = grid.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val xs = rows.toSeq.map(_._3.toDouble)
      val med = median(xs)
      val mad = median(xs.map(x => math.abs(x - med)))
      if (mad <= 0) Seq.empty[((String, String), (Long, Double))]
      else rows.toSeq.flatMap { case (_, day, n) =>
        val z = 0.6745 * (n - med) / mad
        // the query's own predicate: 4-dp rounded score beyond the cut
        val zr = BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (math.abs(zr) > Analytics.MadCut) Some((t, day) -> (n, z)) else None
      }
    }.toMap
    val got = Analytics.dailyAnomaliesMad(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === want.keySet, "flagged day set")
    for ((k, (n, z)) <- want) {
      assert(got(k)._1 === n)
      assert(math.abs(got(k)._2 - z) < 1e-3, s"$k mod_z")
    }
  }

  test("rolling_revenue_7d keeps calendar width through date gaps") {
    val daily = Tables.orders(spark, sfDir)
      .select("o_orderpriority", "o_orderdate", "o_totalprice").collect()
      .map { r =>
        val day = r.get(1) match {
          case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
          case d: java.time.LocalDateTime => d.toLocalDate
        }
        ((r.getString(0), day), r.getDouble(2))
      }
      .groupBy(_._1).map { case ((p, d), rs) =>
        // order-grain cents: the substrate's batch-split-proof quantization
        (p, d.toEpochDay) -> (rs.length.toLong, rs.map(x => math.round(x._2 * 100)).sum)
      }
    val got = Analytics.rollingRevenue7d(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.size === daily.size)
    for (((p, dayN), (n, _)) <- daily) {
      val day = java.time.LocalDate.ofEpochDay(dayN).toString
      val wantCents = (dayN - 6 to dayN)
        .flatMap(d => daily.get((p, d))).map(_._2).sum
      assert(got((p, day))._1 === n, s"($p,$day) order count")
      assert(math.abs(got((p, day))._2 - wantCents / 100.0) < 1e-6,
        s"($p,$day) 7d revenue")
    }
  }

  test("monthly_growth divides exact cents month over month") {
    val rows = Analytics.monthlyGrowth(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    assert(rows.head._4.isEmpty, "first month has no prior")
    rows.sliding(2).foreach {
      case Array((_, _, prevRev, _), (m, _, rev, Some(pct))) =>
        val cents = math.round(rev * 100); val prev = math.round(prevRev * 100)
        assert(math.abs(pct - (cents - prev) * 100.0 / prev) < 1e-3, s"$m growth")
      case _ => ()
    }
    assert(rows.map(_._2).sum === Tables.orders(spark, sfDir).count())
  }

  test("customer_churn_sets partitions the buyer sets consistently") {
    val m = Analytics.customerChurnSets(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set("1_first", "2_second", "3_retained", "4_churned", "5_new"))
    // retained + churned = first; retained + new = second
    assert(m("3_retained") + m("4_churned") === m("1_first"))
    assert(m("3_retained") + m("5_new") === m("2_second"))
    assert(m("1_first") > 0 && m("2_second") > 0)
  }

  test("category_drift replays the chi-square against the overall mix") {
    val orders = Tables.orders(spark, sfDir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"), col("o_orderpriority"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val total = orders.length.toDouble
    val overall = orders.groupBy(_._2).map { case (p, xs) => p -> xs.length.toDouble }
    val want = orders.groupBy(_._1).map { case (m, xs) =>
      val nMonth = xs.length.toDouble
      val chi2 = overall.map { case (p, nCat) =>
        val obs = xs.count(_._2 == p).toDouble
        val exp = nMonth * nCat / total
        (obs - exp) * (obs - exp) / exp
      }.sum
      m -> (xs.length.toLong, chi2)
    }
    val got = Analytics.categoryDrift(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === want.keySet)
    for ((m, (n, chi2)) <- want) {
      assert(got(m)._1 === n, s"$m order count")
      assert(math.abs(got(m)._2 - chi2) < 1e-3, s"$m chi2 ${got(m)._2} vs $chi2")
    }
  }

  test("supplier_hhi is a true concentration index over exact cents") {
    val rows = Analytics.supplierHhi(spark, sfDir).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (nat, n, hhi, top) =>
      assert(hhi >= 1.0 / n - 1e-4 && hhi <= 1.0 + 1e-9, s"nation $nat HHI $hhi range")
      assert(top * top <= hhi + 1e-6, s"nation $nat top share consistency")
      assert(top <= 1.0 + 1e-9 && top >= 1.0 / n - 1e-9)
    }
    // every supplier with lineitems is attributed to exactly one nation
    assert(rows.map(_._2).sum ===
      Tables.lineitem(spark, sfDir).select("l_suppkey").distinct().count())
  }

  test("pareto_front equals the brute-force dominance skyline") {
    val got = Analytics.paretoFront(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val parts = Tables.part(spark, sfDir)
      .select("p_retailprice", "p_size", "p_partkey").collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
    val pairs = parts.groupBy(p => (p._1, p._2)).map { case ((pr, sz), ps) =>
      (pr, sz, ps.length.toLong, ps.map(_._3).min)
    }.toSeq
    val want = pairs.filter { case (pr, sz, _, _) =>
      !pairs.exists { case (qr, qz, _, _) =>
        qr <= pr && qz >= sz && (qr < pr || qz > sz)
      }
    }.sortBy(_._1)
    assert(got.toSeq === want, s"skyline mismatch: got ${got.length}, want ${want.length}")
    // antichain shape: ordered by price, sizes strictly increase (a
    // pricier front point must buy strictly more size)
    got.sliding(2).foreach {
      case Array((p1, s1, _, _), (p2, s2, _, _)) =>
        assert(p1 < p2 && s1 < s2, s"front not an antichain at ($p1,$s1)→($p2,$s2)")
      case _ => ()
    }
  }
}
