package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Analytics
import graft.sources.MicroBatchJob

/** Streaming maintenance of the market-basket rule substrate — the
  * continuous face of `assoc_rules`: per-batch brand baskets fold
  * into three ADDITIVE count relations (pair co-occurrences, brand
  * occurrences, order total), each a [[DeltaStore]] with the
  * inherited replay/compaction/crash discipline.
  *
  * Contract: each ORDER arrives wholly within one micro-batch (the
  * completed-order append stream — a basket is the unit of delivery).
  * Under that contract every count is a sum over disjoint per-batch
  * basket sets, so the fold is exact; the read face is
  * [[Analytics.assocRulesFace]] — the batch entry's own projection —
  * making streamed == batch structural with integer-only state.
  *
  * Scale shape: per-batch cost is the batch's basket build (one
  * orderkey shuffle of batch rows + broadcast brand dim); the fold
  * state is ≤|brands|² + |brands| + 1 rows regardless of order volume.
  */
class StreamingAssocRulesJob(spark: SparkSession, statePath: String,
                             brandDim: DataFrame, compactEvery: Int = 16) extends MicroBatchJob {

  private val dim = brandDim.select("p_partkey", "p_brand")

  private[graft] val pairs = DeltaStore.additive(spark, statePath,
    "pairs", Seq("x", "y"), Seq("n_xy"), compactEvery)
  private[graft] val brands = DeltaStore.additive(spark, statePath,
    "brands", Seq("brand"), Seq("n_brand"), compactEvery)
  private[graft] val totals = DeltaStore.additive(spark, statePath,
    "totals", Seq("k"), Seq("n_orders"), compactEvery)

  /** One micro-batch of lineitem rows (l_orderkey, l_partkey) —
    * complete orders only (see class contract). */
  def processBatch(lineitems: DataFrame, batchId: Long): Unit = {
    val baskets = Analytics.brandBaskets(
      lineitems.select("l_orderkey", "l_partkey"), dim).localCheckpoint(true)
    pairs.append(Analytics.basketPairCounts(baskets), batchId)
    brands.append(Analytics.basketBrandCounts(baskets), batchId)
    totals.append(baskets.agg(count(lit(1)).as("n_orders"))
      .withColumn("k", lit("all")), batchId)
  }

  /** The maintained rules — the batch entry's own projection over the
    * folded counts. Empty before the first commit. */
  def readRules(): DataFrame = (pairs.state(), brands.state(), totals.state()) match {
    case (Some(p), Some(b), Some(t)) =>
      Analytics.assocRulesFace(p, b, t.select("n_orders"))
    case _ =>
      import spark.implicits._
      Seq.empty[(String, String, Long, Double, Double, Double)]
        .toDF("antecedent", "consequent", "n_xy", "support", "confidence", "lift")
  }
}
