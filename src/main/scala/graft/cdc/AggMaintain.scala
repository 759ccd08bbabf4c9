package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance over a CDC changelog: keep a
  * grouped aggregate current by applying per-epoch DELTAS — +after per
  * insert, −before +after per update, −before per delete — instead of
  * re-aggregating the base state every time.
  *
  * This completes the reference's "CDC → queryable table" story
  * (/root/reference/src/main/scala/com/sg/job/streaming/
  * StreamingJobExecutor.scala:49-65 merges each batch into Delta and
  * downstream queries then RE-SCAN the merged table): at 100 TB of
  * state the rescan is the cost, while each batch's delta is
  * batch-sized. The maintained aggregate and the recomputed one are
  * provably equal (the driver oracle and AggMaintainSpec hold them
  * equal at every epoch, including delete → re-insert cycles).
  *
  * Maintained aggregates must be SELF-MAINTAINABLE under insert and
  * delete: count and sum are (they form an abelian group — apply the
  * inverse to retract), so count / sum / avg(=sum/count) ship here.
  * min/max are NOT (retracting the current max needs a rescan of the
  * group — the classic materialized-view maintenance limit) — but the
  * support-count relation of [[distinctMaintain]] restores them:
  * maintain n_rows per (group, value) — abelian, so the same delta
  * machinery applies — and read min / max / any exact quantile as
  * ordered-statistic projections over the support table
  * ([[minmaxMaintain]]). The rescan never happens because the support
  * table IS the per-group value multiset, kept current by ±deltas.
  *
  * Numeric discipline: values are canonicalized to exact integer cents
  * (`floor(v·100 + 0.5)` on the raw double — exact IEEE-754 ops, the
  * same canonicalization stateChecksum uses) BEFORE any accumulation,
  * so the maintained sum is INTEGER arithmetic: associative and
  * commutative, immune to the FP cancellation a ±delta stream of
  * doubles would accumulate, and bit-equal to a from-scratch
  * recompute in any epoch order. The public face divides back to
  * currency only at presentation.
  *
  * Scale shape: the delta for an epoch needs the BEFORE image only for
  * the keys the batch touches — a keyed join of the batch against the
  * state's dirty buckets (exactly what [[ParquetUpsertSink.merge]]
  * already reads), never a scan of the clean ones. The delta then
  * aggregates to one row per touched GROUP (map-side partial first),
  * and the apply is a full-outer join of two group-cardinality frames —
  * both tiny relative to the base. Nothing in the maintenance path
  * scans untouched state.
  */
object AggMaintain {

  /** Exact integer-cents canonicalization (see scaladoc). */
  private def cents(v: Column): Column =
    floor(v * lit(100d) + lit(0.5d)).cast("long")

  /** From-scratch grouped aggregate of a keyed state frame:
    * (group, n_rows, sum_cents). The recompute face the maintained one
    * must always equal.
    */
  def groupAgg(state: DataFrame, groupCol: String, valueCol: String): DataFrame =
    state.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col(valueCol))).as("sum_cents"))

  /** Signed ±image rows of one changelog epoch against the pre-epoch
    * state — the primitive every view-maintenance consumer shares
    * (grouped aggregates here, the two-sided join view in
    * [[JoinMaintain]]):
    *
    *  1. collapse the epoch to its latest image per key (same partial
    *     agg as the merge path);
    *  2. left-join those keys against the state (at scale: the dirty
    *     buckets the merge reads anyway) for before-images;
    *  3. emit sign=−1 with the BEFORE attributes for every key that had
    *     a state row, and sign=+1 with the AFTER attributes for every
    *     key whose final op isn't a delete.
    *
    * A key updated into a different attribute value retracts the old
    * image and adds the new one; a delete retracts only; a delete
    * followed by re-insert within one epoch nets to its final image
    * (the collapse in step 1 makes the intra-epoch history irrelevant,
    * which is exactly the merge's semantics).
    *
    * Output: keyCols ++ attrCols ++ (sign: long), ≤2 rows per touched
    * key — batch-sized, never state-sized.
    */
  def signedImages(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
                   attrCols: Seq[String]): DataFrame = {
    val latest = batch
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct((col("op") +: attrCols.map(col)): _*),
        struct(col("ts_ms"), col("seq"))).as("s"))
      .select(keyCols.map(col) ++ (col("s.op").as("__op") +:
        attrCols.map(f => col(s"s.$f").as(s"__a_$f"))): _*)
    val before = state.select(keyCols.map(col) ++
      attrCols.map(f => col(f).as(s"__b_$f")) :+ lit(true).as("__b_present"): _*)
    // null-safe key match, as mergeChangeSet's per-key fold groups a
    // null key: latestState groups null keys into a real state row, so
    // a plain equi-join would miss its before-image and never retract it
    val l = latest.alias("l")
    val b = before.alias("b")
    val joined = l.join(b,
      keyCols.map(k => col(s"l.$k") <=> col(s"b.$k")).reduce(_ && _), "left")
    // two signed rows per touched key (retract, add), each guarded by
    // presence; union keeps it one pass over the joined frame
    val retract = joined.filter(col("__b_present").isNotNull)
      .select(keyCols.map(k => col(s"l.$k").as(k)) ++
        attrCols.map(f => col(s"__b_$f").as(f)) :+ lit(-1L).as("sign"): _*)
    val add = joined.filter(col("__op") =!= "d")
      .select(keyCols.map(k => col(s"l.$k").as(k)) ++
        attrCols.map(f => col(s"__a_$f").as(f)) :+ lit(1L).as("sign"): _*)
    retract.unionByName(add)
  }

  /** Per-group delta of one changelog epoch against the pre-epoch
    * state: the signed image rows of [[signedImages]] aggregated per
    * group — sign carries the retraction, `sign·cents(value)` the sum
    * delta.
    *
    * Output: (grp, d_n, d_cents), one row per touched group.
    */
  def epochDelta(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
                 groupCol: String, valueCol: String): DataFrame =
    signedImages(state, batch, keyCols, Seq(groupCol, valueCol))
      .groupBy(col(groupCol).as("grp"))
      .agg(sum(col("sign")).as("d_n"),
        sum(col("sign") * cents(col(valueCol))).as("d_cents"))

  /** Apply a per-group delta to the maintained aggregate: full-outer
    * join on the group, add counts and cents, drop groups whose count
    * reaches zero (their sum is exactly zero too — integer arithmetic —
    * so an emptied group vanishes rather than lingering as a 0/0 row).
    */
  def applyDelta(agg: DataFrame, delta: DataFrame): DataFrame = {
    val a = agg.alias("a")
    val d = delta.alias("d")
    a.join(d, col("a.grp") <=> col("d.grp"), "full_outer")
      .select(
        coalesce(col("a.grp"), col("d.grp")).as("grp"),
        (coalesce(col("a.n_rows"), lit(0L)) + coalesce(col("d.d_n"), lit(0L))).as("n_rows"),
        (coalesce(col("a.sum_cents"), lit(0L)) + coalesce(col("d.d_cents"), lit(0L))).as("sum_cents"))
      .filter(col("n_rows") > 0)
  }

  /** Canonical weekly epoch bounds shared by the maintenance driver
    * faces (aggregate, distinct, join view). */
  private[cdc] val userEpochBounds = Seq("2024-01-08", "2024-01-16", "2024-01-24")

  /** Cut a changelog into delivery tranches at the given date bounds
    * (ts partitions monotonically, so per-key change order across
    * tranches matches recency order). */
  private[cdc] def tranches(ch: DataFrame, bounds: Seq[String]): Seq[DataFrame] = {
    val ms = bounds.map(d => unix_millis(lit(s"$d 00:00:00").cast("timestamp")))
    val lows = lit(Long.MinValue) +: ms
    val highs = ms :+ lit(Long.MaxValue)
    lows.zip(highs).map { case (lo, hi) =>
      ch.filter(col("ts_ms") >= lo && col("ts_ms") < hi)
    }
  }

  /** The per-epoch batches and CUMULATIVE committed states of the user
    * changelog over the canonical bounds — the shared substrate of the
    * three maintenance faces (this is exactly the sequence of states a
    * real sink would have committed, which all of them read). States
    * are checkpointed ONCE per session; every face's deltas then hang
    * off the same materialized leaves instead of re-merging the state
    * chain privately. Attributed as the `cdc_user_epochs` bench
    * artifact.
    */
  def cachedUserEpochs(spark: SparkSession, dir: String): (Seq[DataFrame], Seq[DataFrame]) =
    graft.SessionCache.getOrElseUpdate(spark, ("cdcUserEpochs", dir)) {
      val batches = tranches(CdcOps.cachedChangelog(spark, dir), userEpochBounds)
      val s0 = CdcOps.latestState(batches.head, Seq("user_id"), CdcOps.userDataCols)
        .drop("n_changes").localCheckpoint(true)
      val states = batches.tail.scanLeft(s0)((st, b) =>
        CdcOps.mergeChangeSet(st, b, Seq("user_id"), CdcOps.userDataCols)
          .localCheckpoint(true))
      (batches, states)
    }

  /** Driver face: maintain a per-event-type (n_users, total_value)
    * aggregate of the user CDC state across four weekly epochs of the
    * changelog — epoch 0 seeds state and aggregate, each later epoch
    * applies its delta to the aggregate (the state chain itself is the
    * shared [[cachedUserEpochs]] substrate — the cost a real sink
    * already pays; the aggregate never rescans it). The oracle
    * recomputes the same aggregate from the full-range latest state, so
    * any drift between maintained and recomputed — a missed retraction,
    * a double-applied replay, a group left at zero — hash-mismatches.
    */
  def aggMaintain(spark: SparkSession, dir: String): DataFrame = {
    val keyCols = Seq("user_id")
    val (grpCol, valCol) = ("last_event_type", "last_value")
    val (batches, states) = cachedUserEpochs(spark, dir)
    var agg = groupAgg(states.head, grpCol, valCol)
    batches.tail.zipWithIndex.foreach { case (batch, i) =>
      agg = applyDelta(agg, epochDelta(states(i), batch, keyCols, grpCol, valCol))
    }
    agg.select(col("grp").as("last_event_type"), col("n_rows").as("n_users"),
        (col("sum_cents").cast("double") / 100d).as("total_value"))
      .orderBy("last_event_type")
  }

  /** COUNT(DISTINCT) is not an abelian-group aggregate — a retraction
    * can't tell whether the retracted value was the group's last
    * occurrence — so it cannot ride [[epochDelta]] directly. The
    * standard fix is the SUPPORT-COUNT construction: maintain
    * n_rows per (group, value) — which IS abelian, so the existing
    * delta machinery applies verbatim with the composite struct as the
    * group — and read the distinct count as the number of surviving
    * support rows per group ([[applyDelta]] already drops rows whose
    * support reaches zero). The maintained support table is
    * |distinct (g,v)|-sized, not state-sized, and the read-side
    * projection scans only it.
    */
  private def withBucket(df: DataFrame, grpCol: String, valueCol: String): DataFrame =
    df.withColumn("gv", struct(col(grpCol).as("g"),
      floor(col(valueCol)).cast("long").as("v")))

  /** Driver face: maintain count(DISTINCT floor(value)) per event type
    * — "how many distinct whole-currency spend levels are live per
    * type" — across the same four weekly epochs as [[aggMaintain]].
    * The oracle recomputes COUNT(DISTINCT) from the full-range latest
    * state, so a support count that fails to hit zero (phantom bucket)
    * or hits it early (lost bucket) changes the result and
    * hash-mismatches.
    */
  def distinctMaintain(spark: SparkSession, dir: String): DataFrame = {
    val keyCols = Seq("user_id")
    val (batches, states) = cachedUserEpochs(spark, dir)
    var support = groupAgg(withBucket(states.head, "last_event_type", "last_value"),
      "gv", "last_value")
    batches.tail.zipWithIndex.foreach { case (batch, i) =>
      support = applyDelta(support, epochDelta(
        withBucket(states(i), "last_event_type", "last_value"),
        withBucket(batch, "last_event_type", "last_value"),
        keyCols, "gv", "last_value"))
    }
    support
      .filter(col("grp.v").isNotNull) // COUNT(DISTINCT) ignores NULLs
      .groupBy(col("grp.g").as("last_event_type"))
      .agg(count(lit(1)).as("n_value_levels"))
      .orderBy("last_event_type")
  }

  /** The recompute the maintained distinct count must equal. */
  val distinctMaintainSql: String =
    """WITH ch AS (SELECT user_id,
      |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id AS seq,
      |  event_type AS last_event_type, value AS last_value
      |FROM events),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, seq DESC) AS rn
      |  FROM ch),
      |state AS (
      |  SELECT user_id, last_event_type, last_value
      |  FROM r WHERE rn = 1 AND op <> 'd')
      |SELECT last_event_type,
      |  count(DISTINCT CAST(floor(last_value) AS BIGINT)) AS n_value_levels
      |FROM state GROUP BY last_event_type ORDER BY last_event_type""".stripMargin

  /** Cents-granular support bucket: [[distinctMaintain]]'s support
    * construction at the exact integer-cents granularity the sum path
    * uses, so ordered statistics read off it EXACTLY (no whole-unit
    * rounding between maintained and recomputed).
    */
  private def withCentsBucket(df: DataFrame, grpCol: String, valueCol: String): DataFrame =
    df.withColumn("gv", struct(col(grpCol).as("g"), cents(col(valueCol)).as("v")))

  /** From-scratch cents-granular support relation of a keyed state
    * frame — the recompute face the maintained support must equal, and
    * the seed of [[cachedCentsSupport]]. Shape: (grp: struct(g, v),
    * n_rows, sum_cents), as [[readExtrema]] / [[readTopK]] consume.
    */
  def centsSupport(state: DataFrame, grpCol: String, valueCol: String): DataFrame =
    groupAgg(withCentsBucket(state, grpCol, valueCol), "gv", valueCol)

  /** Per-(group, value-level) support delta of one changelog epoch
    * against the pre-epoch state, flattened for a keyed delta store:
    * (g, v, d_n), one row per touched value level. The streaming face
    * ([[graft.streaming.StreamingTopKMaintainJob]]) folds these;
    * the batch face applies them via [[applyDelta]] on the struct key.
    */
  def centsSupportDelta(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
                        grpCol: String, valueCol: String): DataFrame =
    epochDelta(withCentsBucket(state, grpCol, valueCol),
      withCentsBucket(batch, grpCol, valueCol), keyCols, "gv", valueCol)
      .select(col("grp.g").as("g"), col("grp.v").as("v"), col("d_n"))

  /** Ordered-statistic read over a maintained (group, value) support
    * relation: per-group MIN, MAX, and the exact discrete median (the
    * smallest value whose cumulative support reaches ⌈N/2⌉). Scans
    * ONLY the ¦distinct (g,v)¦-sized support table — never the state —
    * and the window partitions by group, so each group's ordered pass
    * is local to its partition.
    */
  def readExtrema(support: DataFrame): DataFrame = {
    val s = support.filter(col("grp.v").isNotNull)
      .select(col("grp.g").as("g"), col("grp.v").as("v"), col("n_rows").as("n"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(Window.partitionBy("g")))
      .groupBy(col("g").as("last_event_type"))
      .agg(
        (min("v").cast("double") / 100d).as("min_value"),
        (max("v").cast("double") / 100d).as("max_value"),
        (min(when(col("cum") >= ceil(col("total") * lit(0.5)).cast("long"), col("v")))
          .cast("double") / 100d).as("median_value"))
      .orderBy("last_event_type")
  }

  /** The maintained cents-granular (group, value) support relation
    * after all four epochs — the shared substrate of every
    * ordered-statistic read face ([[minmaxMaintain]],
    * [[topkMaintain]]): one maintained relation, many projections, the
    * way a production IVM deployment amortizes its support tables.
    * Built once per session (attributed as the `cdc_cents_support`
    * bench artifact); each read face then costs only its own
    * group-partitioned window over the ¦distinct (g,v)¦-sized table.
    */
  def cachedCentsSupport(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("cdcCentsSupport", dir)) {
      val keyCols = Seq("user_id")
      val (batches, states) = cachedUserEpochs(spark, dir)
      var support = centsSupport(states.head, "last_event_type", "last_value")
      batches.tail.zipWithIndex.foreach { case (batch, i) =>
        support = applyDelta(support, epochDelta(
          withCentsBucket(states(i), "last_event_type", "last_value"),
          withCentsBucket(batch, "last_event_type", "last_value"),
          keyCols, "gv", "last_value"))
      }
      support.localCheckpoint(true)
    }

  /** Driver face: maintain per-event-type MIN / MAX / exact discrete
    * MEDIAN of the user CDC state across the same four weekly epochs —
    * the aggregates the object scaladoc calls non-self-maintainable,
    * made maintainable by keeping the cents-granular support relation
    * current ([[withCentsBucket]] + the unchanged delta machinery) and
    * reading extrema as projections over it ([[readExtrema]]). The
    * oracle recomputes all three from the full-range latest state, so
    * a support count that strands a retracted extremum (max stuck
    * high), loses a revived one, or shifts the cumulative median rank
    * hash-mismatches.
    */
  def minmaxMaintain(spark: SparkSession, dir: String): DataFrame =
    readExtrema(cachedCentsSupport(spark, dir))

  /** Top-k read over the maintained support relation: the k highest
    * live value levels per group, each with its holder count — the
    * maintained leaderboard. Classic IVM treats top-k like min/max
    * (non-self-maintainable: deleting a leader forces a group rescan
    * to find the successor); over the support relation the successor
    * is just the next surviving row in value order, so the read is one
    * group-partitioned window over the ¦distinct (g,v)¦-sized table —
    * never the state. Ranks are dense in DISTINCT value levels (ties
    * in value are one level with n_holders > 1), which keeps the
    * output deterministic under the hash-ordered driver compare.
    */
  def readTopK(support: DataFrame, k: Int): DataFrame = {
    val s = support.filter(col("grp.v").isNotNull)
      .select(col("grp.g").as("g"), col("grp.v").as("v"), col("n_rows").as("n"))
    val w = Window.partitionBy("g").orderBy(col("v").desc)
    s.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("g").as("last_event_type"), col("rk"),
        (col("v").cast("double") / 100d).as("value"), col("n").as("n_holders"))
      .orderBy("last_event_type", "rk")
  }

  /** Driver face: maintained per-event-type top-3 spend levels (value,
    * holder count) across the same four weekly epochs. The oracle
    * recomputes the leaderboard from the full-range latest state, so a
    * support row that strands a retracted leader (stuck entry), drops
    * a revived one, or miscounts holders at a level hash-mismatches.
    * Deleting the sole holder of the current #1 must promote the
    * runner-up — the retraction rescan classic top-k maintenance
    * needs, answered here by the support relation itself
    * (AggMaintainSpec pins that case explicitly).
    */
  def topkMaintain(spark: SparkSession, dir: String): DataFrame =
    readTopK(cachedCentsSupport(spark, dir), 3)

  /** The recompute the maintained top-k must equal — same cents
    * canonicalization, distinct value levels ranked descending.
    */
  val topkMaintainSql: String =
    """WITH ch AS (SELECT user_id,
      |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id AS seq,
      |  event_type AS last_event_type, value AS last_value
      |FROM events),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, seq DESC) AS rn
      |  FROM ch),
      |state AS (
      |  SELECT user_id, last_event_type, last_value
      |  FROM r WHERE rn = 1 AND op <> 'd'),
      |sup AS (SELECT last_event_type AS g,
      |  CAST(floor(last_value * 100 + 0.5) AS BIGINT) AS v, count(*) AS n
      |  FROM state WHERE last_value IS NOT NULL GROUP BY 1, 2),
      |rk AS (SELECT g, v, n,
      |  row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rk FROM sup)
      |SELECT g AS last_event_type, rk, CAST(v AS DOUBLE) / 100 AS value,
      |  n AS n_holders
      |FROM rk WHERE rk <= 3 ORDER BY g, rk""".stripMargin

  /** The recompute the maintained extrema must equal — same cents
    * canonicalization, same discrete-median rank rule (smallest value
    * with cumulative count ≥ ⌈N/2⌉).
    */
  val minmaxMaintainSql: String =
    """WITH ch AS (SELECT user_id,
      |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id AS seq,
      |  event_type AS last_event_type, value AS last_value
      |FROM events),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, seq DESC) AS rn
      |  FROM ch),
      |state AS (
      |  SELECT user_id, last_event_type, last_value
      |  FROM r WHERE rn = 1 AND op <> 'd'),
      |vals AS (SELECT last_event_type AS g,
      |  CAST(floor(last_value * 100 + 0.5) AS BIGINT) AS v
      |  FROM state WHERE last_value IS NOT NULL),
      |sup AS (SELECT g, v, count(*) AS n FROM vals GROUP BY g, v),
      |c AS (SELECT g, v, n,
      |  sum(n) OVER (PARTITION BY g ORDER BY v) AS cum,
      |  sum(n) OVER (PARTITION BY g) AS total FROM sup)
      |SELECT g AS last_event_type,
      |  CAST(min(v) AS DOUBLE) / 100 AS min_value,
      |  CAST(max(v) AS DOUBLE) / 100 AS max_value,
      |  CAST(min(CASE WHEN cum >= CAST(ceil(total * 0.5) AS BIGINT) THEN v END) AS DOUBLE) / 100
      |    AS median_value
      |FROM c GROUP BY g ORDER BY g""".stripMargin

  /** The recompute the maintained aggregate must equal: group the
    * full-range latest state, with the identical cents canonicalization.
    */
  val aggMaintainSql: String =
    """WITH ch AS (SELECT user_id,
      |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
      |  event_id AS seq,
      |  event_type AS last_event_type, value AS last_value
      |FROM events),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, seq DESC) AS rn
      |  FROM ch),
      |state AS (
      |  SELECT user_id, last_event_type, last_value
      |  FROM r WHERE rn = 1 AND op <> 'd')
      |SELECT last_event_type, count(*) AS n_users,
      |  CAST(CAST(sum(CAST(floor(last_value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100 AS total_value
      |FROM state GROUP BY last_event_type ORDER BY last_event_type""".stripMargin
}
