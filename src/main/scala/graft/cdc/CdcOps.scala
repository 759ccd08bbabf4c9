package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Batch CDC semantics: snapshot reconstruction, initial load, merge.
  *
  * These are the set-oriented equivalents of the reference's Delta
  * `merge` upsert (/root/reference/src/main/scala/com/sg/job/streaming/
  * StreamingJobExecutor.scala:49-65: whenMatched(op='d')→delete,
  * whenMatched→update, whenNotMatched→insert, keyed on id).
  *
  * A changelog DataFrame here is: keyCols ++ dataCols ++ (op, ts_ms, seq)
  * where (ts_ms, seq) totally orders changes within a key.
  *
  * Scale design: `latestState` uses `max_by(struct(...), struct(ts, seq))`
  * — an aggregation with map-side partial reduction (SortAggregate,
  * because struct-typed agg buffers are not hash-aggregable) — instead
  * of a `row_number` window. On 100 TB of changes, the partial agg
  * collapses each partition's updates for a key locally before the
  * single shuffle on the key; a window would shuffle and sort the full
  * changelog. Asserted in PlanSpec.
  */
object CdcOps {

  /** Deterministic CDC changelog derived from the `events` table: each
    * event is a change to a per-user state record.
    *   signup → 'c' (insert), error → 'd' (delete), others → 'u'.
    * Ordered per key by (ts_ms, seq).
    */
  def userChangelog(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).select(
      col("user_id"),
      when(col("event_type") === "signup", "c")
        .when(col("event_type") === "error", "d")
        .otherwise("u").as("op"),
      unix_millis(col("ts")).as("ts_ms"),
      col("event_id").as("seq"),
      col("event_type").as("last_event_type"),
      col("value").as("last_value"))
  }

  val userDataCols: Seq[String] = Seq("last_event_type", "last_value")

  /** Memoized changelog for the DRIVER faces: nine CDC entries parse
    * the same events table — without sharing, each re-pays the scan +
    * projection. Same shared-artifact discipline as the dedup pair
    * table / ANN tiers / BPE training ([[graft.SessionCache]] holds the
    * scoping and staleness contract); the checkpoint materializes the
    * six changelog columns once, so every consumer reads checkpoint
    * blocks, not the parquet scan.
    */
  def cachedChangelog(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("cdcChangelog", dir))(
      userChangelog(spark, dir).localCheckpoint(true))

  /** Memoized latest-state (raw, un-rounded) per (session, dir): five
    * driver entries (latest_state, state_checksum, dim_enrichment,
    * merge_batch's oracle twin, gap audit consumers) otherwise each
    * re-run the same key aggregation behind their own face. One key
    * shuffle, materialized once per pass.
    */
  def cachedLatestState(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("cdcLatestState", dir))(
      latestState(cachedChangelog(spark, dir), Seq("user_id"), userDataCols)
        .localCheckpoint(true))

  private def imageStruct(dataCols: Seq[String]): Column =
    struct((col("op") +: dataCols.map(col)): _*)

  /** Latest surviving row per key: the batch meaning of continuous CDC
    * upsert. Deletes participate in recency, then drop out.
    * Output: keyCols ++ dataCols ++ (last_ts_ms, n_changes).
    */
  def latestState(changelog: DataFrame, keyCols: Seq[String], dataCols: Seq[String]): DataFrame = {
    changelog
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(imageStruct(dataCols), struct(col("ts_ms"), col("seq"))).as("s"),
        max(col("ts_ms")).as("last_ts_ms"),
        count(lit(1)).as("n_changes"))
      .filter(col("s.op") =!= "d")
      .select(keyCols.map(col) ++ dataCols.map(f => col(s"s.$f").as(f)) ++
        Seq(col("last_ts_ms"), col("n_changes")): _*)
  }

  /** Initial snapshot (the reference's StreamingJobInitialExecutor path):
    * the first image per key, stamped op='r' as Debezium does for
    * snapshot reads.
    */
  def initialSnapshot(changelog: DataFrame, keyCols: Seq[String], dataCols: Seq[String]): DataFrame = {
    changelog
      .groupBy(keyCols.map(col): _*)
      .agg(min_by(imageStruct(dataCols), struct(col("ts_ms"), col("seq"))).as("s"),
           min(col("ts_ms")).as("first_ts_ms"))
      .select(keyCols.map(col) ++ Seq(lit("r").as("op")) ++
        dataCols.map(f => col(s"s.$f").as(f)) ++ Seq(col("first_ts_ms")): _*)
  }

  /** Per-op change accounting (audit stream). */
  def changeCounts(changelog: DataFrame, keyCol: String): DataFrame =
    changelog.groupBy("op")
      .agg(count(lit(1)).as("n"), countDistinct(col(keyCol)).as("n_keys"))
      .orderBy("op")

  /** SCD Type-2 dimension history from a changelog: every non-delete
    * change opens a version row; a version closes when the NEXT change
    * of the same key arrives (a delete closes the last open version
    * without opening a new one). `valid_to` is NULL on the open
    * version, so `WHERE valid_to IS NULL` is exactly `latestState` and
    * `WHERE valid_from <= t AND (valid_to IS NULL OR t < valid_to)`
    * is the as-of-`t` snapshot.
    *
    * Scale: both windows (lead + version numbering) share one
    * partitioning and ordering, so the changelog shuffles and sorts
    * ONCE on the key — the same single key-shuffle latestState pays.
    * No self-join against "next change"; the window frame carries it.
    *
    * Output: keyCols ++ dataCols ++ (valid_from, valid_to, is_current,
    * version_no).
    */
  def scd2History(changelog: DataFrame, keyCols: Seq[String], dataCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts_ms"), col("seq"))
    changelog
      .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
      .filter(col("op") =!= "d")
      .withColumn("version_no", row_number().over(w))
      .select(keyCols.map(col) ++ dataCols.map(col) ++ Seq(
        col("ts_ms").as("valid_from"),
        col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"),
        col("version_no")): _*)
  }

  /** Merge a change-set into a base state — exactly the reference's
    * Delta merge, as a pure DataFrame transform:
    *   matched ∧ latest-op='d'  → delete
    *   matched                  → update to latest after-image
    *   not matched ∧ op≠'d'     → insert
    *
    * Implementation: a union-fold, not a join. Base rows are tagged rank
    * 0 and change rows rank 1, the two are unioned, and the union is
    * grouped by key with `max_by(image, struct(rank, ts_ms, seq))`: the
    * batch's latest image beats the base whatever `last_ts_ms` says, and
    * a key the batch does not touch keeps its base row. That is one
    * shuffle on the key, with the map-side partial aggregate collapsing
    * both sides before it. The grouping is null-safe: a null key is one
    * group, matched like any other key. [[ParquetUpsertSink]] runs the
    * same fold repartitioned by bucket, so its write needs no second
    * shuffle.
    *
    * base schema: keyCols ++ dataCols ++ last_ts_ms; output: the same
    * columns (other base columns are dropped).
    */
  def mergeChangeSet(base: DataFrame, changelog: DataFrame,
                     keyCols: Seq[String], dataCols: Seq[String]): DataFrame =
    foldChangeSet(base, changelog, keyCols, dataCols, None)

  private val Rank = "__rank"
  private val Winner = "__w"

  /** [[mergeChangeSet]]'s fold. With `bucket = Some((b, n))` the union
    * is repartitioned into `n` partitions by the bucket id `b`, grouped
    * by (bucket, key), and the output leads with a `bucket` column, so a
    * `partitionBy("bucket")` write of it plans no further exchange.
    */
  private[cdc] def foldChangeSet(base: DataFrame, changelog: DataFrame,
                                 keyCols: Seq[String], dataCols: Seq[String],
                                 bucket: Option[(Column, Int)]): DataFrame = {
    // schema evolution: dataCols is the UNION of base and batch data
    // columns. A column the batch doesn't carry (dropped from the feed,
    // or a clean-epoch column the batch predates) is CARRIED from base —
    // absence from the feed must not wipe values, unlike an in-image
    // NULL, which legitimately wins. A column base doesn't have yet
    // (just appeared in the feed) backfills NULL for untouched rows.
    val batchCols = changelog.columns.toSet
    val baseCols = base.columns.toSet
    val imgCols = dataCols.filter(batchCols.contains)
    // carried columns (and the base's last_ts_ms, for a batch image
    // without a ts_ms) hold a value on the base row only: `first`
    // ignoring nulls picks it, for any column type
    val carried = dataCols.filterNot(batchCols.contains) :+ "last_ts_ms"
    def nullOf(df: DataFrame, c: String) = lit(null).cast(df.schema(c).dataType).as(c)
    val baseRows = base.select(keyCols.map(col) ++
      Seq(lit(0).as(Rank), lit(null).cast("string").as("op"), nullOf(changelog, "ts_ms"),
        nullOf(changelog, "seq")) ++
      imgCols.map(f => if (baseCols.contains(f)) col(f) else nullOf(changelog, f)) ++
      carried.map(col): _*)
    val changeRows = changelog.select(keyCols.map(col) ++
      Seq(lit(1).as(Rank), col("op"), col("ts_ms"), col("seq")) ++
      imgCols.map(col) ++ carried.map(nullOf(base, _)): _*)
    val tagged = baseRows.union(changeRows)
    val (input, groupCols) = bucket match {
      case Some((b, n)) =>
        (tagged.withColumn("bucket", b).repartition(n, col("bucket")), "bucket" +: keyCols)
      case None => (tagged, keyCols)
    }
    input.groupBy(groupCols.map(col): _*)
      .agg(
        max_by(struct((Seq(Rank, "op", "ts_ms") ++ imgCols).map(col): _*),
          struct(col(Rank), col("ts_ms"), col("seq"))).as(Winner),
        carried.map(f => first(col(f), ignoreNulls = true).as(f)): _*)
      // a base row survives; a batch image survives unless its op is
      // 'd' (or null: an envelope that did not parse)
      .filter(col(s"$Winner.$Rank") === 0 || col(s"$Winner.op") =!= "d")
      .select(groupCols.map(col) ++
        // gate on which row WON, not on field nullness: an update that
        // legitimately sets a column to NULL must win — a per-field
        // coalesce would silently resurrect the base's stale value
        dataCols.map(f => (if (imgCols.contains(f)) col(s"$Winner.$f") else col(f)).as(f)) :+
        coalesce(col(s"$Winner.ts_ms"), col("last_ts_ms")).as("last_ts_ms"): _*)
  }
}
