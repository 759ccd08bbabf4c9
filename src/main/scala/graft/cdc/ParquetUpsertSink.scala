package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sources.{LocalFs, ManifestLog}

/** Keyed upsert sink over bucket-partitioned parquet — the engine's
  * stand-in for the reference's Delta table
  * (/root/reference/src/main/scala/com/sg/job/streaming/StreamingJobExecutor.scala:20,
  * `DeltaTable.forPath(... "/mnt/delta/events")`).
  *
  * State layout and commit protocol: `statePath` is a
  * [[graft.sources.ManifestLog]], the poor-man's transaction log that
  * stands for the property Delta gives the reference. Each merge
  * commits one epoch: it writes the buckets it rewrites into that
  * epoch's fresh `v<e>-<attempt>/bucket=<b>` dirs and publishes the
  * epoch's manifest by one rename. The manifest has one
  * "bucket<TAB>v<e>-<attempt>/bucket=<b>" entry per live bucket and
  * three metadata lines: "#schema<TAB>json", "#layout<TAB>n<TAB>b:bytes,..."
  * (bucket count and each bucket's data bytes) and, for a stream
  * writer, "#txn<TAB>queryId<TAB>batchId". A crash at any point before
  * the rename leaves the previous epoch the state, so readers (and the
  * checkpoint replay) still see the last committed state. This replaces
  * the r1 in-place dynamic-partition overwrite, where a crash mid-write
  * left buckets half-rewritten and replay merged into corrupt state.
  *
  * Deletes that empty a bucket commit correctly too: the new manifest
  * simply omits the bucket, so its old directory stops being visible —
  * no "resurrection" of deleted rows from a directory that an
  * overwrite-based scheme would have skipped rewriting.
  *
  * Layout: a committed state is split into `n` hash buckets, one data
  * file each, keyed by `b = pmod(hash(key), n)`. The state decides `n`:
  * each commit picks the power of two, at most `numBuckets`, whose
  * buckets hold about `spark.sql.files.openCostInBytes` (Spark's own
  * figure for what opening a file costs, 4 MB by default) and records
  * `n` and every bucket's data bytes in a `#layout` manifest line. A
  * commit whose recorded buckets hold more than twice the open cost on
  * average (with room to grow), or at most a quarter of it (with room
  * to shrink), or whose bucket count exceeds `numBuckets`, RE-LAYS the
  * state out: it rewrites every bucket under the fitted `n`, as one
  * ordinary epoch. That 2× band around the target of a half to one
  * open cost a bucket means a state that sits near a boundary is not
  * rewritten whole on every commit, and a growing state re-lays out at
  * most once per doubling. Epoch 0 is laid out in `numBuckets`, so a
  * large initial load writes in parallel; a manifest without a
  * `#layout` line (written before it existed) counts as `numBuckets`
  * buckets, sized by listing its dirs once. A 20k-row state of about
  * 0.66 MB is one bucket.
  *
  * Write cost: a micro-batch touches only the buckets its keys hash
  * into, and the merge reads and REWRITES each of those buckets whole.
  * The rewrite follows the number of dirty buckets, not the batch
  * size: at one bucket every commit rewrites the whole state (20k rows
  * for a 10-key batch, in one task), and with 64 buckets over the same
  * keys a 10-key batch would rewrite about 2.9k rows in 9.5 files,
  * while a 100-key batch already dirties about 45 of them. Each dirty
  * bucket is also one file written — a parquet file, its `.crc` and
  * its bucket dir — paid per dirty bucket whatever its row count: about
  * 5 ms a file through [[graft.sources.LocalFs]] (4 vCPUs), about 30 ms
  * through Hadoop's stock local file system without `libhadoop`, which
  * forks three `chmod` processes per file. Sizing buckets at the open
  * cost keeps that fixed cost small against the bytes a bucket holds.
  *
  * Merge shape: a commit is at most three Spark jobs — the dirty-bucket
  * collect (a per-partition distinct, no exchange; skipped at one
  * bucket, where every key is in bucket 0, and on a re-layout, where
  * every bucket is dirty) and the write's two stages. The base rows of
  * the dirty buckets and the batch's change rows are unioned and
  * repartitioned ONCE, by bucket, into `min(dirty buckets,
  * defaultParallelism)` partitions, then folded per (bucket, key)
  * ([[CdcOps.mergeChangeSet]]'s union-fold). That fold's sort also
  * orders the rows by bucket, so the `partitionBy("bucket")` write plans
  * no second exchange and no second sort, and several tasks write the
  * dirty buckets in parallel (an unsized repartition would be coalesced
  * by AQE into one writer task). PlanSpec pins the shape.
  *
  * Read path: the committed manifest is the only file index. Every read
  * (and the merge's base read) scans the bucket directories a manifest
  * references through [[graft.sources.ManifestLog.scan]], which lists
  * each directory once on the driver — no Spark listing job, however
  * many buckets the read spans. A read opens one file per bucket, so a state sized to
  * one bucket is one file; [[changesBetween]] opens only the dirs the
  * two epochs do not share.
  */
class ParquetUpsertSink(spark: SparkSession, statePath: String,
                        keyCols: Seq[String], numBuckets: Int = 64,
                        retainEpochs: Int = 2) {
  require(retainEpochs >= 2,
    "retainEpochs must keep at least the current and previous manifest " +
      "(in-flight readers planned against the previous epoch)")

  private def bucketCol(n: Int) = pmod(hash(keyCols.map(col): _*), lit(n)).as("bucket")

  private def root = new Path(statePath)
  private lazy val fs: FileSystem = LocalFs.fileSystem(root, spark.sparkContext.hadoopConfiguration)
  private lazy val log = new ManifestLog(fs, root, retainEpochs)

  /** Local property Structured Streaming sets on the thread that runs
    * `foreachBatch`: the query's id, stable across restarts from the
    * same checkpoint.
    */
  private val QueryIdKey = "sql.streaming.queryId"

  /** Newest committed manifest. */
  private def readManifest(): Option[StateManifest] = log.latest().map(StateManifest.of)

  /** The layout a manifest was committed in. One without a `#layout`
    * line was hashed into `numBuckets` buckets; its bytes are listed.
    */
  private def layoutOf(m: StateManifest): Layout = m.layout.getOrElse(
    Layout(numBuckets, m.buckets.map { case (b, d) => b -> log.bytes(d) }))

  /** The bucket count the next commit writes over `layout`. The fitted
    * count is the smallest power of two, at most `numBuckets`, whose
    * buckets hold no more than `spark.sql.files.openCostInBytes` each.
    * The current count stays until its buckets hold more than twice
    * that on average (and the fitted count is larger), or at most a
    * quarter of it (and the fitted count is smaller), or it exceeds
    * `numBuckets`. A re-layout to the fitted count brings the average
    * back to between a half and one open cost, unless one bucket or
    * `numBuckets` bounds it.
    */
  private def nextBuckets(layout: Layout): Int = {
    val perFile = math.max(1L, spark.sessionState.conf.filesOpenCostInBytes)
    val (n, bytes) = (layout.buckets, layout.bytes.values.sum)
    var fitted = 1
    while (fitted <= numBuckets / 2 && fitted * perFile < bytes) fitted *= 2
    val tooBig = fitted > n && bytes > 2L * n * perFile
    val tooSmall = fitted < n && 4L * bytes <= n * perFile
    if (n > numBuckets || tooBig || tooSmall) fitted else n
  }

  /** The manifest of a retained epoch; fails loudly for any other. */
  private def manifestAt(epoch: Long): StateManifest =
    log.versions().find(_._1 == epoch) match {
      case Some((e, p)) => StateManifest.of(log.read(e, p))
      case None =>
        throw new IllegalStateException(
          s"epoch $epoch is not retained at $statePath (retained: ${retainedEpochs().mkString(", ")})")
    }

  def stateExists: Boolean = log.versions().nonEmpty

  /** Read the committed state (data columns only; no bucket column). A
    * committed state with every key deleted reads as an EMPTY frame
    * with the recorded schema, not an error.
    */
  def readState(): DataFrame = {
    val m = readManifest().getOrElse(
      throw new IllegalStateException(s"no committed state at $statePath"))
    log.scan(spark, m.buckets.values.toSeq, m.schema)
  }

  /** Time travel: the state exactly as committed at `epoch`. Epochs stay
    * readable while their manifest is retained (`retainEpochs` newest —
    * immutable data dirs are only vacuumed once no retained manifest
    * references them, so a retained epoch's read NEVER races a commit).
    * Each applied batch commits exactly one epoch (a replayed stream
    * batch commits none, see [[merge]]), so for a stream that wrote the
    * state from its batch 0, epoch N is the state after batch N and
    * "the state before batch N was applied" is `readStateAt(N - 1)`.
    */
  def readStateAt(epoch: Long): DataFrame = {
    val m = manifestAt(epoch)
    log.scan(spark, m.buckets.values.toSeq, m.schema)
  }

  /** Retained epochs, ascending — each is valid for [[readStateAt]]. */
  def retainedEpochs(): Seq[Long] = log.versions().map(_._1)

  /** Change data feed between two retained epochs: the keyed diff of
    * the committed states — which keys were added, removed, or changed
    * by the batches in (fromEpoch, toEpoch]. This is the "what did the
    * stream do to my table" answer an incremental downstream consumer
    * needs without replaying the changelog itself.
    *
    * One co-partitioned full-outer join on the key; presence is decided
    * by MARKER columns, not data nullness, so a legitimately-NULL
    * attribute can't masquerade as an absent key. Both sides are read
    * with the `toEpoch` schema, so a column added in between null-fills
    * on the before side.
    *
    * Only the dirs the two manifests do not share are read: a key lives
    * in exactly one dir per epoch, and a shared dir holds the same rows
    * in both, so its keys are unchanged whatever the layout. Across a
    * re-layout no dir is shared and both states are read whole.
    * Output: keyCols ++ change ∈ {added, removed, changed} ++ the
    * after-image data columns (NULL for removed keys).
    */
  def changesBetween(fromEpoch: Long, toEpoch: Long): DataFrame = {
    require(fromEpoch < toEpoch, s"need fromEpoch < toEpoch, got $fromEpoch, $toEpoch")
    val (from, to) = (manifestAt(fromEpoch), manifestAt(toEpoch))
    val (fromDirs, toDirs) = (from.buckets.values.toSet, to.buckets.values.toSet)
    // a manifest without a schema takes it from a footer of any of its files
    val schema = to.schema.orElse(Some(log.scan(spark, toDirs.toSeq, None).schema))
    val after = log.scan(spark, (toDirs -- fromDirs).toSeq, schema)
    val dataCols = after.columns.filterNot(keyCols.contains).toSeq
    val b = log.scan(spark, (fromDirs -- toDirs).toSeq, Some(after.schema)).withColumn("__b", lit(true)).alias("b")
    val a = after.withColumn("__a", lit(true)).alias("a")
    val joinCond = keyCols.map(k => col(s"b.$k") <=> col(s"a.$k")).reduce(_ && _)
    // exact null-safe struct compare — a hash digest here could collide
    // and silently classify a real change as unchanged
    def img(side: String) = struct(dataCols.map(c => col(s"$side.$c")): _*)
    b.join(a, joinCond, "full_outer")
      .withColumn("change",
        when(col("b.__b").isNull, "added")
          .when(col("a.__a").isNull, "removed")
          .when(!(img("a") <=> img("b")), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(keyCols.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        Seq(col("change")) ++ dataCols.map(c => col(s"a.$c").as(c)): _*)
  }

  /** Materialize the committed state as a PLAIN parquet directory that
    * any engine — spark-shell, DuckDB, Trino, a BI tool — can read with
    * no knowledge of the manifest protocol. This restores the
    * reference's "the materialized table is directly queryable by
    * Dremio/Superset" property (its state is Delta; see the reference
    * README, "Setting-up Dremio") for graft's bespoke manifest-epoch
    * layout. Spark's job-commit protocol stages the write in
    * `_temporary` and drops a `_SUCCESS` marker only on completion, so
    * external readers should treat `_SUCCESS` as the completeness
    * signal; a crashed export never presents as a finished snapshot.
    */
  def exportSnapshot(path: String): Unit =
    readState().write.mode("overwrite").parquet(path)

  /** [[exportSnapshot]] in Delta's public table layout — parquet plus a
    * `_delta_log`, so external Delta/Trino readers consume the snapshot
    * directly (the reference publishes Delta; see [[DeltaExport]]).
    */
  def exportSnapshotDelta(path: String): Int =
    DeltaExport.write(readState(), path)

  /** Merge one changelog micro-batch (keyCols ++ dataCols ++ op, ts_ms,
    * seq) into the state, committing one new epoch.
    *
    * Exactly-once under at-least-once delivery: called from a streaming
    * `foreachBatch`, the merge records the stream's (queryId, batchId)
    * in the manifest (Delta's txn marker), and a later call from the
    * same query whose batchId is not higher — a replay after a restart —
    * returns without committing. A direct call (no streaming query on
    * this thread) always commits. A batch that crashed mid-merge never
    * published, so its partial output is invisible and its replay
    * applies it.
    *
    * The first commit folds the batch over an empty base, so every
    * epoch is written by the same plan. A commit whose recorded layout
    * calls for another bucket count (see the class doc) folds the batch
    * over the whole state and writes every bucket under the new count.
    */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val queryId = Option(spark.sparkContext.getLocalProperty(QueryIdKey))
    val txn = queryId.map(_ -> batchId)
    val last = readManifest()
    val applied = last.exists(_.txn.exists { case (q, b) => queryId.contains(q) && batchId <= b })
    if (!applied) {
      val layout = last.fold(Layout(numBuckets, Map.empty))(layoutOf)
      val n = if (last.isEmpty) numBuckets else nextBuckets(layout)
      val relayout = n != layout.buckets
      val committed = last.fold(Map.empty[Int, String])(_.buckets)
      // a re-layout replaces every entry of the previous manifest
      val previous = if (relayout) Map.empty[Int, String] else committed
      val dirty = if (relayout) 0 until n else dirtyOf(batch, n)
      val baseDirs = if (relayout) committed.values.toSeq else dirty.flatMap(committed.get)
      // schema evolution: read dirty buckets with the MANIFEST schema
      // (older bucket files missing newer columns null-fill), and
      // merge over the UNION of batch and state data columns so a
      // widening feed backfills NULL and a narrowed feed carries
      // state values instead of wiping them. The first commit folds
      // the batch over an empty base.
      val schema = last.flatMap(_.schema)
      val base =
        if (baseDirs.isEmpty && schema.isEmpty) emptyLike(batch, dataColsOf(batch))
        else log.scan(spark, baseDirs, schema)
      val baseDataCols = base.columns.toSeq
        .filterNot(c => keyCols.contains(c) || c == "last_ts_ms")
      val dataCols = (dataColsOf(batch) ++
        baseDataCols.filterNot(dataColsOf(batch).contains)).distinct
      val writers = math.max(1, math.min(dirty.size, spark.sparkContext.defaultParallelism))
      val merged = CdcOps.foldChangeSet(base, batch, keyCols, dataCols, Some(bucketCol(n) -> writers))
      commit(last.fold(0L)(_.epoch + 1), previous, dirty, merged, txn.orElse(last.flatMap(_.txn)),
        Layout(n, layout.bytes))
    }
  }

  private def dataColsOf(batch: DataFrame): Seq[String] =
    batch.columns.filterNot((keyCols ++ Seq("op", "ts_ms", "seq")).contains).toSeq

  /** Distinct bucket ids of this batch under `n` buckets — tiny (≤ n
    * values). Each partition reduces its own ids to a set and the
    * driver unions them: one job, no exchange. At one bucket every key
    * is in bucket 0, and no job runs.
    */
  private def dirtyOf(batch: DataFrame, n: Int): Seq[Int] =
    if (n == 1) Seq(0)
    else batch.select(bucketCol(n)).as(Encoders.scalaInt)
      .mapPartitions(ids => ids.toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.sorted.toSeq

  /** The committed state restricted to the buckets this batch touches —
    * the before-image substrate an incremental-view-maintenance
    * consumer needs ([[AggMaintain.epochDelta]] joins the batch's keys
    * against state, and every batch key hashes into a dirty bucket, so
    * the delta computed against this frame equals one computed against
    * the full state — spec-held). Cost is ¦dirty buckets¦ × bucket
    * size, and a bucket holds about `spark.sql.files.openCostInBytes`
    * until the state outgrows `numBuckets` of them; [[readState]] by
    * contrast reads everything. At one bucket this is the whole state,
    * built without a Spark job. Returns an empty frame when no state is
    * committed yet.
    */
  def readDirtyState(batch: DataFrame): DataFrame =
    readManifest() match {
      case None => emptyLike(batch, dataColsOf(batch))
      case Some(m) =>
        val n = m.layout.fold(numBuckets)(_.buckets)
        val withData = dirtyOf(batch, n).filter(m.buckets.contains)
        if (withData.isEmpty) emptyLike(batch, dataColsOf(batch))
        else log.scan(spark, withData.map(m.buckets), m.schema)
    }

  /** Zero-row frame with the base-state schema (keys ++ data ++ last_ts_ms)
    * for the first merge that touches only previously-unseen buckets.
    */
  private def emptyLike(batch: DataFrame, dataCols: Seq[String]): DataFrame =
    batch.select(keyCols.map(col) ++ dataCols.map(col) :+ col("ts_ms").as("last_ts_ms"): _*)
      .limit(0)

  /** Write the merged dirty-bucket state into a fresh attempt dir of
    * `epoch`, then atomically publish a manifest carrying: every clean
    * bucket's previous entry + every dirty bucket that still has rows.
    * Dirty buckets with no surviving rows are dropped from the manifest
    * (all keys deleted). `merged` is the state rows of the dirty buckets
    * plus their `bucket` column, partitioned and ordered the way it is
    * to be written (see [[merge]]); the write adds no shuffle of its
    * own. `layout` is the bucket count `merged` is hashed in, with the
    * recorded bytes of the clean buckets; the manifest records it with
    * every live bucket's bytes (a clean bucket it has none for is
    * listed).
    */
  private[graft] def commit(epoch: Long, previous: Map[Int, String],
                            dirty: Seq[Int], merged: DataFrame,
                            txn: Option[(String, Long)] = None,
                            layout: Layout = Layout(numBuckets, Map.empty)): Unit = {
    // a single-writer violation is refused before any file is written,
    // and a racing writer's loss is confined to its own attempt dir
    val attempt = log.begin(epoch)
    merged.write.options(LocalFs.writeOptions).mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$statePath/${attempt.dir}")
    // which dirty buckets actually produced rows, and how many bytes?
    val written: Map[Int, Long] = fs.listStatus(new Path(root, attempt.dir)).toSeq
      .collect { case st if st.getPath.getName.startsWith("bucket=") =>
        st.getPath.getName.stripPrefix("bucket=").toInt -> log.bytes(s"${attempt.dir}/${st.getPath.getName}")
      }.toMap.filter { case (b, _) => dirty.contains(b) }
    val clean = previous -- dirty
    val entries = clean ++ written.keys.map(b => b -> s"${attempt.dir}/bucket=$b")
    val bytes = written ++ clean.map { case (b, d) => b -> layout.bytes.getOrElse(b, log.bytes(d)) }
    log.publish(attempt,
      Seq("#schema" -> merged.drop("bucket").schema.json, "#layout" -> Layout(layout.buckets, bytes).render) ++
        txn.map { case (q, b) => "#txn" -> s"$q\t$b" },
      entries.toSeq.sortBy(_._1).map { case (b, d) => b.toString -> d })
  }
}

/** One committed manifest: bucket id → data dir relative to the state
  * path, the state schema (recorded so an all-deleted state stays
  * readable), its layout (absent in manifests written before the
  * `#layout` line) and the last stream batch applied, as (queryId,
  * batchId).
  */
private final case class StateManifest(epoch: Long, buckets: Map[Int, String],
                                  schema: Option[StructType], layout: Option[Layout],
                                  txn: Option[(String, Long)])

private object StateManifest {
  def of(m: ManifestLog.Manifest): StateManifest =
    StateManifest(m.version, m.entries.map { case (b, d) => b.toInt -> d }.toMap,
      m.meta.get("#schema").map(DataType.fromJson(_).asInstanceOf[StructType]),
      m.meta.get("#layout").map(Layout.parse),
      m.meta.get("#txn").map { v => val Array(q, b) = v.split('\t'); q -> b.toLong })
}

/** A state's layout: its bucket count and each live bucket's data
  * bytes, as the `#layout` line's value `n<TAB>b:bytes,b:bytes,...`.
  */
private[graft] final case class Layout(buckets: Int, bytes: Map[Int, Long]) {
  def render: String =
    s"$buckets\t" + bytes.toSeq.sorted.map { case (b, n) => s"$b:$n" }.mkString(",")
}

private[graft] object Layout {
  def parse(value: String): Layout = {
    val Array(n, sizes) = value.split("\t", -1)
    Layout(n.toInt, sizes.split(',').filter(_.nonEmpty).map { p =>
      val Array(b, bytes) = p.split(':'); b.toInt -> bytes.toLong
    }.toMap)
  }
}
