package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventSessionizer, StreamingDedup, WindowedAggs}
import graft.Tables

class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("streaming hourly windowed agg (complete) matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)]
      .collect()

    val stream = MemoryStream[(Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val agg = WindowedAggs.hourlyByTypeStream(sdf)
    val q = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    events.grouped(math.max(events.length / 4, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.processAllAvailable()

    val streamed = spark.table("hourly_test")
    val batch = WindowedAggs.hourlyByTypeBatch(spark, sfDir)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
    q.stop()
  }

  test("streaming sliding windowed agg (complete) matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)]
      .collect()

    val stream = MemoryStream[(Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val agg = WindowedAggs.slidingByTypeStream(sdf)
    val q = agg.writeStream.format("memory").queryName("sliding_test")
      .outputMode("complete").start()
    events.grouped(math.max(events.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.processAllAvailable()

    val streamed = spark.table("sliding_test")
    val batch = WindowedAggs.slidingByTypeBatch(spark, sfDir)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
    // every event lands in exactly 4 overlapping windows
    val evN = Tables.events(spark, sfDir).count()
    assert(batch.agg(sum("n")).collect().head.getLong(0) === 4 * evN)
    q.stop()
  }

  test("streaming trending top-k: ranked stream face equals batch face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)]
      .collect()

    val stream = MemoryStream[(Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    // the stateful windowed count streams; the rank is applied over the
    // materialized result — the documented deployment shape
    val q = WindowedAggs.hourlyByTypeStream(sdf)
      .writeStream.format("memory").queryName("trend_test")
      .outputMode("complete").start()
    events.grouped(math.max(events.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.processAllAvailable()

    val streamed = WindowedAggs.trendingTopK(spark.table("trend_test"))
    val batch = WindowedAggs.trendingTopKBatch(spark, sfDir)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
    // every window carries at most k ranks, contiguous from 1
    assert(batch.filter(col("rank") > 3).count() === 0)
    q.stop()
  }

  test("flatMapGroupsWithState sessionization matches batch gaps-and-islands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
      .orderBy("ts")
      .as[EventSessionizer.Ev]
      .collect()

    val stream = MemoryStream[EventSessionizer.Ev]
    val out = EventSessionizer.sessionizeStream(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    events.grouped(math.max(events.length / 4, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    // push watermark past everything so open sessions close
    val last = events.map(_.ts.getTime).max
    stream.addData(EventSessionizer.Ev(-1L, new Timestamp(last + 24 * 3600 * 1000L), 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions_test")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
    val batch = EventSessionizer.sessionizeBatch(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
        col("total_value"))
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("native session_window: batch face, stream face, and custom state agree") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // native batch == custom gaps-and-islands (modulo session numbering)
    val native = EventSessionizer.sessionWindowBatch(spark, sfDir)
    val custom = EventSessionizer.sessionizeBatch(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
    assert(native.exceptAll(custom).count() === 0, "native minus custom")
    assert(custom.exceptAll(native).count() === 0, "custom minus native")

    // native stream (append) == native batch after the watermark flush
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
      .orderBy("ts")
      .as[EventSessionizer.Ev]
      .collect()
    val stream = MemoryStream[EventSessionizer.Ev]
    val out = EventSessionizer.sessionWindowStream(stream.toDF())
    val q = out.writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    events.grouped(math.max(events.length / 4, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    val last = events.map(_.ts.getTime).max
    stream.addData(EventSessionizer.Ev(-1L, new Timestamp(last + 48 * 3600 * 1000L), 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("native_sessions").filter(col("user_id") >= 0)
    assert(streamed.exceptAll(native).count() === 0, "streamed minus batch")
    assert(native.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("stream metrics capture per-batch progress; RocksDB state store gives identical results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamMetrics

    val events = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)]
      .collect()

    val metrics = new StreamMetrics().attach(spark)
    StreamMetrics.useRocksDbStateStore(spark)
    try {
      val stream = MemoryStream[(Timestamp, String, Double)]
      val sdf = stream.toDF().toDF("ts", "event_type", "value")
      val q = WindowedAggs.hourlyByTypeStream(sdf)
        .writeStream.format("memory").queryName("rocksdb_hourly")
        .outputMode("complete").start()
      events.grouped(math.max(events.length / 3, 1)).foreach { g =>
        stream.addData(g.toSeq)
        q.processAllAvailable()
      }
      q.processAllAvailable()

      // the RocksDB provider is actually in play, not silently defaulted
      val opState = q.lastProgress.stateOperators
      assert(opState.nonEmpty &&
        opState.head.customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb")),
        s"expected rocksdb state-store metrics, got: ${opState.headOption}")
      q.stop()

      // identical results to the default-provider batch semantics
      val streamed = spark.table("rocksdb_hourly")
      val batch = WindowedAggs.hourlyByTypeBatch(spark, sfDir)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)

      // listener saw the batches: input rows add up, durations recorded
      val prog = metrics.snapshot().filter(_.queryName.startsWith("rocksdb_hourly"))
      assert(prog.map(_.numInputRows).sum === events.length.toLong)
      assert(prog.forall(_.durationMs >= 0))
      assert(metrics.toDF(spark).count() === prog.length.toLong)
    } finally {
      StreamMetrics.useDefaultStateStore(spark)
      metrics.detach(spark)
    }
  }

  // the large-state operability proof: a keyed aggregation whose state
  // (1.2M distinct keys) is far past what a driver-collected check could
  // hold comfortably, run on the DISK-BACKED provider — the
  // configuration a 100 TB key space requires. Asserts the provider is
  // really RocksDB, the state row count equals the key count exactly
  // (no dropped/duplicated state across micro-batches), and the metrics
  // ring captured sustained throughput; the measured rows/sec is
  // surfaced via info() and recorded in SURVEY §6.
  test("RocksDB state store sustains 1.2M distinct keys of streaming state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamMetrics

    val nKeys = 1200000L
    val metrics = new StreamMetrics().attach(spark)
    StreamMetrics.useRocksDbStateStore(spark)
    try {
      val stream = MemoryStream[Long]
      val counted = stream.toDF().toDF("k")
        .groupBy("k").agg(count(lit(1)).as("n"))
      val q = counted.writeStream
        .outputMode("update")
        .queryName("rocksdb_mkeys")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
        .start()
      val t0 = System.nanoTime()
      (0L until nKeys).grouped(400000).foreach { g =>
        stream.addData(g)
        q.processAllAvailable()
      }
      val wallSec = (System.nanoTime() - t0) / 1e9

      val opState = q.lastProgress.stateOperators
      assert(opState.nonEmpty &&
        opState.head.customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb")),
        s"expected rocksdb state-store metrics, got: ${opState.headOption}")
      assert(opState.map(_.numRowsTotal).sum === nKeys,
        "every distinct key must be present in state exactly once")
      q.stop()

      val prog = metrics.snapshot().filter(_.queryName.startsWith("rocksdb_mkeys"))
      assert(prog.map(_.numInputRows).sum === nKeys)
      assert(prog.exists(_.processedRowsPerSecond > 0))
      assert(prog.map(_.stateRows).max === nKeys)
      val peakRps = prog.map(_.processedRowsPerSecond).max
      info(f"1.2M-key RocksDB state: ${nKeys / wallSec}%.0f rows/s sustained, " +
        f"$peakRps%.0f rows/s peak batch, ${wallSec}%.1f s wall")
    } finally {
      StreamMetrics.useDefaultStateStore(spark)
      metrics.detach(spark)
    }
  }

  test("streaming ANN ingest builds the same IVF-PQ index as a monolithic encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAnnIngestJob
    import graft.similarity.Ann

    val tmp = java.nio.file.Files.createTempDirectory("graft-ann-ingest").toString
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()

    val job = new StreamingAnnIngestJob(spark, s"$tmp/index")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = job.start(stream.toDF().toDF("vec_id", "embedding"), s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    embs.grouped(math.max(embs.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    val streamed = job.queryIndex(queries).collect().toSeq
    assert(streamed.nonEmpty)

    // monolithic reference over the SAME persisted quantizers (trained
    // on the bootstrap batch): encoding everything in one pass and
    // probing must give identical neighbors — per-batch encoding is a
    // pure map over immutable artifacts
    val Some((c, b)) = job.readQuantizers()
    val mono = Ann.ivfpqTopKFromIndex(c, b,
      Ann.ivfpqAssign(c, b, Tables.embeddings(spark, sfDir)), queries)
    assert(streamed === mono.collect().toSeq)

    // at-least-once replay: reprocessing an already-committed batch id
    // overwrites the same codes — the queryable index does not change
    val firstBatch = embs.take(math.max(embs.length / 3, 1))
      .toSeq.toDF("vec_id", "embedding")
    job.processBatch(firstBatch, 0L)
    assert(job.queryIndex(queries).collect().toSeq === streamed)

    // compaction folds the per-batch dirs without changing results
    job.compact()
    assert(job.batchDirCount() === 1)
    assert(job.queryIndex(queries).collect().toSeq === streamed)

    // a job restarted with a different PQ geometry must refuse the index
    val wrong = new StreamingAnnIngestJob(spark, s"$tmp/index", nSub = 8)
    val ex = intercept[IllegalStateException] { wrong.processBatch(firstBatch, 99L) }
    assert(ex.getMessage.contains("rebuild"))
  }

  test("streaming knn maintenance equals the batch graph; clean cell partitions are not rewritten") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingKnnMaintainJob
    import graft.similarity.Ann

    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-maintain").toString
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()

    val job = new StreamingKnnMaintainJob(spark, s"$tmp/graph")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = job.start(stream.toDF().toDF("vec_id", "embedding"), s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    val half = embs.length / 2
    stream.addData(embs.take(half).toSeq); q.processAllAvailable()

    // snapshot a clean cell's partition files before the second batch
    val secondAssigned = Ann.assignCells(job.readCentroids().get,
      embs.drop(half).toSeq.toDF("vec_id", "embedding"))
    val dirtyCells = secondAssigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val edgesDir = new java.io.File(s"$tmp/graph/edges")
    val cleanCellDirs = edgesDir.listFiles().toSeq
      .filter(f => f.getName.startsWith("cell=") &&
        !dirtyCells.contains(f.getName.stripPrefix("cell=").toInt))
    val before = cleanCellDirs.map(d =>
      d.getName -> d.listFiles().map(f => (f.getName, f.lastModified)).toSet).toMap

    stream.addData(embs.drop(half).toSeq); q.processAllAvailable()
    q.stop()

    // the maintained graph equals the batch recompute over the same
    // persisted quantizer + accumulated assignment
    val batch = Ann.assignCells(job.readCentroids().get,
      embs.toSeq.toDF("vec_id", "embedding"))
    val expected = graft.similarity.Ann.knnGraphEdges(batch).collect().toSeq
    val got = job.readGraph().orderBy("vec_id", "rank").collect().toSeq
    assert(got === expected)

    // clean cells' files were NOT rewritten by the dynamic overwrite
    cleanCellDirs.foreach { d =>
      val after = d.listFiles().map(f => (f.getName, f.lastModified)).toSet
      assert(after === before(d.getName),
        s"${d.getName} is clean for batch 2 but its files changed")
    }

    // at-least-once replay of the second batch converges, not diverges
    job.processBatch(embs.drop(half).toSeq.toDF("vec_id", "embedding"), 1L)
    assert(job.readGraph().orderBy("vec_id", "rank").collect().toSeq === expected)

    // a restart with different k must refuse the persisted graph
    val wrong = new StreamingKnnMaintainJob(spark, s"$tmp/graph", k = 3)
    val ex = intercept[IllegalStateException] {
      wrong.processBatch(embs.take(2).toSeq.toDF("vec_id", "embedding"), 99L)
    }
    assert(ex.getMessage.contains("rebuild"))
  }

  test("ANN ingest: empty first batch must not poison the index, and replay across compaction must not duplicate vec_ids") {
    import spark.implicits._
    import graft.streaming.StreamingAnnIngestJob
    import org.apache.spark.sql.types._

    val tmp = java.nio.file.Files.createTempDirectory("graft-ann-empty").toString
    val job = new StreamingAnnIngestJob(spark, s"$tmp/index", compactEvery = 64)

    // an empty FIRST batch is a no-op: no quantizers may be persisted
    // (empty ones would permanently encode every later batch to 0 rows)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    job.processBatch(empty, 0L)
    assert(job.readQuantizers().isEmpty, "empty batch must not persist quantizers")
    assert(job.readCodes().isEmpty, "empty batch must not append codes")

    // the first NON-empty batch bootstraps normally
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val (b1, b2) = embs.splitAt(math.max(embs.length / 2, 1))
    job.processBatch(b1.toSeq.toDF("vec_id", "embedding"), 1L)
    assert(job.readQuantizers().isDefined, "first non-empty batch must bootstrap")
    job.processBatch(b2.toSeq.toDF("vec_id", "embedding"), 2L)
    val total = job.readCodes().get.count()
    assert(total === embs.length.toLong)

    // a later empty batch is also a no-op (no empty batch=<id> dir)
    job.processBatch(empty, 3L)
    assert(job.readCodes().get.count() === total)

    // crash-between-compact-and-checkpoint-commit replay: after
    // compaction folds batch 2 into batch=0, reprocessing batch 2 must
    // NOT re-append its rows as duplicate vec_ids
    job.compact()
    assert(job.compactedThrough() === 2L)
    job.processBatch(b2.toSeq.toDF("vec_id", "embedding"), 2L)
    assert(job.batchDirCount() === 1, "replayed folded batch must not re-append a dir")
    val codes = job.readCodes().get
    assert(codes.count() === total, "replay across compaction duplicated rows")
    assert(codes.select("vec_id").distinct().count() === total,
      "vec_ids must stay unique across a post-compaction replay")
    // a genuinely NEW batch id after the marker still appends
    job.processBatch(Seq((999999L, embs.head._2)).toDF("vec_id", "embedding"), 4L)
    assert(job.readCodes().get.count() === total + 1)
  }

  test("ANN ingest restores a codes dir displaced to the unnamespaced _pre_compact slot") {
    import spark.implicits._
    import graft.streaming.StreamingAnnIngestJob

    val tmp = java.nio.file.Files.createTempDirectory("graft-ann-legacy").toString
    val job = new StreamingAnnIngestJob(spark, s"$tmp/index", compactEvery = 64)
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val (b1, b2) = embs.splitAt(math.max(embs.length / 2, 1))
    job.processBatch(b1.toSeq.toDF("vec_id", "embedding"), 0L)
    job.processBatch(b2.toSeq.toDF("vec_id", "embedding"), 1L)
    job.compact()
    val before = job.readCodes().get.collect().map(_.toString).toSet
    assert(before.size === embs.length)

    // the crash window of a compaction under the layout that staged the
    // code table at the shared `_pre_compact` name: the compacted code
    // table of builds before manifests sits displaced there and no
    // `codes` dir exists
    val live = new java.io.File(s"$tmp/index/codes")
    val legacy = new java.io.File(s"$tmp/index/_pre_compact")
    PreManifestLayout.write(legacy.toString, Seq(0L -> job.readCodes().get), compactedThrough = Some(1L))
    org.apache.commons.io.FileUtils.deleteDirectory(live)

    val restarted = new StreamingAnnIngestJob(spark, s"$tmp/index", compactEvery = 64)
    assert(restarted.readCodes().get.collect().map(_.toString).toSet === before,
      "the displaced code table must be restored, not read as empty")
    assert(live.exists() && !legacy.exists(), "restore must be by rename")
    assert(restarted.compactedThrough() === 1L,
      "the folded-through marker travels with the restored dir")
    restarted.processBatch(b2.toSeq.toDF("vec_id", "embedding"), 1L)
    assert(restarted.readCodes().get.count() === embs.length.toLong, "a replay at the old marker is skipped")
  }

  test("streaming vocabulary equals the batch token_vocab and survives replay across compaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingVocabJob
    import graft.functions.TextFunctions

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft-vocab").toString
    val job = new StreamingVocabJob(spark, s"$tmp/state", compactEvery = 64)

    val stream = MemoryStream[(Long, String)]
    val q = job.start(stream.toDF().toDF("doc_id", "text"), s"$tmp/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val groups = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    groups.foreach { g => stream.addData(g.toSeq); q.processAllAvailable() }
    q.stop()

    // the streamed sum-of-deltas vocabulary IS the batch vocabulary
    val batch = TextFunctions.tokenVocab(Tables.documents(spark, sfDir)).collect().toSeq
    val streamed = job.readVocab().collect().toSeq
    assert(streamed === batch, "streamed vocab must equal the batch face")

    // plain replay: batch=<id> overwrite, nothing double-counts
    job.processBatch(groups.head.toSeq.toDF("doc_id", "text"), 0L)
    assert(job.readVocab().collect().toSeq === batch)

    // compaction folds the deltas without changing the vocabulary...
    job.compact()
    assert(job.batchDirCount() === 1)
    assert(job.readVocab().collect().toSeq === batch)
    // ...and a replay ACROSS the compaction is skipped, not re-added
    job.processBatch(groups.head.toSeq.toDF("doc_id", "text"), 0L)
    assert(job.batchDirCount() === 1, "folded batch must not re-append")
    assert(job.readVocab().collect().toSeq === batch,
      "replay across compaction must not double-count tokens")
  }

  test("streaming bigram substrates serve token_pmi and bigram_logprob exactly, across compaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBigramJob
    import graft.functions.TextFunctions

    val docsDf = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft-bigram").toString
    val job = new StreamingBigramJob(spark, s"$tmp/state", compactEvery = 64)

    val stream = MemoryStream[(Long, String)]
    val q = job.start(stream.toDF().toDF("doc_id", "text"), s"$tmp/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val groups = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    groups.foreach { g => stream.addData(g.toSeq); q.processAllAvailable() }
    q.stop()

    // both consumers read the maintained counts and must equal the
    // batch faces EXACTLY (integer substrates -> identical doubles)
    val batchPmi = TextFunctions.tokenPmi(docsDf).collect().toSeq
    val batchLp = TextFunctions.bigramLogprob(docsDf).collect().toSeq
    assert(job.readPmi().collect().toSeq === batchPmi,
      "streamed PMI must equal the batch face")
    assert(job.scoreDocs(docsDf).collect().toSeq === batchLp,
      "scoring under the maintained model must equal the batch face")

    // plain replay: batch=<id> overwrite on BOTH states, nothing doubles
    job.processBatch(groups.head.toSeq.toDF("doc_id", "text"), 0L)
    assert(job.readPmi().collect().toSeq === batchPmi)

    // compaction folds both states without changing either consumer...
    job.compact()
    assert(job.tokens.batchDirCount() === 1 && job.bigrams.batchDirCount() === 1)
    assert(job.readPmi().collect().toSeq === batchPmi)
    assert(job.scoreDocs(docsDf).collect().toSeq === batchLp)
    // ...and a replay ACROSS the compaction is skipped on both states
    job.processBatch(groups.head.toSeq.toDF("doc_id", "text"), 0L)
    assert(job.tokens.batchDirCount() === 1 && job.bigrams.batchDirCount() === 1,
      "folded batch must not re-append to either state")
    assert(job.readPmi().collect().toSeq === batchPmi,
      "replay across compaction must not double-count pairs")
    assert(job.scoreDocs(docsDf).collect().toSeq === batchLp,
      "replay across compaction must not perturb the model")
  }

  test("vocab job recovers a compaction crash caught between the two renames") {
    import spark.implicits._
    import graft.streaming.StreamingVocabJob

    val tmp = java.nio.file.Files.createTempDirectory("graft-vocab-crash").toString
    val batches = Seq(Seq((1L, "alpha beta alpha"), (2L, "beta gamma")), Seq((3L, "alpha gamma")),
      Seq((4L, "delta"))).map(_.toDF("doc_id", "text"))
    /** The vocab store of builds before manifests at `dir`: one
      * committed `batch=<id>` dir per batch, each holding the delta the
      * job appends for it.
      */
    def preManifestLayout(dir: String, n: Int): Unit =
      PreManifestLayout.write(dir, batches.take(n).zipWithIndex.map { case (docs, b) =>
        val scratch = new StreamingVocabJob(spark, s"$tmp/scratch-$n-$b", compactEvery = 64)
        scratch.processBatch(docs, b.toLong)
        b.toLong -> scratch.state.readDeltas().get
      })
    /** The vocabulary of a fresh job over the first `n` batches. */
    def vocabOf(n: Int): Seq[org.apache.spark.sql.Row] = {
      val fresh = new StreamingVocabJob(spark, s"$tmp/fresh-$n", compactEvery = 64)
      batches.take(n).zipWithIndex.foreach { case (docs, b) => fresh.processBatch(docs, b.toLong) }
      fresh.readVocab().collect().toSeq
    }

    // the crash window inside a compaction of builds before manifests:
    // the live dir had been displaced to its _pre_compact_<name> slot but
    // the staged dir never published
    val displaced = new java.io.File(s"$tmp/state/_pre_compact_vocab")
    preManifestLayout(displaced.toString, 2)
    val live = new java.io.File(s"$tmp/state/vocab")
    val job = new StreamingVocabJob(spark, s"$tmp/state", compactEvery = 64)
    val before = vocabOf(2)
    assert(before.nonEmpty)
    // the next read must restore the displaced vocabulary — no data
    // loss, no silently-empty vocabulary
    assert(job.readVocab().collect().toSeq === before,
      "recovery must restore the displaced vocabulary exactly")
    assert(live.exists() && !displaced.exists(), "restore must be by rename")
    job.processBatch(batches(1), 1L)
    assert(job.readVocab().collect().toSeq === before, "a replay of an adopted batch is skipped")
    // and the job keeps ingesting normally afterwards
    job.processBatch(batches(2), 2L)
    assert(job.readVocab().collect().map(_.getString(1)).contains("delta"))
    assert(job.readVocab().collect().toSeq === vocabOf(3))

    // pre-r7 layouts displaced to the UNSUFFIXED `_pre_compact` slot: a
    // fresh job over such a state dir must restore it, not silently
    // reset the vocabulary to empty
    preManifestLayout(s"$tmp/state2/_pre_compact", 3)
    val upgraded = new StreamingVocabJob(spark, s"$tmp/state2", compactEvery = 64)
    assert(upgraded.readVocab().collect().toSeq === vocabOf(3),
      "a legacy crash-window state dir must survive the upgrade")
  }

  test("near-dedup ingest: replay across compaction re-emits candidates but never re-appends folded bands") {
    import spark.implicits._
    import graft.streaming.StreamingNearDedupJob

    val base = "the quick brown fox jumps over the lazy dog while the rain " +
      "falls gently on the quiet village roofs and the river keeps moving east"
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val tmp = java.nio.file.Files.createTempDirectory("neardedup-replay").toString
    val job = new StreamingNearDedupJob(spark, s"$tmp/index",
      (cands, id) => emitted(id) = cands.select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet,
      compactEvery = 64)

    job.processBatch(Seq((1L, base), (2L, base + " tonight")).toDF("doc_id", "text"), 0L)
    job.processBatch(Seq((10L, base + " again")).toDF("doc_id", "text"), 1L)
    val rowsBefore = job.readIndex().get.count()
    job.compact()
    assert(job.compactedThrough() === 1L)
    assert(job.readIndex().get.count() === rowsBefore,
      "compaction must preserve the band rows exactly")

    // replay batch 1 after its bands were folded into batch=0: the
    // candidate set is re-emitted (at-least-once sink), but the index
    // must not grow duplicate band rows
    val firstEmit = emitted(1L)
    emitted.remove(1L)
    job.processBatch(Seq((10L, base + " again")).toDF("doc_id", "text"), 1L)
    assert(emitted(1L) === firstEmit, "replay must re-emit the same candidate set")
    assert(job.batchDirCount() === 1, "replayed folded batch must not re-append a dir")
    assert(job.readIndex().get.count() === rowsBefore,
      "replay across compaction duplicated band rows")

    // a genuinely new batch still appends and pairs against the index
    job.processBatch(Seq((20L, base + " anew")).toDF("doc_id", "text"), 2L)
    assert(emitted(2L).contains((1L, 20L)))
    assert(job.readIndex().get.count() > rowsBefore)
  }

  test("streaming quantile sketch is bit-identical to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.QuantileSketch

    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)]
      .collect()
    val stream = MemoryStream[(Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "event_type", "value")
    val q = QuantileSketch.quantileSketchStream(sdf, k = 64)
      .writeStream.format("memory").queryName("qsketch_stream")
      .outputMode("complete").start()
    events.grouped(math.max(events.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("qsketch_stream").collect()
      .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val batch = QuantileSketch.quantileSketchStream(
        Tables.events(spark, sfDir).select("event_id", "event_type", "value"), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(streamed.keySet === batch.keySet)
    batch.keys.foreach { t =>
      assert(streamed(t) === batch(t),
        s"set-semantics sketch must be identical across batch/stream for $t")
    }
  }

  test("buffered sessionization is batch-exact under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = Timestamp.valueOf("2024-01-15 10:00:00")
    def ts(min: Long) = new Timestamp(t0.getTime + min * 60000L)
    def ev(min: Long, v: Double) = EventSessionizer.Ev(1L, ts(min), v)
    // tranche 2 delivers an event (minute 35) EARLIER than tranche 1's
    // max (minute 50) — batch merges 0,10,35,50 into ONE session via the
    // 35-minute bridge; an eager sessionizer has already closed [0,10]
    val tranche1 = Seq(ev(0, 1.0), ev(10, 2.0), ev(50, 3.0))
    val tranche2 = Seq(ev(35, 4.0), ev(100, 5.0), ev(170, 6.0))

    val stream = MemoryStream[EventSessionizer.Ev]
    val out = EventSessionizer.sessionizeStreamBuffered(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("buffered_sessions")
      .outputMode("append").start()
    stream.addData(tranche1); q.processAllAvailable()
    stream.addData(tranche2); q.processAllAvailable()
    stream.addData(EventSessionizer.Ev(-1L, ts(24 * 60), 0.0)); q.processAllAvailable()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("buffered_sessions")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
    val batchIn = (tranche1 ++ tranche2).zipWithIndex
      .map { case (e, i) => (e.user_id, e.ts, e.value, i.toLong) }
      .toDF("user_id", "ts", "value", "event_id")
    val batch = EventSessionizer.sessionizeBatch(batchIn)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
    // the bridge case specifically: one 4-event session [0, 50]
    assert(streamed.filter(col("n_events") === 4 &&
      col("session_start") === ts(0) && col("session_end") === ts(50)).count() === 1)
  }

  test("buffered sessionizer seals finished sessions while the key stays active") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = Timestamp.valueOf("2024-02-01 08:00:00")
    def ts(min: Long) = new Timestamp(t0.getTime + min * 60000L)
    def ev(min: Long, v: Double) = EventSessionizer.Ev(7L, ts(min), v)

    val stream = MemoryStream[EventSessionizer.Ev]
    val out = EventSessionizer.sessionizeStreamBuffered(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("sealed_sessions")
      .outputMode("append").start()
    stream.addData(Seq(ev(0, 1.0), ev(10, 2.0))); q.processAllAvailable()
    stream.addData(Seq(ev(300, 3.0))); q.processAllAvailable()
    // watermark lags a batch: one more event from the SAME (still
    // active) user pushes it past session [0,10]'s end + gap
    stream.addData(Seq(ev(310, 4.0))); q.processAllAvailable()
    val emitted = spark.table("sealed_sessions")
      .filter(col("session_start") === ts(0) && col("session_end") === ts(10))
    assert(emitted.count() === 1,
      "a watermark-sealed session must emit without the key going idle")
    q.stop()
  }

  test("idle key emits its sealed prefix at the FIRST open session's seal point") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = Timestamp.valueOf("2024-03-01 06:00:00")
    def ts(min: Long) = new Timestamp(t0.getTime + min * 60000L)

    val stream = MemoryStream[EventSessionizer.Ev]
    val out = EventSessionizer.sessionizeStreamBuffered(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("idle_prefix")
      .outputMode("append").start()
    // user 7 buffers TWO sessions ([0,10] and [300,310]) then goes idle
    stream.addData(Seq(
      EventSessionizer.Ev(7L, ts(0), 1.0), EventSessionizer.Ev(7L, ts(10), 2.0),
      EventSessionizer.Ev(7L, ts(300), 3.0), EventSessionizer.Ev(7L, ts(310), 4.0)))
    q.processAllAvailable()
    // a DIFFERENT user's event advances the watermark past session 1's
    // seal point (end 10m + gap 30m) but far short of session 2's (340m)
    stream.addData(Seq(EventSessionizer.Ev(8L, ts(320), 0.0)))
    q.processAllAvailable()
    val afterIdle = spark.table("idle_prefix").filter(col("user_id") === 7L)
    assert(afterIdle.filter(col("session_start") === ts(0)).count() === 1,
      "sealed first session must emit at ITS seal point, not the last session's")
    assert(afterIdle.count() === 1, "unsealed later session must stay buffered")
    // advance the watermark past session 2's seal point too
    stream.addData(Seq(EventSessionizer.Ev(8L, ts(500), 0.0)))
    q.processAllAvailable()
    stream.addData(Seq(EventSessionizer.Ev(8L, ts(510), 0.0)))
    q.processAllAvailable()
    assert(spark.table("idle_prefix").filter(col("user_id") === 7L).count() === 2,
      "the remainder must emit once the watermark seals it")
    q.stop()
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = Timestamp.valueOf("2024-01-15 10:00:00")
    def at(mins: Long) = new Timestamp(t0.getTime + mins * 60000L)
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "value")
    val out = StreamingDedup.dedupStream(sdf, Seq("event_id"), "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()

    stream.addData(Seq((1L, at(0), 1.0), (2L, at(1), 2.0), (1L, at(2), 99.0)))
    q.processAllAvailable()
    // duplicate of id 1 arrives again in a LATER micro-batch, still
    // inside the watermark horizon → must be dropped by state
    stream.addData(Seq((1L, at(3), 98.0), (3L, at(4), 3.0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dedup_test")
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === Set(1L, 2L, 3L))
    assert(rows(1L) === 1.0, "first occurrence of id 1 wins")
  }

  test("stream-stream interval join matches the batch range join") {
    import spark.implicits._
    import graft.streaming.StreamJoin
    implicit val sqlCtx = spark.sqlContext

    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[(Long, Long, Timestamp)].collect().sortBy(_._3.getTime)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, Timestamp, Double)].collect().sortBy(_._3.getTime)

    val pStream = MemoryStream[(Long, Long, Timestamp)]
    val vStream = MemoryStream[(Long, Long, Timestamp, Double)]
    val joined = StreamJoin.purchaseViewStream(
      pStream.toDF().toDF("user_id", "purchase_id", "p_ts"),
      vStream.toDF().toDF("v_user", "view_id", "v_ts", "v_value"))
    val q = joined.writeStream.format("memory").queryName("ivj_test")
      .outputMode("append").start()
    // feed both sides in interleaved tranches (event-time ordered)
    val pGroups = purchases.grouped(math.max(purchases.length / 3, 1)).toSeq
    val vGroups = views.grouped(math.max(views.length / 3, 1)).toSeq
    pGroups.zipAll(vGroups,
        Array.empty[(Long, Long, Timestamp)],
        Array.empty[(Long, Long, Timestamp, Double)])
      .foreach { case (pg, vg) =>
        if (pg.nonEmpty) pStream.addData(pg.toSeq)
        if (vg.nonEmpty) vStream.addData(vg.toSeq)
        q.processAllAvailable()
      }
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ivj_test").select("purchase_id", "view_id")
    val batchPairs = Tables.events(spark, sfDir).alias("p")
      .filter(col("p.event_type") === "purchase")
      .join(Tables.events(spark, sfDir).alias("v")
          .filter(col("v.event_type") === "view"),
        col("p.user_id") === col("v.user_id") &&
          col("v.ts") >= col("p.ts") - expr("INTERVAL 30 MINUTES") &&
          col("v.ts") <= col("p.ts"))
      .select(col("p.event_id").as("purchase_id"), col("v.event_id").as("view_id"))
    assert(streamed.exceptAll(batchPairs).count() === 0, "streamed minus batch")
    assert(batchPairs.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("stream-static dim enrichment matches the batch join, stateless") {
    import spark.implicits._
    import graft.streaming.StreamEnrich
    implicit val sqlCtx = spark.sqlContext

    val dim = StreamEnrich.loadCsvDim(spark, graft.cdc.CdcQueries.StaticDimPath)
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type")).as[(Long, String)].collect()

    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("event_id", "event_type")
    val out = StreamEnrich.withDim(sdf, dim, "event_type", "event_type")
    val q = out.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    events.grouped(math.max(events.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.table("enrich_test")
    val batch = StreamEnrich.withDim(
      Tables.events(spark, sfDir).select(col("event_id"), col("event_type")),
      dim, "event_type", "event_type")
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
    // every event type is covered by the dim (no null channels)
    assert(streamed.filter(col("channel").isNull).count() === 0)
  }

  test("streaming near-dedup finds cross-batch pairs from the persisted index only") {
    import spark.implicits._
    import graft.streaming.StreamingNearDedupJob
    implicit val sqlCtx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog while the rain " +
      "falls gently on the quiet village roofs and the river keeps moving east"
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val tmp = java.nio.file.Files.createTempDirectory("neardedup").toString
    val job = new StreamingNearDedupJob(spark, s"$tmp/index",
      (cands, id) => emitted(id) = cands.select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet)

    val stream = MemoryStream[(Long, String)]
    val q = job.start(stream.toDF().toDF("doc_id", "text"), s"$tmp/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0: two unrelated docs + a near-dup pair within the batch
    stream.addData(Seq(
      (1L, base),
      (2L, base + " tonight"),
      (3L, "completely different words about spark catalyst optimizer internals and shuffles exchanged across executor boundaries")))
    q.processAllAvailable()
    // batch 1: a near-dup of doc 1 — must pair via the PERSISTED index
    stream.addData(Seq(
      (10L, base + " again"),
      (11L, "another unrelated document mentioning parquet footers column statistics and predicate pushdown behavior at scan time")))
    q.processAllAvailable()
    q.stop()

    assert(emitted(0L).contains((1L, 2L)), s"within-batch pair missing: ${emitted(0L)}")
    assert(emitted(1L).contains((1L, 10L)) && emitted(1L).contains((2L, 10L)),
      s"cross-batch pairs via persisted index missing: ${emitted(1L)}")
    assert(!emitted(1L).exists { case (a, b) => a == 11L || b == 11L },
      "unrelated doc must not pair")
    // the index now carries bands for every doc seen
    assert(job.readIndex().get.select("doc_id").distinct().count() === 5)

    // compaction folds the per-batch dirs without changing the content,
    // and a post-compaction batch still pairs against the folded corpus
    val before = job.readIndex().get.collect().toSet
    job.compact()
    assert(job.readIndex().get.collect().toSet === before,
      "compaction must preserve the index content")
    job.processBatch(Seq((20L, base + " anew")).toDF("doc_id", "text"), 2L)
    assert(emitted(2L).contains((1L, 20L)),
      s"post-compaction batch must pair via the folded index: ${emitted(2L)}")
  }

  test("auto-compaction keeps the index listing bounded over 50 batches") {
    import spark.implicits._
    import graft.streaming.StreamingNearDedupJob
    val tmp = java.nio.file.Files.createTempDirectory("neardedup-auto").toString
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val job = new StreamingNearDedupJob(spark, s"$tmp/index",
      (cands, id) => emitted(id) = cands.select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet,
      compactEvery = 8)
    val base = "the quick brown fox jumps over the lazy dog while the rain " +
      "falls gently on the quiet village roofs and the river keeps moving east"
    var maxDirs = 0
    (0 until 50).foreach { i =>
      val text =
        if (i == 0) base
        else if (i == 49) base + " again" // near-dup of doc 0, 49 batches later
        else s"unique filler number $i about topic-$i with tokens " +
          (0 until 10).map(j => s"w$i-$j").mkString(" ")
      job.processBatch(Seq((i.toLong, text)).toDF("doc_id", "text"), i.toLong)
      maxDirs = math.max(maxDirs, job.batchDirCount())
    }
    assert(maxDirs <= 8, s"listing must stay bounded by compactEvery, saw $maxDirs dirs")
    assert(job.batchDirCount() < 8, "a compaction must actually have folded the tail")
    assert(job.readIndex().get.select("doc_id").distinct().count() === 50,
      "no doc's bands may be lost across auto-compactions")
    assert(emitted(49L).contains((0L, 49L)),
      s"doc 49 must pair with doc 0 through the many-times-folded index: ${emitted(49L)}")
  }

  test("streaming funnel stage table matches the batch filtered-min-agg face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel

    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts")
      .as[StreamingFunnel.FEv]
      .collect()

    val stream = MemoryStream[StreamingFunnel.FEv]
    val out = StreamingFunnel.funnelStream(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("funnel_test")
      .outputMode("append").start()
    events.grouped(math.max(events.length / 4, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    // push the watermark past every user's attribution horizon
    val last = events.map(_.ts.getTime).max
    stream.addData(StreamingFunnel.FEv(-1L,
      new Timestamp(last + StreamingFunnel.DefaultHorizonMicros / 1000L
        + 48 * 3600 * 1000L), "view"))
    q.processAllAvailable()
    q.stop()

    val cols = Seq("user_id", "t_view", "t_click", "t_purchase").map(col)
    val streamed = spark.table("funnel_test").filter(col("user_id") >= 0).select(cols: _*)
    val batch = graft.queries.Analytics
      .funnelUserStages(Tables.events(spark, sfDir)).select(cols: _*)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")

    // and the cohort rollup built on the streamed stages matches the
    // full batch funnel_conversion query
    val cohorts = streamed
      .groupBy(date_format(col("t_view"), "yyyy-MM").as("cohort"))
      .agg(count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .withColumn("click_rate", round(col("n_click") / col("n_view"), 4))
      .withColumn("purchase_rate", round(col("n_purchase") / col("n_view"), 4))
    val batchFunnel = graft.queries.Analytics.funnelConversion(spark, sfDir)
    assert(cohorts.exceptAll(batchFunnel).count() === 0, "cohorts minus batch funnel")
    assert(batchFunnel.exceptAll(cohorts).count() === 0, "batch funnel minus cohorts")
  }

  test("streaming SCD2 closed versions equal the batch history's closed slice") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    implicit val sqlCtx = spark.sqlContext

    val ch = graft.cdc.CdcOps.userChangelog(spark, sfDir)
      .orderBy("ts_ms", "seq").collect()
      .map(r => Scd2Stream.Chg(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getDouble(5)))

    val stream = MemoryStream[Scd2Stream.Chg]
    val out = Scd2Stream.closedVersions(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("scd2_closed")
      .outputMode("append").start()
    ch.grouped(math.max(ch.length / 5, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val cols = Seq("user_id", "last_event_type", "last_value",
      "valid_from", "valid_to", "version_no").map(col)
    val streamed = spark.table("scd2_closed").select(cols: _*)
    val batch = graft.cdc.CdcOps
      .scd2History(graft.cdc.CdcOps.userChangelog(spark, sfDir),
        Seq("user_id"), graft.cdc.CdcOps.userDataCols)
      .filter(col("valid_to").isNotNull)
      .select(cols: _*)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("streaming gap events aggregate to the batch gap audit") {
    import spark.implicits._
    import graft.streaming.GapAuditStream
    implicit val sqlCtx = spark.sqlContext

    val ch = graft.cdc.CdcOps.userChangelog(spark, sfDir)
      .orderBy("ts_ms", "seq").collect()
      .map(r => GapAuditStream.Chg(r.getLong(0), r.getLong(2), r.getLong(3)))

    val stream = MemoryStream[GapAuditStream.Chg]
    val q = GapAuditStream.gapEvents(spark, stream.toDS())
      .writeStream.format("memory").queryName("gap_events")
      .outputMode("append").start()
    ch.grouped(math.max(ch.length / 4, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.table("gap_events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        max(col("gap_width")).as("max_gap"),
        min(col("after_seq")).as("first_gap_after"))
    val batch = graft.cdc.CdcQueries.gapAudit(
      graft.cdc.CdcOps.userChangelog(spark, sfDir))
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("streaming SCD2 keeps numbering versions across a delete → re-insert") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Scd2Stream.Chg]
    val q = Scd2Stream.closedVersions(spark, stream.toDS())
      .writeStream.format("memory").queryName("scd2_reinsert")
      .outputMode("append").start()
    // v1 created, updated (closes v1), deleted (closes v2) ... re-created
    // in a LATER batch (must become v3, not restart at v1), then updated
    stream.addData(
      Scd2Stream.Chg(7L, "c", 100L, 1L, "signup", 1.0),
      Scd2Stream.Chg(7L, "u", 200L, 2L, "click", 2.0),
      Scd2Stream.Chg(7L, "d", 300L, 3L, "error", 0.0))
    q.processAllAvailable()
    stream.addData(
      Scd2Stream.Chg(7L, "c", 400L, 4L, "signup", 3.0),
      Scd2Stream.Chg(7L, "u", 500L, 5L, "view", 4.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("scd2_reinsert")
      .orderBy("version_no")
      .select("version_no", "valid_from", "valid_to")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, 100L, 200L), (2, 200L, 300L), (3, 400L, 500L)),
      "delete must close v2 and the re-insert must continue at v3")
  }
  test("streaming daily counts: a live ingest reproduces the batch monitoring faces") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDailyCountsJob
    import graft.queries.Analytics

    val tmp = java.nio.file.Files.createTempDirectory("graft-daily").toString
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"))
      .as[(String, java.sql.Timestamp)].collect()

    val job = new StreamingDailyCountsJob(spark, s"$tmp/state")
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val q = job.start(stream.toDF().toDF("event_type", "ts"), s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    rows.grouped(math.max(rows.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val got = job.readGrid().collect().map(_.toSeq.toList).sortBy(_.toString)
    val want = Analytics.gapFillDaily(spark, sfDir)
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(got.toSeq === want.toSeq, "live-ingested grid must equal the batch gap-fill")
  }
  test("streaming k-means assignment: a live ingest serves the bootstrap model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingKMeansAssignJob
    import graft.similarity.KMeans

    val tmp = java.nio.file.Files.createTempDirectory("graft-skm").toString
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()

    val job = new StreamingKMeansAssignJob(spark, s"$tmp/model")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = job.start(stream.toDF().toDF("vec_id", "embedding"), s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    embs.grouped(math.max(embs.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // every vector assigned exactly once, to its argmin under the
    // persisted (bootstrap-trained, immutable) model
    val assigned = job.readAssignments().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size === embs.length)
    val direct = KMeans.assign(
        KMeans.widen(Tables.embeddings(spark, sfDir)).localCheckpoint(true),
        job.readCentroids().get)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned === direct, "live assignments must equal the direct argmin")
    assert(job.readStats().collect().map(_.getLong(1)).sum === embs.length.toLong)
  }
}
