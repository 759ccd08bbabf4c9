package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.BinaryPipeline
import graft.streaming.StreamingPhashDedupJob

/** Contracts of the streaming perceptual-dedup face: the union of
  * per-tranche pair emissions equals the batch face on the full corpus
  * (every unordered pair lands in exactly the tranche of its later
  * member), and the shared index substrate's replay/compaction/format
  * guarantees hold over the phash schema.
  */
class StreamingPhashDedupSpec extends AnyFunSuite with SparkSpec {

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("streamed pairs over any tranche split equal the batch phash dedup") {
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int)]]
    val tmp = java.nio.file.Files.createTempDirectory("sphash").toString
    val job = new StreamingPhashDedupJob(spark, s"$tmp/index",
      (pairs, id) => emitted(id) = collectPairs(pairs))
    val images = BinaryPipeline.asImageTable(Tables.documents(spark, sfDir))
      .select("item_id", "payload").localCheckpoint(true)
    (0 until 3).foreach { t =>
      job.processBatch(images.filter(pmod(col("item_id"), lit(3)) === t), t.toLong)
    }
    val streamed = emitted.values.reduce(_ ++ _)
    val batch = collectPairs(BinaryPipeline.phashDedup(spark, sfDir))
    assert(streamed === batch, "union of tranche emissions must equal the batch face")
    // disjointness: no pair is emitted by two tranches
    assert(emitted.values.map(_.size).sum === streamed.size,
      "each unordered pair must land in exactly one tranche")
  }

  test("replay across compaction re-emits pairs but never re-appends folded hashes") {
    import spark.implicits._
    // brightness-shifted copy hashes IDENTICALLY (dHash invariance), so
    // (1, 2) is a guaranteed hamming-0 pair; doc 10 is another copy
    val base = Array.tabulate[Byte](100)(i => (50 + (i * 37) % 100).toByte)
    def png(p: Array[Byte]) = BinaryPipeline.PngCodec.encode(p)
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int)]]
    val tmp = java.nio.file.Files.createTempDirectory("sphash-replay").toString
    val job = new StreamingPhashDedupJob(spark, s"$tmp/index",
      (pairs, id) => emitted(id) = collectPairs(pairs), compactEvery = 64)

    job.processBatch(Seq((1L, png(base)), (2L, png(base.map(b => (b + 50).toByte))))
      .toDF("item_id", "payload"), 0L)
    assert(emitted(0L).contains((1L, 2L, 0)), "within-batch hamming-0 pair")
    job.processBatch(Seq((10L, png(base))).toDF("item_id", "payload"), 1L)
    assert(emitted(1L) === Set((1L, 10L, 0), (2L, 10L, 0)),
      "cross-batch pairs against the persisted index")
    val rowsBefore = job.readIndex().get.count()
    job.compact()
    assert(job.compactedThrough() === 1L)
    assert(job.readIndex().get.count() === rowsBefore,
      "compaction must preserve the hash rows exactly")

    // replay batch 1 after its hashes were folded into batch=0
    val firstEmit = emitted(1L)
    emitted.remove(1L)
    job.processBatch(Seq((10L, png(base))).toDF("item_id", "payload"), 1L)
    assert(emitted(1L) === firstEmit, "replay must re-emit the same pair set")
    assert(job.batchDirCount() === 1, "replayed folded batch must not re-append a dir")
    assert(job.readIndex().get.count() === rowsBefore,
      "replay across compaction duplicated hash rows")

    // a genuinely new batch still appends and pairs against the index
    job.processBatch(Seq((20L, png(base))).toDF("item_id", "payload"), 2L)
    assert(emitted(2L) === Set((1L, 20L, 0), (2L, 20L, 0), (10L, 20L, 0)))
    assert(job.readIndex().get.count() > rowsBefore)
  }

  test("a foreign hash-family marker is refused, not silently joined") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sphash-fmt").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/index"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/index/_phash_format"),
      "dhash-gray-9x8-v0\n".getBytes("UTF-8"))
    val job = new StreamingPhashDedupJob(spark, s"$tmp/index", (_, _) => ())
    val img = Seq((1L, BinaryPipeline.PngCodec.encode(Array[Byte](1, 2, 3, 4))))
      .toDF("item_id", "payload")
    val e = intercept[IllegalStateException] { job.processBatch(img, 0L) }
    assert(e.getMessage.contains("rebuild the index"))
  }

  test("tranche emissions stay complete when every band bucket is forced hot") {
    val emitted = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int)]]
    val tmp = java.nio.file.Files.createTempDirectory("sphash-cap").toString
    val job = new StreamingPhashDedupJob(spark, s"$tmp/index",
      (pairs, id) => emitted(id) = collectPairs(pairs))
    val images = BinaryPipeline.asImageTable(Tables.documents(spark, sfDir))
      .select("item_id", "payload").localCheckpoint(true)
    // batch truth under the DEFAULT cap, streamed set under cap=1: the
    // sub-band split must not change WHAT is found, only how it joins —
    // including the combined corpus∪batch hotness classification
    val batch = collectPairs(BinaryPipeline.phashDedup(spark, sfDir))
    spark.conf.set("graft.mm.maxBandBucket", "1")
    try {
      (0 until 3).foreach { t =>
        job.processBatch(images.filter(pmod(col("item_id"), lit(3)) === t), t.toLong)
      }
      assert(emitted.values.reduce(_ ++ _) === batch,
        "forced-hot streamed pair set diverged from the batch face")
    } finally spark.conf.unset("graft.mm.maxBandBucket")
  }

  test("two index families at one root: a crashed compaction never crosses subdirs") {
    import spark.implicits._
    import graft.streaming.DeltaStore
    val root = java.nio.file.Files.createTempDirectory("bpi-collide").toString
    // both families in the layout of builds before manifests, the bands
    // family caught by a crash between its compaction's two renames: its
    // live dir sits displaced at its own staging slot
    PreManifestLayout.write(s"$root/_pre_compact_bands", Seq(0L -> Seq((1L, 10L)).toDF("doc_id", "k")), Some(0L))
    PreManifestLayout.write(s"$root/hashes", Seq(0L -> Seq((2L, 20L)).toDF("doc_id", "k")))
    val bands = new DeltaStore(spark, root, "bands", Seq("doc_id", "k"), 16, identity)
    val hashes = new DeltaStore(spark, root, "hashes", Seq("doc_id", "k"), 16, identity)
    // the OTHER family must neither adopt nor disturb the displaced dir
    val hs = hashes.readDeltas().map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(hs === Some(Set((2L, 20L))), "hashes family reads only its own rows")
    assert(new java.io.File(s"$root/_pre_compact_bands").exists(),
      "hashes adoption must not consume the bands family's staging dir")
    // the bands family restores its own displaced index
    val bs = bands.readDeltas().map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(bs === Some(Set((1L, 10L))), "bands family restores its displaced rows")
    assert(!new java.io.File(s"$root/_pre_compact_bands").exists())
    // each family keeps its own replay skip
    bands.append(Seq((1L, 11L)).toDF("doc_id", "k"), 0L)
    hashes.append(Seq((2L, 21L)).toDF("doc_id", "k"), 0L)
    assert(bands.readDeltas().get.count() === 1 && hashes.readDeltas().get.count() === 1)
  }

  test("index recovers a pre-upgrade crash left at the legacy _pre_compact slot") {
    import spark.implicits._
    import graft.streaming.DeltaStore
    val root = java.nio.file.Files.createTempDirectory("bpi-legacy").toString
    // a crash that happened BEFORE the staging dirs were namespaced per
    // subdir: the compacted live dir sits displaced at the shared legacy
    // `_pre_compact` name and no live dir exists
    PreManifestLayout.write(s"$root/_pre_compact", Seq(0L -> Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "k")), Some(0L))
    val upgraded = new DeltaStore(spark, root, "hashes", Seq("doc_id", "k"), 16, identity)
    // silently reading the index as empty would lose every pre-crash row
    val rows = upgraded.readDeltas().map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(rows === Some(Set((1L, 10L), (2L, 20L))),
      "legacy crash-window index must be restored, not reset")
    assert(new java.io.File(s"$root/hashes").exists() && !new java.io.File(s"$root/_pre_compact").exists(),
      "restore must be by rename")
    assert(upgraded.compactedThrough() === 0L,
      "the folded-through marker travels with the restored dir")
    upgraded.compact()
    upgraded.append(Seq((3L, 30L)).toDF("doc_id", "k"), 0L)
    assert(upgraded.readDeltas().get.count() === 2, "a replay at the old marker is skipped")
  }
}
