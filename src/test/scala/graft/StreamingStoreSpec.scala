package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** What the streaming jobs count as written. A store's data is what
  * its newest manifest lists: a dir a crashed write left (holding only
  * `_temporary`, or rows without `_SUCCESS`) or a dir whose manifest
  * never published is no data, and a store written before manifests is
  * adopted. A fit-once model part counts once its `_SUCCESS` exists, so
  * a dir committed by a plain parquet write is one.
  */
class StreamingStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** What a Spark write that died before its job commit leaves behind:
    * the output dir holds only `_temporary`, here with a task attempt's
    * partial file.
    */
  private def crashedWrite(dir: String): Unit = {
    val attempt = Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(attempt)
    Files.write(attempt.resolve("part-00000.snappy.parquet"), "partial".getBytes("UTF-8"))
  }

  /** What a write that died after its task commits but before its job
    * commit leaves: the rows are in place, the `_SUCCESS` marker is not.
    */
  private def uncommittedWrite(dir: String): Unit = uncommittedWrite(dir, Seq(("z", 100L)).toDF("k", "n"))

  private def uncommittedWrite(dir: String, rows: DataFrame): Unit = {
    rows.write.parquet(dir)
    Seq("_SUCCESS", "._SUCCESS.crc").foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def counts(store: DeltaStore) = store.state().map(_.as[(String, Long)].collect().toSet)

  test("a crashed append is no data: readDeltas, state and compaction skip it until its replay") {
    for (crash <- Seq[String => Unit](crashedWrite, uncommittedWrite(_))) {
      val root = tmp("store-crash")
      val store = DeltaStore.additive(spark, root, "counts", Seq("k"), Seq("n"), 16)
      crash(s"$root/counts/batch=0")
      assert(store.readDeltas().isEmpty && counts(store).isEmpty, "a crashed first append reads as an empty store")
      store.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), 0L)
      assert(counts(store) === Some(Set(("a", 1L), ("b", 2L))), "the replay heals the store")
      crash(s"$root/counts/batch=1")
      assert(counts(store) === Some(Set(("a", 1L), ("b", 2L))))
      store.compact()
      assert(store.compactedThrough() === 0L, "a crashed batch is not folded, so its replay is not skipped")
      assert(counts(store) === Some(Set(("a", 1L), ("b", 2L))))
      store.append(Seq(("a", 3L)).toDF("k", "n"), 1L)
      assert(counts(store) === Some(Set(("a", 4L), ("b", 2L))))
    }
  }

  test("every batch write commits whatever the session's committer conf") {
    val (conf, key) = (spark.sparkContext.hadoopConfiguration, "mapreduce.fileoutputcommitter.marksuccessfuljobs")
    val before = Option(conf.get(key))
    val base = tmp("store-marker")
    val store = new DeltaStore(spark, base, "log", Seq("k"), 16, identity)
    val ingest = new StreamingJsonlIngestJob(spark, s"$base/corpus", s"$base/quarantine", s"$base/stats")
    val landing = Files.createDirectories(Paths.get(base, "landing"))
    Files.write(landing.resolve("shard.jsonl"),
      """{"doc_id": 1, "text": "alpha", "lang": "en", "source": "web", "n_chars": 5}
        |broken {""".stripMargin.getBytes("UTF-8"))
    conf.set(key, "false")
    try {
      store.append(Seq("a").toDF("k"), 0L)
      ingest.processBatch(graft.sources.CorpusIO.readJsonl(spark, landing.toString), 0L)
    } finally before.fold(conf.unset(key))(conf.set(key, _))
    assert(store.readDeltas().map(_.as[String].collect().toSeq) === Some(Seq("a")))
    // the ingest's batch dirs carry the marker its readers count by
    assert(ingest.readCorpus().select("doc_id").as[Long].collect().toSeq === Seq(1L))
    assert(ingest.readQuarantine().as[String].collect().toSeq === Seq("broken {"))
    // and a batch dir whose write crashed is no data to either reader
    uncommittedWrite(s"$base/corpus/batch=1", ingest.readCorpus())
    crashedWrite(s"$base/quarantine/batch=1")
    assert(ingest.readCorpus().count() === 1)
    assert(ingest.readQuarantine().count() === 1)
  }

  /** The dirs the retained manifests of the store at `live` list. */
  private def listed(live: String): Set[String] =
    new java.io.File(live).list().filter(_.startsWith("_manifest.v")).toSet.flatMap { (m: String) =>
      scala.io.Source.fromFile(s"$live/$m", "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t')(1)).toSet
    }

  /** The data dirs in the store at `live` (hidden names excluded). */
  private def dataDirs(live: String): Set[String] =
    new java.io.File(live).listFiles().filter(f => f.isDirectory && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).map(_.getName).toSet

  test("a crash before a store's manifest rename leaves the previous state; the replay applies it once") {
    val root = tmp("store-publish-crash")
    val live = s"$root/counts"
    val store = DeltaStore.additive(spark, root, "counts", Seq("k"), Seq("n"), 16)
    store.append(Seq(("a", 1L)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2L)).toDF("k", "n"), 1L)
    val before = counts(store)
    store.append(Seq(("a", 5L)).toDF("k", "n"), 2L)
    // undo the publishing rename (manifest and checksum): the live dir is
    // then what a crash right before the rename leaves behind
    val attempt = new java.io.File(live).list().find(_.matches("v2-[0-9a-f]+")).get.stripPrefix("v2-")
    Seq("_manifest.v2" -> s"_tmp-manifest-2-$attempt", "._manifest.v2.crc" -> s"._tmp-manifest-2-$attempt.crc")
      .foreach { case (a, b) => Files.move(Paths.get(live, a), Paths.get(live, b)) }
    assert(counts(store) === before, "the previous manifest is the store")
    assert(store.compactedThrough() === 1L && store.batchDirCount() === 2)

    store.append(Seq(("a", 5L)).toDF("k", "n"), 2L)
    val after = Some(Set(("a", 6L), ("b", 2L)))
    assert(counts(store) === after, "the replay applies the batch")
    store.append(Seq(("a", 5L)).toDF("k", "n"), 2L)
    assert(counts(store) === after && store.batchDirCount() === 3, "a second replay is skipped")
    assert(!new java.io.File(live).list().exists(_.startsWith("_tmp-manifest-")))

    // vacuum keeps every dir a retained manifest lists and nothing else
    store.compact()
    assert(store.batchDirCount() === 1 && counts(store) === after)
    assert(!dataDirs(live).contains(s"v2-$attempt"), "the crashed attempt's dir is vacuumed")
    assert(dataDirs(live) === listed(live), "the batch dirs stay while the previous manifest lists them")
    store.append(Seq(("c", 1L)).toDF("k", "n"), 3L)
    assert(dataDirs(live) === listed(live) && dataDirs(live).size === 2, "only the fold and batch 3 are left")
    assert(counts(store) === Some(Set(("a", 6L), ("b", 2L), ("c", 1L))))
  }

  test("a store written before manifests is adopted: rows, compaction and the replay skip carry over") {
    def counts(df: DataFrame) = df.as[(String, Long)].collect().toSet
    // folded through batch 2, then batch 3 appended, then batch 4 crashed
    def oldStore(live: String): Unit = {
      PreManifestLayout.write(live, Seq(0L -> Seq(("a", 1L), ("b", 2L)).toDF("k", "n"),
        3L -> Seq(("a", 10L)).toDF("k", "n")), compactedThrough = Some(2L))
      crashedWrite(s"$live/batch=4")
    }
    val layouts = Seq[(String, String => Unit)](
      "committed batch dirs" -> (root => oldStore(s"$root/counts")),
      "a crash at _pre_compact_<name>" -> (root => oldStore(s"$root/_pre_compact_counts")),
      "a crash at the legacy _pre_compact" -> (root => oldStore(s"$root/_pre_compact")))
    for ((layout, write) <- layouts) withClue(s"$layout: ") {
      val root = tmp("store-adopt")
      write(root)
      val store = DeltaStore.additive(spark, root, "counts", Seq("k"), Seq("n"), 16)
      val state = Set(("a", 11L), ("b", 2L))
      assert(store.state().map(counts) === Some(state))
      assert(Files.isDirectory(Paths.get(root, "counts")) &&
        !Seq("_pre_compact_counts", "_pre_compact").exists(d => Files.exists(Paths.get(root, d))),
        "a displaced store is restored to its live dir")
      assert(store.compactedThrough() === 3L && store.batchDirCount() === 2)
      store.compact()
      assert(store.batchDirCount() === 1 && store.state().map(counts) === Some(state))
      // replays at or below the old marker, and of batch 3, are skipped
      Seq(1L, 2L, 3L).foreach(id => store.append(Seq(("a", 100L)).toDF("k", "n"), id))
      assert(store.state().map(counts) === Some(state))
      store.append(Seq(("c", 1L)).toDF("k", "n"), 4L)
      assert(store.state().map(counts) === Some(state + (("c", 1L))), "the crashed batch 4 applies")
    }
  }

  test("a long log reads every batch without a listing job") {
    val store = DeltaStore.log(spark, tmp("store-log"), "assign", Seq("id"))
    (0L until 40L).foreach(b => store.append(Seq(b).toDF("id"), b))
    val (ids, jobs) = jobsDuring(store.readDeltas().get.as[Long].collect().sorted.toSeq)
    assert(ids === (0L until 40L))
    assert(!jobs.exists(_.startsWith("Listing leaf files")), s"the read launched $jobs")
  }

  /** One fit-once job: the parts of its model and one batch of it. */
  private case class FitOnce(name: String, parts: Seq[String], batch: (String, Int) => Unit)

  private def half(df: DataFrame, key: String, i: Int) = df.filter(pmod(col(key), lit(2)) === i)
  private def embs(i: Int) = half(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), "vec_id", i)

  private val jobs = Seq(
    FitOnce("k-means", Seq("centroids"),
      (dir, i) => new StreamingKMeansAssignJob(spark, dir).processBatch(embs(i), i.toLong)),
    FitOnce("psi", Seq("bounds", "reference"),
      (dir, i) => new StreamingPsiJob(spark, dir).processBatch(half(Tables.events(spark, sfDir), "event_id", i), i.toLong)),
    FitOnce("dsir", Seq("lambda"),
      (dir, i) => new StreamingDsirJob(spark, dir).processBatch(half(Tables.documents(spark, sfDir), "doc_id", i), i.toLong)),
    FitOnce("knn", Seq("centroids"),
      (dir, i) => new StreamingKnnMaintainJob(spark, dir).processBatch(embs(i), i.toLong)),
    FitOnce("ann", Seq("centroids", "codebooks"),
      (dir, i) => new StreamingAnnIngestJob(spark, dir).processBatch(embs(i), i.toLong)))

  private def model(dir: String, part: String) = rows(spark.read.parquet(s"$dir/$part"))

  /** A fresh dir holding each job's state after its batch 0 or 1. */
  private val fitDirs = scala.collection.mutable.Map.empty[(String, Int), String]
  private def fitted(j: FitOnce, i: Int): String = fitDirs.getOrElseUpdate((j.name, i), {
    val dir = tmp(s"fit-${j.name}")
    j.batch(dir, i)
    dir
  })

  for (j <- jobs) {
    test(s"${j.name}: a model part holding only _temporary is refit, not read") {
      val dir = tmp(s"crashed-${j.name}")
      j.parts.foreach(p => crashedWrite(s"$dir/$p"))
      j.batch(dir, 0)
      j.parts.foreach { p =>
        assert(model(dir, p) === model(fitted(j, 0), p), s"$p is the fit of the replayed batch")
        assert(!Files.exists(Paths.get(dir, p, "_temporary")), s"$p was rewritten")
      }
    }

    test(s"${j.name}: a model written by a plain parquet write is adopted unchanged, not refit") {
      assert(j.parts.exists(p => model(fitted(j, 0), p) != model(fitted(j, 1), p)),
        "fixture: batches 0 and 1 fit different models")
      val dir = tmp(s"adopted-${j.name}")
      j.parts.foreach(p => spark.read.parquet(s"${fitted(j, 0)}/$p").write.parquet(s"$dir/$p"))
      j.batch(dir, 1)
      j.parts.foreach(p => assert(model(dir, p) === model(fitted(j, 0), p), s"keeps the $p it found"))
    }
  }
}

/** A store as builds before manifests wrote it: `batch=<id>` dirs that
  * count once their `_SUCCESS` exists and, after a compaction folded
  * every batch up to `compactedThrough` into `batch=0`, a
  * `_compacted_through` marker.
  */
object PreManifestLayout {
  def write(live: String, batches: Seq[(Long, DataFrame)], compactedThrough: Option[Long] = None): Unit = {
    batches.foreach { case (id, rows) =>
      rows.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true").parquet(s"$live/batch=$id")
    }
    compactedThrough.foreach(m => Files.write(Paths.get(live, "_compacted_through"), s"$m\n".getBytes("UTF-8")))
  }
}
