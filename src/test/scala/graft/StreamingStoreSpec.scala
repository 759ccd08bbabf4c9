package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** What the streaming jobs count as written: a crashed Spark write
  * leaves its dir holding only `_temporary`, which is neither a store's
  * data nor a fit-once model, while a dir committed by a plain parquet
  * write is both.
  */
class StreamingStoreSpec extends AnyFunSuite with SparkSpec {

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

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a crashed append is no data: readDeltas, state and compaction skip it until its replay") {
    import spark.implicits._
    val root = tmp("store-crash")
    val store = DeltaStore.additive(spark, root, "counts", Seq("k"), Seq("n"), 16)
    def state = store.state().map(_.as[(String, Long)].collect().toSet)
    crashedWrite(s"$root/counts/batch=0")
    assert(store.readDeltas().isEmpty && state.isEmpty, "a crashed first append reads as an empty store")
    store.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), 0L)
    assert(state === Some(Set(("a", 1L), ("b", 2L))), "the replay heals the store")
    crashedWrite(s"$root/counts/batch=1")
    assert(state === Some(Set(("a", 1L), ("b", 2L))))
    store.compact()
    assert(store.compactedThrough() === 0L, "a crashed batch is not folded, so its replay is not skipped")
    store.append(Seq(("a", 3L)).toDF("k", "n"), 1L)
    assert(state === Some(Set(("a", 4L), ("b", 2L))))
  }

  test("a store append writes the _SUCCESS marker it commits by, whatever the session's committer conf") {
    import spark.implicits._
    val (conf, key) = (spark.sparkContext.hadoopConfiguration, "mapreduce.fileoutputcommitter.marksuccessfuljobs")
    val before = Option(conf.get(key))
    val store = new DeltaStore(spark, tmp("store-marker"), "log", Seq("k"), 16, identity)
    conf.set(key, "false")
    try store.append(Seq("a").toDF("k"), 0L)
    finally before.fold(conf.unset(key))(conf.set(key, _))
    assert(store.readDeltas().map(_.as[String].collect().toSeq) === Some(Seq("a")))
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
