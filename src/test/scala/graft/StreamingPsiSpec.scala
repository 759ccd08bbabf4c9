package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Analytics
import graft.streaming.StreamingPsiJob

/** The continuous PSI monitor: bootstrap fixes the reference, the fold
  * equals a literal recompute, zero drift reads as zero PSI.
  */
class StreamingPsiSpec extends AnyFunSuite with SparkSpec {

  private def events = Tables.events(spark, sfDir)

  private def tranches(n: Int): Seq[DataFrame] = {
    val ids = events.agg(max("event_id")).head.getLong(0) + 1
    (0 until n).map(i => events.filter(
      col("event_id") >= i * ids / n && col("event_id") < (i + 1) * ids / n))
  }

  test("psi is exactly zero right after bootstrap") {
    val dir = java.nio.file.Files.createTempDirectory("spsi-z").toString
    val job = new StreamingPsiJob(spark, dir)
    job.processBatch(tranches(3).head, 0L)
    job.readPsi().collect().foreach { r =>
      assert(r.getAs[Double]("psi") === 0.0,
        s"${r.getAs[String]("event_type")}: reference vs itself must be 0")
    }
  }

  test("maintained psi equals a literal recompute against the reference") {
    val dir = java.nio.file.Files.createTempDirectory("spsi").toString
    val job = new StreamingPsiJob(spark, dir)
    val cuts = tranches(3)
    cuts.zipWithIndex.foreach { case (cut, i) => job.processBatch(cut, i.toLong) }
    // literal recompute: reference = tranche-0 bucket counts against its
    // own decile bounds; current = all three tranches
    val bounds = job.readBounds().get.collect()
      .map(r => r.getString(0) -> (1 to 9).map(i => r.getAs[Double](s"b$i"))).toMap
    def bucket(t: String, v: Double): Int =
      bounds(t).indexWhere(v <= _) match { case -1 => 10; case i => i + 1 }
    val all = events.select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val ids = all.map(_._1).max + 1
    val refRows = all.filter(_._1 < ids / 3)
    val got = job.readPsi().collect().map(r => r.getString(0) -> r).toMap
    all.groupBy(_._2).foreach { case (t, rows) =>
      val a = (1 to 10).map(k => refRows.filter(_._2 == t).count(e => bucket(t, e._3) == k).toLong)
      val b = (1 to 10).map(k => rows.count(e => bucket(t, e._3) == k).toLong)
      val (na, nb) = (a.sum, b.sum)
      val psi = (0 until 10).map { k =>
        val p = (a(k) + 0.5) / (na + 5); val q = (b(k) + 0.5) / (nb + 5)
        (p - q) * math.log(p / q)
      }.sum
      val r = got(t)
      assert(r.getAs[Long]("n_first") === na, s"$t ref mass")
      assert(r.getAs[Long]("n_second") === nb, s"$t stream mass")
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-3, s"$t psi")
    }
  }

  test("replay across compaction is a no-op and bounds stay immutable") {
    val dir = java.nio.file.Files.createTempDirectory("spsi-rp").toString
    val job = new StreamingPsiJob(spark, dir, compactEvery = 2)
    val cuts = tranches(3)
    cuts.zipWithIndex.foreach { case (cut, i) => job.processBatch(cut, i.toLong) }
    val bounds = job.readBounds().get.collect().map(_.toSeq.toList).toList
    val before = job.readPsi().collect().map(_.toSeq.toList).toList
    cuts.zipWithIndex.foreach { case (cut, i) => job.processBatch(cut, i.toLong) }
    assert(job.readPsi().collect().map(_.toSeq.toList).toList === before)
    assert(job.readBounds().get.collect().map(_.toSeq.toList).toList === bounds)
  }

  test("empty batches never bootstrap; empty state reads as empty psi") {
    val dir = java.nio.file.Files.createTempDirectory("spsi-e").toString
    val job = new StreamingPsiJob(spark, dir)
    job.processBatch(events.limit(0), 0L)
    assert(job.readBounds().isEmpty, "an empty batch must not fit the reference")
    assert(job.readPsi().count() === 0)
  }

  test("a crash between the bounds and the reference write refits both on the replay") {
    def psi(job: StreamingPsiJob) = job.readPsi().collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val cuts = tranches(3)
    val healthy = new StreamingPsiJob(spark, java.nio.file.Files.createTempDirectory("spsi-ok").toString)
    cuts.zipWithIndex.foreach { case (cut, i) => healthy.processBatch(cut, i.toLong) }
    // batch 0 committed its bounds, then died before writing the reference
    val dir = java.nio.file.Files.createTempDirectory("spsi-crash").toString
    Analytics.psiBounds(cuts.head.select(col("event_type"), col("value"))).write.parquet(s"$dir/bounds")
    val job = new StreamingPsiJob(spark, dir)
    cuts.zipWithIndex.foreach { case (cut, i) => job.processBatch(cut, i.toLong) }
    assert(job.readPsi().collect().forall(_.getAs[Long]("n_first") > 0), "the reference was written")
    assert(psi(job) === psi(healthy))
  }
}
