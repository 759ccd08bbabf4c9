package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.GraftListenerBusBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._
import graft.sources.MicroBatch
import graft.streaming.StreamMetrics

/** [[MicroBatch]]'s stream session: one per caller session, in line
  * with the caller at every start, and never writing the caller's conf.
  */
class MicroBatchSpec extends AnyFunSuite with SparkSpec {

  test("20 CDC starts from one session add at most one streaming listener bus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-buses").toString
    // the caller's own bus is built on the first touch of its streams
    spark.streams.listListeners()
    val before = GraftListenerBusBridge.streamingBuses(spark.sparkContext)
    val conf = spark.conf.getAll
    (1 to 20).foreach { n =>
      val memory = MemoryStream[(String, String)]
      new CdcStreamJob(spark, CdcJobConfig(MemorySource(memory.toDF().toDF("key", "value")),
        s"$tmp/ckpt$n", s"$tmp/state$n", Seq("user_id"), CdcQueries.userPkSchema,
        CdcQueries.userRowSchema, 8)).execute(Trigger.ProcessingTime(0L)).stop()
    }
    assert(GraftListenerBusBridge.streamingBuses(spark.sparkContext) - before <= 1)
    assert(spark.conf.getAll === conf)
  }

  test("each start carries the caller's current conf and listeners") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-sync").toString
    val key = "graft.spec.streamProbe"
    val seen = mutable.Map.empty[Int, Option[String]]

    /** One query over one row; returns the probe its batch saw. */
    def once(n: Int): Option[String] = {
      val memory = MemoryStream[Int]
      memory.addData(n)
      val before = spark.conf.getAll
      val q = MicroBatch.start(memory.toDF(), s"$tmp/ckpt$n", Trigger.ProcessingTime(0L)) {
        (batch: DataFrame, _: Long) =>
          batch.count() // a batch that is never read reports 0 input rows
          seen.synchronized { seen(n) = batch.sparkSession.conf.getOption(key) }
      }
      try q.processAllAvailable() finally q.stop()
      assert(spark.conf.getAll === before, s"start $n wrote the caller's conf")
      seen.synchronized(seen(n))
    }

    assert(spark.conf.getOption(key).isEmpty)
    assert(once(1) === None)
    val metrics = new StreamMetrics().attach(spark)
    spark.conf.set(key, "two")
    try {
      assert(once(2) === Some("two"), "a conf set between starts must reach the second query")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!metrics.snapshot().exists(_.numInputRows > 0) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metrics.snapshot().exists(_.numInputRows > 0),
        "a listener attached after the first start must see the second query")
    } finally {
      metrics.detach(spark)
      spark.conf.unset(key)
    }
    assert(once(3) === None, "a conf unset on the caller must leave the stream session too")
  }
}
