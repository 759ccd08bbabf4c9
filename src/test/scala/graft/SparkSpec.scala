package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM, forked by sbt). */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with the session conf `key` set to `value`, then restore
    * the conf as it was.
    */
  def withConf[T](key: String, value: String)(f: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `f` with `spark.sql.files.openCostInBytes` at one byte, so every
    * [[graft.cdc.ParquetUpsertSink]] state it writes keeps `numBuckets`
    * buckets: for cases whose point needs a multi-bucket layout.
    */
  def withFullBuckets[T](f: => T): T = withConf("spark.sql.files.openCostInBytes", "1")(f)

  /** Descriptions of the Spark jobs launched on this thread while `f`
    * runs. A marker job afterwards flushes the listener queue.
    */
  def jobsDuring[T](f: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(p => (p.getProperty("spark.jobGroup.id"), p)) match {
          case Some((`group`, p)) => jobs.add(String.valueOf(p.getProperty("spark.job.description")))
          case Some((g, _)) if g == s"$group-end" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = f
      sc.setJobGroup(s"$group-end", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener queue did not drain")
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
