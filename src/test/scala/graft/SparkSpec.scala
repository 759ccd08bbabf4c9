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
