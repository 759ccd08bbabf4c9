package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** The maintained aggregate ([[AggMaintain]]) must equal a from-scratch
  * recompute of the grouped aggregate AT EVERY EPOCH — the defining
  * invariant of incremental view maintenance. Deltas are exact integer
  * cents, so equality is bit-equality, not tolerance.
  */
class AggMaintainSpec extends AnyFunSuite with SparkSpec {

  private val keyCols = Seq("user_id")
  private val grp = "last_event_type"
  private val value = "last_value"

  private def aggMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => Option(r.get(r.fieldIndex("grp"))).map(_.toString).getOrElse("∅") ->
      (r.getLong(r.fieldIndex("n_rows")), r.getLong(r.fieldIndex("sum_cents")))).toMap

  test("maintained == recomputed at every epoch over random tranche boundaries (seeded)") {
    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val bounds = ch.agg(min("ts_ms"), max("ts_ms")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 2) {
      val cuts = (lo +: Seq.fill(rnd.nextInt(3) + 2)(
        lo + math.abs(rnd.nextLong()) % math.max(hi - lo, 1L)).sorted :+ (hi + 1))
      val tranches = cuts.zip(cuts.tail).filter(c => c._1 < c._2)
      var state = CdcOps.latestState(
        ch.filter(col("ts_ms") >= tranches.head._1 && col("ts_ms") < tranches.head._2),
        keyCols, CdcOps.userDataCols).drop("n_changes").localCheckpoint(true)
      var agg = AggMaintain.groupAgg(state, grp, value).localCheckpoint(true)
      tranches.tail.zipWithIndex.foreach { case ((a, b), i) =>
        val batch = ch.filter(col("ts_ms") >= a && col("ts_ms") < b)
        agg = AggMaintain.applyDelta(agg,
          AggMaintain.epochDelta(state, batch, keyCols, grp, value)).localCheckpoint(true)
        state = CdcOps.mergeChangeSet(state, batch, keyCols, CdcOps.userDataCols)
          .localCheckpoint(true)
        assert(aggMap(agg) === aggMap(AggMaintain.groupAgg(state, grp, value)),
          s"trial $trial epoch ${i + 1}: maintained aggregate diverged from recompute")
      }
    }
    ch.unpersist()
  }

  test("delete, re-insert and group moves maintain exactly (hand-built epochs)") {
    import spark.implicits._
    def changes(rows: (Long, String, Long, Long, String, Double)*) =
      rows.toDF("user_id", "op", "ts_ms", "seq", grp, value)
    // epoch 1: three keys in two groups
    val e1 = changes((1L, "c", 10L, 1L, "a", 1.0), (2L, "c", 11L, 2L, "a", 2.0),
      (3L, "c", 12L, 3L, "b", 3.0))
    // epoch 2: delete key 2; move key 3 from group b to a (empties b);
    // key 4 created AND deleted within the epoch (must net to nothing)
    val e2 = changes((2L, "d", 20L, 4L, "x", 0.0), (3L, "u", 21L, 5L, "a", 3.5),
      (4L, "c", 22L, 6L, "c", 9.0), (4L, "d", 23L, 7L, "c", 9.0))
    // epoch 3: re-insert deleted key 2 into a NEW group; update key 1 in place
    val e3 = changes((2L, "c", 30L, 8L, "b", 4.25), (1L, "u", 31L, 9L, "a", 1.75))
    var state = CdcOps.latestState(e1, keyCols, Seq(grp, value)).drop("n_changes")
    var agg = AggMaintain.groupAgg(state, grp, value)
    Seq(e2, e3).zipWithIndex.foreach { case (batch, i) =>
      agg = AggMaintain.applyDelta(agg,
        AggMaintain.epochDelta(state, batch, keyCols, grp, value))
      state = CdcOps.mergeChangeSet(state, batch, keyCols, Seq(grp, value))
      assert(aggMap(agg) === aggMap(AggMaintain.groupAgg(state, grp, value)),
        s"epoch ${i + 2}: maintained diverged")
    }
    // final state: keys 1(a,1.75), 2(b,4.25), 3(a,3.5) — group b was
    // emptied in epoch 2 and must have REAPPEARED via the re-insert,
    // group c (created+deleted intra-epoch) must never appear
    assert(aggMap(agg) === Map("a" -> ((2L, 525L)), "b" -> ((1L, 425L))))
  }

  test("a null-keyed row retracts like any other key (null-safe before-image join)") {
    import spark.implicits._
    // latestState groups null keys into a real state row, so the delta
    // join must match it null-safely — a plain equi-join would emit
    // +after with no retraction and inflate the old group forever
    def changes(rows: (Option[Long], String, Long, Long, String, Double)*) =
      rows.toDF("user_id", "op", "ts_ms", "seq", grp, value)
    val e1 = changes((None, "c", 10L, 1L, "a", 2.0), (Some(1L), "c", 11L, 2L, "a", 1.0))
    val e2 = changes((None, "u", 20L, 3L, "b", 3.0)) // null key MOVES group
    var state = CdcOps.latestState(e1, keyCols, Seq(grp, value)).drop("n_changes")
    var agg = AggMaintain.groupAgg(state, grp, value)
    agg = AggMaintain.applyDelta(agg,
      AggMaintain.epochDelta(state, e2, keyCols, grp, value))
    state = CdcOps.mergeChangeSet(state, e2, keyCols, Seq(grp, value))
    assert(aggMap(agg) === aggMap(AggMaintain.groupAgg(state, grp, value)),
      "maintained diverged on the null-keyed update")
    assert(aggMap(agg) === Map("a" -> ((1L, 100L)), "b" -> ((1L, 300L))),
      "group a must have retracted the null key's old image")
  }

  test("support-count DISTINCT: shared buckets collapse and revive exactly (hand-built epochs)") {
    import spark.implicits._
    def gv = struct(col(grp).as("g"), floor(col(value)).cast("long").as("v"))
    def changes(rows: (Long, String, Long, Long, String, Double)*) =
      rows.toDF("user_id", "op", "ts_ms", "seq", grp, value)
    def distinctMap(support: org.apache.spark.sql.DataFrame): Map[String, Long] =
      support.filter(col("grp.v").isNotNull)
        .groupBy(col("grp.g").as("g")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // u1 and u2 SHARE bucket 5 in group a; u3 holds bucket 7
    val e1 = changes((1L, "c", 10L, 1L, "a", 5.2), (2L, "c", 11L, 2L, "a", 5.7),
      (3L, "c", 12L, 3L, "a", 7.0))
    // u1 leaves bucket 5 (still supported by u2 — distinct must NOT
    // drop) into new bucket 9; u3 deleted (bucket 7's last supporter)
    val e2 = changes((1L, "u", 20L, 4L, "a", 9.1), (3L, "d", 21L, 5L, "a", 7.0))
    // u2 moves to group b (a loses bucket 5); u4 lands on a's existing
    // bucket 9 (support 2, distinct unchanged)
    val e3 = changes((2L, "u", 30L, 6L, "b", 5.7), (4L, "c", 31L, 7L, "a", 9.9))
    var state = CdcOps.latestState(e1, keyCols, Seq(grp, value)).drop("n_changes")
    var support = AggMaintain.groupAgg(state.withColumn("gv", gv), "gv", value)
    val expected = Seq(Map("a" -> 2L), Map("a" -> 2L), Map("a" -> 1L, "b" -> 1L))
    assert(distinctMap(support) === expected.head)
    Seq(e2, e3).zipWithIndex.foreach { case (batch, i) =>
      support = AggMaintain.applyDelta(support, AggMaintain.epochDelta(
        state.withColumn("gv", gv), batch.withColumn("gv", gv), keyCols, "gv", value))
      state = CdcOps.mergeChangeSet(state, batch, keyCols, Seq(grp, value))
      assert(distinctMap(support) === expected(i + 1), s"epoch ${i + 2}: wrong distinct view")
      assert(aggMap(support) ===
        aggMap(AggMaintain.groupAgg(state.withColumn("gv", gv), "gv", value)),
        s"epoch ${i + 2}: support table diverged from recompute")
    }
  }

  test("distinctMaintain driver face equals COUNT(DISTINCT) recomputed from full latest state") {
    val maintained = AggMaintain.distinctMaintain(spark, sfDir)
    val state = CdcOps.latestState(CdcOps.userChangelog(spark, sfDir), keyCols,
      CdcOps.userDataCols)
    val recomputed = state.groupBy(col(grp))
      .agg(countDistinct(floor(col(value)).cast("long")).as("n_value_levels"))
      .orderBy(grp)
    assert(maintained.collect().toSeq === recomputed.collect().toSeq)
  }

  test("maintained aggregate tracks ParquetUpsertSink epochs (incl. deletes)") { withFullBuckets {
      // the production shape: each committed sink epoch contributes one
      // delta, computed from the PRE-epoch committed state + the batch —
      // maintained equals groupAgg(readStateAt(e)) at every retained epoch
      val dir = java.nio.file.Files.createTempDirectory("agg-maintain-sink").toString
      val sink = new ParquetUpsertSink(spark, dir, keyCols, numBuckets = 4,
        retainEpochs = 10)
      val ch = CdcOps.userChangelog(spark, sfDir)
      val bounds = ch.agg(min("ts_ms"), max("ts_ms")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val step = math.max((hi - lo) / 3, 1L)
      val batches = (0 until 3).map { i =>
        val a = lo + i * step
        val b = if (i == 2) hi + 1 else lo + (i + 1) * step
        ch.filter(col("ts_ms") >= a && col("ts_ms") < b)
      }
      sink.merge(batches.head, 0L)
      var agg = AggMaintain.groupAgg(sink.readState(), grp, value).localCheckpoint(true)
      batches.tail.zipWithIndex.foreach { case (batch, i) =>
        val pre = sink.readState()
        sink.merge(batch, i + 1L)
        agg = AggMaintain.applyDelta(agg,
          AggMaintain.epochDelta(pre, batch, keyCols, grp, value)).localCheckpoint(true)
        assert(aggMap(agg) ===
          aggMap(AggMaintain.groupAgg(sink.readStateAt(i + 1L), grp, value)),
          s"sink epoch ${i + 1}: maintained diverged from committed state")
      }
  }}

  test("min/max/median survive extremum retraction (hand-built epochs)") {
    import spark.implicits._
    // the case plain min/max maintenance cannot do: delete the row
    // HOLDING the group max — the maintained view must fall back to
    // the next value, because the support relation still has it
    def gv = struct(col(grp).as("g"),
      floor(col(value) * 100d + 0.5d).cast("long").as("v"))
    def changes(rows: (Long, String, Long, Long, String, Double)*) =
      rows.toDF("user_id", "op", "ts_ms", "seq", grp, value)
    def extremaMap(support: org.apache.spark.sql.DataFrame): Map[String, (Double, Double, Double)] =
      AggMaintain.readExtrema(support).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // group a: {1.00, 2.00, 9.00} → min 1, max 9, median 2
    val e1 = changes((1L, "c", 10L, 1L, "a", 1.0), (2L, "c", 11L, 2L, "a", 2.0),
      (3L, "c", 12L, 3L, "a", 9.0))
    // delete the max holder; min holder moves UP past the survivor →
    // {2.00, 5.00}: min 2, max 5, median(⌈2/2⌉=1st) 2
    val e2 = changes((3L, "d", 20L, 4L, "a", 9.0), (1L, "u", 21L, 5L, "a", 5.0))
    // re-insert a new global max and a new global min in one epoch →
    // {0.50, 2.00, 5.00, 7.25}: min 0.5, max 7.25, median(2nd) 2
    val e3 = changes((3L, "c", 30L, 6L, "a", 7.25), (4L, "c", 31L, 7L, "a", 0.5))
    val expected = Seq(
      Map("a" -> ((1.0, 9.0, 2.0))),
      Map("a" -> ((2.0, 5.0, 2.0))),
      Map("a" -> ((0.5, 7.25, 2.0))))
    var state = CdcOps.latestState(e1, keyCols, Seq(grp, value)).drop("n_changes")
    var support = AggMaintain.groupAgg(state.withColumn("gv", gv), "gv", value)
    assert(extremaMap(support) === expected.head)
    Seq(e2, e3).zipWithIndex.foreach { case (batch, i) =>
      support = AggMaintain.applyDelta(support, AggMaintain.epochDelta(
        state.withColumn("gv", gv), batch.withColumn("gv", gv), keyCols, "gv", value))
      state = CdcOps.mergeChangeSet(state, batch, keyCols, Seq(grp, value))
      assert(extremaMap(support) === expected(i + 1),
        s"epoch ${i + 2}: wrong maintained extrema")
      assert(extremaMap(support) ===
        extremaMap(AggMaintain.groupAgg(state.withColumn("gv", gv), "gv", value)),
        s"epoch ${i + 2}: maintained support diverged from recompute")
    }
  }

  test("minmaxMaintain driver face equals extrema recomputed from full latest state") {
    val maintained = AggMaintain.minmaxMaintain(spark, sfDir)
    val state = CdcOps.latestState(CdcOps.userChangelog(spark, sfDir), keyCols,
      CdcOps.userDataCols)
    val freshSupport = AggMaintain.groupAgg(
      state.withColumn("gv", struct(col(grp).as("g"),
        floor(col(value) * 100d + 0.5d).cast("long").as("v"))), "gv", value)
    assert(maintained.collect().toSeq ===
      AggMaintain.readExtrema(freshSupport).collect().toSeq)
  }

  test("top-k leaderboard survives leader retraction and promotes the runner-up") {
    import spark.implicits._
    // the top-k face of the extremum-retraction case: delete the SOLE
    // holder of the #1 value level — the maintained leaderboard must
    // promote the runner-up, with ties collapsing into one level
    def gv = struct(col(grp).as("g"),
      floor(col(value) * 100d + 0.5d).cast("long").as("v"))
    def changes(rows: (Long, String, Long, Long, String, Double)*) =
      rows.toDF("user_id", "op", "ts_ms", "seq", grp, value)
    def board(support: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double, Long)] =
      AggMaintain.readTopK(support, 3).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // levels: 9.00 (u3 alone), 5.00 (u1, u2 — one level, 2 holders), 1.00 (u4)
    val e1 = changes((1L, "c", 10L, 1L, "a", 5.0), (2L, "c", 11L, 2L, "a", 5.0),
      (3L, "c", 12L, 3L, "a", 9.0), (4L, "c", 13L, 4L, "a", 1.0))
    // delete the sole #1 holder → 5.00 promotes to rank 1 (2 holders)
    val e2 = changes((3L, "d", 20L, 5L, "a", 9.0))
    // one 5.00 holder moves to a NEW top level → ranks reshuffle again
    val e3 = changes((1L, "u", 30L, 6L, "a", 12.0))
    val expected = Seq(
      Seq(("a", 1L, 9.0, 1L), ("a", 2L, 5.0, 2L), ("a", 3L, 1.0, 1L)),
      Seq(("a", 1L, 5.0, 2L), ("a", 2L, 1.0, 1L)),
      Seq(("a", 1L, 12.0, 1L), ("a", 2L, 5.0, 1L), ("a", 3L, 1.0, 1L)))
    var state = CdcOps.latestState(e1, keyCols, Seq(grp, value)).drop("n_changes")
    var support = AggMaintain.groupAgg(state.withColumn("gv", gv), "gv", value)
    assert(board(support) === expected.head)
    Seq(e2, e3).zipWithIndex.foreach { case (batch, i) =>
      support = AggMaintain.applyDelta(support, AggMaintain.epochDelta(
        state.withColumn("gv", gv), batch.withColumn("gv", gv), keyCols, "gv", value))
      state = CdcOps.mergeChangeSet(state, batch, keyCols, Seq(grp, value))
      assert(board(support) === expected(i + 1),
        s"epoch ${i + 2}: wrong maintained leaderboard")
    }
  }

  test("topkMaintain driver face equals leaderboard recomputed from full latest state") {
    val maintained = AggMaintain.topkMaintain(spark, sfDir)
    val state = CdcOps.latestState(CdcOps.userChangelog(spark, sfDir), keyCols,
      CdcOps.userDataCols)
    val freshSupport = AggMaintain.groupAgg(
      state.withColumn("gv", struct(col(grp).as("g"),
        floor(col(value) * 100d + 0.5d).cast("long").as("v"))), "gv", value)
    assert(maintained.collect().toSeq ===
      AggMaintain.readTopK(freshSupport, 3).collect().toSeq)
  }
}
