package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

class CdcSpec extends AnyFunSuite with SparkSpec {

  test("debezium envelope roundtrip is lossless") {
    val ch = CdcOps.userChangelog(spark, sfDir)
    val parsed = CdcQueries.parseEnvelope(spark, sfDir)
    assert(parsed.count() === ch.count())
    // ops survive
    val opCounts = parsed.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = ch.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(opCounts === expected)
    // deletes have null after-image fields
    assert(parsed.filter(col("op") === "d" && col("last_event_type").isNotNull).count() === 0)
  }

  test("mergeChangeSet(first half, second half) == latestState(all)") {
    val df = CdcQueries.mergeBatch(spark, sfDir)
    val all = CdcOps.latestState(CdcOps.userChangelog(spark, sfDir), Seq("user_id"), CdcOps.userDataCols)
      .withColumn("last_value", round(col("last_value"), 2))
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    assert(df.select("user_id", "last_event_type", "last_value", "last_ts_ms")
      .exceptAll(all).count() === 0)
    assert(all.exceptAll(df.select("user_id", "last_event_type", "last_value", "last_ts_ms"))
      .count() === 0)
  }

  test("mergeChangeSet folds over random tranche boundaries to the same state (seeded)") {
    // associativity under ANY batching: folding merge over 3-6 random
    // time tranches must equal one-shot latestState — the property that
    // makes micro-batch size/alignment semantically irrelevant for the
    // continuous upsert path (a batch boundary can land anywhere,
    // including mid-millisecond between same-ms changes)
    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val bounds = ch.agg(min("ts_ms"), max("ts_ms")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val expected = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
      .drop("n_changes")
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    val rnd = new scala.util.Random(42L)
    for (trial <- 1 to 3) {
      val cuts = (lo +: Seq.fill(rnd.nextInt(4) + 2)(
        lo + math.abs(rnd.nextLong()) % math.max(hi - lo, 1L)).sorted :+ (hi + 1))
      val tranches = cuts.zip(cuts.tail).filter(c => c._1 < c._2)
      val first = CdcOps.latestState(
        ch.filter(col("ts_ms") >= tranches.head._1 && col("ts_ms") < tranches.head._2),
        Seq("user_id"), CdcOps.userDataCols).drop("n_changes")
      val folded = tranches.tail.foldLeft(first) { case (state, (a, b)) =>
        CdcOps.mergeChangeSet(state,
          ch.filter(col("ts_ms") >= a && col("ts_ms") < b),
          Seq("user_id"), CdcOps.userDataCols)
      }.select("user_id", "last_event_type", "last_value", "last_ts_ms")
      assert(folded.exceptAll(expected).count() === 0,
        s"trial $trial (${tranches.size} tranches): folded minus one-shot")
      assert(expected.exceptAll(folded).count() === 0,
        s"trial $trial (${tranches.size} tranches): one-shot minus folded")
    }
    ch.unpersist()
  }

  test("mergeChangeSet: an update that nulls a column wins (no resurrection)") {
    import spark.implicits._
    val base = Seq((1L, "signup", 1.0, 10L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
    val changes = Seq((1L, "u", 20L, 2L, Option.empty[String], 2.0))
      .toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value")
    val merged = CdcOps.mergeChangeSet(base, changes, Seq("user_id"),
      Seq("last_event_type", "last_value"))
    val row = merged.collect().head
    assert(row.isNullAt(row.fieldIndex("last_event_type")),
      "a legitimate NULL in the latest after-image must not resurrect the old value")
    assert(row.getDouble(row.fieldIndex("last_value")) === 2.0)
    assert(row.getLong(row.fieldIndex("last_ts_ms")) === 20L)
  }

  test("latestState drops deleted keys") {
    val ch = CdcOps.userChangelog(spark, sfDir)
    val state = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
    // a user whose very last change is 'd' must be absent
    val lastOps = ch.groupBy("user_id")
      .agg(max_by(col("op"), struct(col("ts_ms"), col("seq"))).as("last_op"))
    val deleted = lastOps.filter(col("last_op") === "d").select("user_id")
    assert(state.join(deleted, Seq("user_id"), "inner").count() === 0)
  }

  test("scd2History: versions tile each key's timeline and currents equal latestState") {
    val ch = CdcOps.userChangelog(spark, sfDir)
    val hist = CdcOps.scd2History(ch, Seq("user_id"), CdcOps.userDataCols).cache()

    // one version per non-delete change
    assert(hist.count() === ch.filter(col("op") =!= "d").count())

    // the open (valid_to IS NULL) slice is exactly latestState
    val currents = hist.filter(col("valid_to").isNull)
      .select("user_id", "last_event_type", "last_value")
    val state = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value")
    assert(currents.exceptAll(state).count() === 0)
    assert(state.exceptAll(currents).count() === 0)

    // within a key: valid_from non-decreasing, each closed version ends
    // at or before the next version starts (a gap appears when a delete
    // closed the version), and only the last version may be open
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version_no")
    val chained = hist
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
    assert(chained.filter(col("valid_to").isNotNull && col("valid_to") < col("valid_from"))
      .count() === 0, "a version must not close before it opens")
    assert(chained.filter(col("next_from").isNotNull &&
        (col("valid_to").isNull || col("valid_to") > col("next_from")))
      .count() === 0, "non-final versions must close at or before the next version opens")

    // a key whose last change is a delete has no current version
    val deleted = ch.groupBy("user_id")
      .agg(max_by(col("op"), struct(col("ts_ms"), col("seq"))).as("last_op"))
      .filter(col("last_op") === "d").select("user_id")
    assert(hist.filter(col("valid_to").isNull)
      .join(deleted, Seq("user_id"), "inner").count() === 0)
    hist.unpersist()
  }

  test("gap audit flags exactly the keys with skipped sequence numbers") {
    import spark.implicits._
    val ch = Seq(
      // user 1: 1,2,5 → one gap of width 2 after seq 2
      (1L, "c", 100L, 1L), (1L, "u", 200L, 2L), (1L, "u", 300L, 5L),
      // user 2: contiguous → clean
      (2L, "c", 100L, 3L), (2L, "u", 200L, 4L),
      // user 3: 10,14,15,20 → gaps of 3 and 4, first after seq 10
      (3L, "c", 100L, 10L), (3L, "u", 200L, 14L), (3L, "u", 300L, 15L), (3L, "u", 400L, 20L))
      .toDF("user_id", "op", "ts_ms", "seq")
    val audit = CdcQueries.gapAudit(ch).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit.keySet === Set(1L, 3L), "clean keys must not be flagged")
    assert(audit(1L) === ((1L, 2L, 2L)))
    assert(audit(3L) === ((2L, 4L, 10L)))
  }

  test("streaming CDC upsert through ParquetUpsertSink equals batch latestState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val ch = CdcOps.userChangelog(spark, sfDir)
      .orderBy("ts_ms", "seq")
      .collect()

    val stream = MemoryStream[(Long, String, Long, Long, String, Double)]
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 8)
    val sdf = stream.toDF().toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value")
    val q = sdf.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sink.merge(b, id) }
      .start()

    // feed in three micro-batches (split roughly in thirds)
    val rows = ch.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4), r.getDouble(5)))
    rows.grouped(math.max(rows.length / 3, 1)).foreach { g =>
      stream.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = sink.readState().select("user_id", "last_event_type", "last_value", "last_ts_ms")
    val batch = CdcOps.latestState(CdcOps.userChangelog(spark, sfDir), Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    assert(streamed.exceptAll(batch).count() === 0, "streamed minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus streamed")
  }

  test("JdbcStateSink builds the reference-compatible writer options") {
    val sink = new JdbcStateSink(JdbcConfig(
      url = "jdbc:postgresql://localhost:5432/inventory",
      user = "test", password = "Test123", tableName = "orders_it"))
    val opts = sink.writerOptions
    assert(opts("url") === "jdbc:postgresql://localhost:5432/inventory")
    assert(opts("dbtable") === "orders_it")
    assert(opts("truncate") === "true", "DDL-preserving overwrite expected")
    assert(opts("batchsize").toInt > 0)
  }

  test("JdbcStateSink round-trips CDC state through a real embedded database") {
    // The reference IT's end assertion (StreamingIT.scala:40-56: read the
    // upserted table back through a live JDBC connection and compare),
    // finally real: Derby ships in /opt/spark/jars, so publish into an
    // embedded in-memory database and read back via spark.read.jdbc.
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft-derby").toString)
    val url = "jdbc:derby:memory:graftit;create=true"
    val sink = new JdbcStateSink(JdbcConfig(
      url = url, user = "test", password = "Test123", tableName = "user_state"))
    val state = CdcOps.latestState(
        CdcOps.userChangelog(spark, sfDir), Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
      .localCheckpoint(true)

    sink.publish(state)
    // same credentials as the writer: Derby's default schema is the
    // connecting user, so the published table lives under TEST
    def readBack(): org.apache.spark.sql.DataFrame = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "user_state")
      .option("user", "test").option("password", "Test123").load()
      .select(col("user_id").cast("long"), col("last_event_type"),
        col("last_value"), col("last_ts_ms").cast("long"))
    val got = readBack()
    assert(got.count() === state.count(), "published row count")
    assert(got.exceptAll(state).count() === 0 && state.exceptAll(got).count() === 0,
      "JDBC read-back must equal the published state row-for-row")

    // second epoch: republish a FILTERED serving projection — the
    // truncate-overwrite path a per-batch publisher exercises
    val mart = state.filter(col("last_event_type") =!= "delete")
    sink.publish(mart)
    val got2 = readBack()
    assert(got2.exceptAll(mart).count() === 0 && mart.exceptAll(got2).count() === 0,
      "republish must replace, not append")

    // PARTITIONED read-back — the parallel-read face the serving-mart
    // story implies (a BI engine range-splitting the published table):
    // key-range predicates per partition must tile the table exactly
    val bounds = mart.agg(min("user_id"), max("user_id")).head
    val gotPart = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "user_state")
      .option("user", "test").option("password", "Test123")
      .option("partitionColumn", "user_id")
      .option("lowerBound", bounds.getLong(0).toString)
      .option("upperBound", bounds.getLong(1).toString)
      .option("numPartitions", "4").load()
      .select(col("user_id").cast("long"), col("last_event_type"),
        col("last_value"), col("last_ts_ms").cast("long"))
    assert(gotPart.rdd.getNumPartitions === 4, "range split must fan out")
    assert(gotPart.exceptAll(mart).count() === 0 && mart.exceptAll(gotPart).count() === 0,
      "partitioned JDBC read must tile the table without loss or overlap")
  }

  test("Delta-layout export is a spec-compliant single-version table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val state = CdcOps.latestState(
        CdcOps.userChangelog(spark, sfDir), Seq("user_id"), CdcOps.userDataCols)
      .localCheckpoint(true)
    val nFiles = graft.cdc.DeltaExport.write(state, s"$tmp/tbl")

    val logDir = new java.io.File(s"$tmp/tbl/_delta_log")
    // hidden .crc sidecars are the local Hadoop FS's, not the table's
    assert(logDir.listFiles().map(_.getName).filterNot(_.startsWith("."))
      .toSeq === Seq("0" * 20 + ".json"), "exactly one version-0 commit")
    val actions = spark.read.json(s"$tmp/tbl/_delta_log/" + "0" * 20 + ".json")
    // protocol action: reader/writer versions an external reader accepts
    val proto = actions.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion").collect()
    assert(proto.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    // metaData action: the schemaString round-trips to the state schema
    val meta = actions.filter(col("metaData").isNotNull)
      .select("metaData.schemaString", "metaData.format.provider").collect()
    assert(meta.length === 1 && meta.head.getString(1) === "parquet")
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.head.getString(0))
    assert(schema === state.schema, "schemaString must equal the exported schema")
    // add actions: every listed file exists with the logged size, and
    // reading EXACTLY those files reproduces the state row-for-row
    val adds = actions.filter(col("add").isNotNull)
      .select("add.path", "add.size").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(adds.length === nFiles && nFiles > 0)
    adds.foreach { case (p, sz) =>
      val f = new java.io.File(s"$tmp/tbl/$p")
      assert(f.isFile && f.length() === sz, s"add action drifted from disk: $p") }
    val readBack = spark.read.schema(state.schema)
      .parquet(adds.map { case (p, _) => s"$tmp/tbl/$p" }: _*)
    assert(readBack.exceptAll(state).count() === 0
        && state.exceptAll(readBack).count() === 0,
      "the add-listed files must reproduce the snapshot exactly")
  }

  test("Avro envelope round-trips and matches the JSON path row-for-row") {
    val ch = CdcOps.userChangelog(spark, sfDir).localCheckpoint(true)
    val after = when(col("op") =!= "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val before = when(col("op") === "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))

    val decoded = AvroEnvelope.decode(
      AvroEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
        after, before, "users", lsnCol = col("seq")),
      CdcQueries.userPkSchema, CdcQueries.userRowSchema).localCheckpoint(true)
    val parsed = DebeziumEnvelope.parse(
      DebeziumEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
        after, before, "users", lsnCol = col("seq")),
      CdcQueries.userPkSchema, CdcQueries.userRowSchema).localCheckpoint(true)
    assert(decoded.count() === ch.count(), "one decoded row per change")
    assert(decoded.exceptAll(parsed).count() === 0
        && parsed.exceptAll(decoded).count() === 0,
      "Avro and JSON wire formats must yield the identical typed change frame")

    // Confluent wire framing (magic + schema id) strips symmetrically
    val framed = AvroEnvelope.decode(
      AvroEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
        after, before, "users", lsnCol = col("seq"), confluentFraming = true),
      CdcQueries.userPkSchema, CdcQueries.userRowSchema, confluentFraming = true)
    assert(framed.exceptAll(decoded).count() === 0
        && decoded.exceptAll(framed).count() === 0,
      "framing must be transparent to the decoded frame")
  }

  test("cdc_avro_roundtrip: the framed wire roundtrip folds to the exact latest state") {
    val viaAvro = CdcQueries.avroRoundtrip(spark, sfDir)
    val direct = CdcQueries.latestState(spark, sfDir)
    assert(viaAvro.schema === direct.schema,
      "roundtrip entry must keep the latest-state contract schema")
    assert(viaAvro.exceptAll(direct).count() === 0
        && direct.exceptAll(viaAvro).count() === 0,
      "encode→decode→fold must be an identity on the keyed state")
    assert(viaAvro.count() > 0)
  }

  test("recorded Confluent wire bytes decode under both framing flags (no generator in the loop)") {
    import spark.implicits._
    // Hand-encoded per the Avro 1.12 binary spec + the Confluent wire
    // format (magic 0x00 + 4-byte schema id, here 42), recorded as hex
    // literals so the decoder is tested against INDEPENDENT bytes —
    // not against its own encoder. Key record {user_id: 7}; value
    // envelope {before: null, after: (7, "signup", 1.5),
    // source: (2.5/graft/graftserver/1000/inventory/users/lsn 1/pos
    // null), op: "c", ts_ms: 1000}. Unions are zigzag-varint branch
    // indexes; longs zigzag; doubles little-endian IEEE; strings
    // length-prefixed UTF-8.
    val keyBody = "020E"
    val valueBody =
      "00" +                                   // before -> null (branch 0)
      "02" + "020E" +                          // after  -> Row: user_id 7
        "020C" + "7369676E7570" +              //   last_event_type "signup"
        "02" + "000000000000F83F" +            //   last_value 1.5
      "02" +                                   // source -> Source
        "0206" + "322E35" +                    //   version "2.5"
        "020A" + "6772616674" +                //   connector "graft"
        "0216" + "6772616674736572766572" +    //   name "graftserver"
        "02D00F" +                             //   ts_ms 1000
        "0212" + "696E76656E746F7279" +        //   db "inventory"
        "020A" + "7573657273" +                //   table "users"
        "0202" +                               //   lsn 1
        "00" +                                 //   pos null
      "0202" + "63" +                          // op "c"
      "02D00F"                                 // ts_ms 1000
    val header = "000000002A"
    def bytes(hx: String): Array[Byte] =
      hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def decodeOne(k: String, v: String, framing: Boolean) =
      AvroEnvelope.decode(Seq((bytes(k), bytes(v))).toDF("key", "value"),
        CdcQueries.userPkSchema, CdcQueries.userRowSchema,
        confluentFraming = framing).collect().head
    val framed = decodeOne(header + keyBody, header + valueBody, framing = true)
    val plain = decodeOne(keyBody, valueBody, framing = false)
    Seq(framed, plain).foreach { r =>
      assert(r.getLong(0) === 7L && r.getString(1) === "c" && r.getLong(2) === 1000L)
      assert(r.isNullAt(3), "before must decode null")
      val after = r.getStruct(4)
      assert(after.getLong(0) === 7L && after.getString(1) === "signup"
        && after.getDouble(2) === 1.5)
      assert(r.getString(5) === "users" && r.getLong(6) === 1L)
    }
    assert(framed.toSeq === plain.toSeq,
      "the 5-byte registry header must be the ONLY wire difference")
  }

  test("Avro decode survives Debezium tombstones (null value) and null keys") {
    val ch = CdcOps.userChangelog(spark, sfDir).limit(4).localCheckpoint(true)
    val after = when(col("op") =!= "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val before = when(col("op") === "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val wire = AvroEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
      after, before, "users", lsnCol = col("seq")).localCheckpoint(true)
    // compacted-topic reality: a tombstone (key, null) follows every
    // delete, and exotic routing can null a key — neither may crash
    val withTombs = wire
      .unionAll(wire.limit(2).select(col("key"), lit(null).cast("binary").as("value")))
      .unionAll(wire.limit(1).select(lit(null).cast("binary").as("key"), col("value")))
    val decoded = AvroEnvelope.decode(withTombs,
      CdcQueries.userPkSchema, CdcQueries.userRowSchema).localCheckpoint(true)
    assert(decoded.count() === wire.count() + 3, "every record decodes to a row")
    val tombs = decoded.filter(col("op").isNull)
    assert(tombs.count() === 2, "tombstones surface as null-op rows")
    assert(tombs.filter(col("user_id").isNull || col("after").isNotNull
        || col("before").isNotNull).count() === 0,
      "a tombstone keeps its key and nothing else")
    assert(decoded.filter(col("user_id").isNull).count() === 1,
      "a null key decodes to null pk fields, value intact")
    // the op IS NOT NULL filter recovers exactly the real changelog
    assert(decoded.filter(col("op").isNotNull && col("user_id").isNotNull).count()
      === wire.count(), "filtering tombstones recovers the changelog")
  }

  test("CdcStreamJob end-to-end survives a restart from checkpoint") {
    import org.apache.spark.sql.streaming.Trigger

    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-restart").toString
    val srcDir = s"$tmp/stream-in"

    // Real (colliding) ts_ms; the envelope carries the unique event_id
    // as source.lsn, so the streaming path's (ts_ms, seq) order is total
    // through the same-millisecond tiebreak — matching the batch
    // comparator's (ts_ms, event_id) order.
    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val after = when(col("op") =!= "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val before = when(col("op") === "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val encoded = DebeziumEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
      after, before, "users", lsnCol = col("seq")).cache()

    val n = encoded.count()
    val splitId = ch.orderBy("seq").limit((n / 2).toInt)
      .agg(max("seq")).head().getLong(0)
    val config = CdcJobConfig(
      source = FileSource(srcDir),
      checkpointLocation = s"$tmp/ckpt",
      statePath = s"$tmp/state",
      keyCols = Seq("user_id"),
      pkSchema = CdcQueries.userPkSchema,
      rowSchema = CdcQueries.userRowSchema,
      numBuckets = 8)

    // tranche 1 → run to completion → query stops (AvailableNow)
    encoded.join(ch.filter(col("seq") <= splitId).select("seq"),
      expr(s"get_json_object(value, '$$.payload.source.lsn') = seq")).drop("seq")
      .write.mode("append").json(srcDir)
    val q1 = new CdcStreamJob(spark, config).execute(Trigger.AvailableNow())
    q1.awaitTermination()

    // tranche 2 lands while the job is down; a NEW job instance resumes
    // from the checkpoint and must not re-merge tranche 1
    encoded.join(ch.filter(col("seq") > splitId).select("seq"),
      expr(s"get_json_object(value, '$$.payload.source.lsn') = seq")).drop("seq")
      .write.mode("append").json(srcDir)
    val q2 = new CdcStreamJob(spark, config).execute(Trigger.AvailableNow())
    q2.awaitTermination()

    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 8)
    val streamed = sink.readState()
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    val batch = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    assert(streamed.exceptAll(batch).count() === 0, "restarted stream minus batch")
    assert(batch.exceptAll(streamed).count() === 0, "batch minus restarted stream")
    ch.unpersist(); encoded.unpersist()
  }

  test("multi-table routing: one stream fans N tables to their own state dirs, replay-idempotent") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-multi").toString
    val srcDir = s"$tmp/stream-in"

    // table 1: the real user changelog (collision-grade ts_ms, deletes)
    val usersCh = CdcOps.userChangelog(spark, sfDir).cache()
    val uAfter = when(col("op") =!= "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val uBefore = when(col("op") === "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    DebeziumEnvelope.encode(usersCh, Seq("user_id"), col("op"), col("ts_ms"),
      uAfter, uBefore, "users", lsnCol = col("seq"))
      .write.mode("append").json(srcDir)

    // table 2: a DIFFERENT schema — update chains, a delete, a survivor
    val ordersCh = Seq(
      (1001L, "c", 100L, 1L, "new", 10.0), (1001L, "u", 200L, 2L, "paid", 10.0),
      (1002L, "c", 150L, 3L, "new", 5.0), (1002L, "d", 250L, 4L, "new", 5.0),
      (1003L, "c", 300L, 5L, "new", 7.5), (1001L, "u", 350L, 6L, "shipped", 10.0))
      .toDF("order_id", "op", "ts_ms", "seq", "status", "amount")
    val oAfter = when(col("op") =!= "d",
      struct(col("order_id"), col("status"), col("amount"))).otherwise(lit(null))
    val oBefore = when(col("op") === "d",
      struct(col("order_id"), col("status"), col("amount"))).otherwise(lit(null))
    DebeziumEnvelope.encode(ordersCh, Seq("order_id"), col("op"), col("ts_ms"),
      oAfter, oBefore, "orders", lsnCol = col("seq"))
      .write.mode("append").json(srcDir)

    val ordersPk = StructType(Seq(StructField("order_id", LongType)))
    val ordersRow = StructType(Seq(StructField("order_id", LongType),
      StructField("status", StringType), StructField("amount", DoubleType)))
    val routes = Seq(
      TableRoute("users", s"$tmp/state-users", Seq("user_id"),
        CdcQueries.userPkSchema, CdcQueries.userRowSchema, numBuckets = 8),
      TableRoute("orders", s"$tmp/state-orders", Seq("order_id"),
        ordersPk, ordersRow, numBuckets = 4))

    def runOnce(ckpt: String): Unit = {
      val q = new CdcMultiTableStreamJob(spark, FileSource(srcDir), ckpt, routes)
        .execute(Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce(s"$tmp/ckpt1")

    // each table's exported snapshot == its own batch latestState
    def assertTable(statePath: String, expected: org.apache.spark.sql.DataFrame,
                    cols: Seq[String], label: String): Unit = {
      val sink = new ParquetUpsertSink(spark, statePath,
        routes.find(r => statePath.endsWith(r.statePath.split('/').last)).get.keyCols)
      val export = s"$statePath-export"
      sink.exportSnapshot(export)
      val got = spark.read.parquet(export).select(cols.map(col): _*)
      assert(got.exceptAll(expected).count() === 0, s"$label: snapshot minus expected")
      assert(expected.exceptAll(got).count() === 0, s"$label: expected minus snapshot")
    }
    val usersCols = Seq("user_id", "last_event_type", "last_value", "last_ts_ms")
    val usersExpected = CdcOps.latestState(usersCh, Seq("user_id"), CdcOps.userDataCols)
      .select(usersCols.map(col): _*)
    val ordersCols = Seq("order_id", "status", "amount", "last_ts_ms")
    val ordersExpected = CdcOps.latestState(ordersCh, Seq("order_id"), Seq("status", "amount"))
      .select(ordersCols.map(col): _*)
    assertTable(s"$tmp/state-users", usersExpected, usersCols, "users (first run)")
    assertTable(s"$tmp/state-orders", ordersExpected, ordersCols, "orders (first run)")

    // at-least-once replay: a FRESH checkpoint re-merges every envelope
    // into the SAME state dirs — latest-image reapplication must leave
    // both tables' content unchanged
    runOnce(s"$tmp/ckpt2")
    assertTable(s"$tmp/state-users", usersExpected, usersCols, "users (replay)")
    assertTable(s"$tmp/state-orders", ordersExpected, ordersCols, "orders (replay)")
    usersCh.unpersist()
  }

  /** Debezium envelopes of user changelog rows, lsn = seq. */
  private def userEnvelopes(ch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val image = struct(col("user_id"), col("last_event_type"), col("last_value"))
    DebeziumEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
      when(col("op") =!= "d", image), when(col("op") === "d", image), "users", lsnCol = col("seq"))
  }

  /** The checkpoint file managers behind a running query's offset log
    * and its file sources' logs.
    */
  private def logManagers(q: org.apache.spark.sql.streaming.StreamingQuery): Map[String, AnyRef] = {
    import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
    import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSource, StreamingQueryWrapper}
    def manager(log: AnyRef): AnyRef = classOf[HDFSMetadataLog[_]].getMethod("fileManager").invoke(log)
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val sourceLog = classOf[FileStreamSource].getDeclaredFields
      .find(f => classOf[HDFSMetadataLog[_]].isAssignableFrom(f.getType)).get
    sourceLog.setAccessible(true)
    val fileSources = exec.getClass.getMethod("sources").invoke(exec).asInstanceOf[Seq[AnyRef]]
      .collect { case f: FileStreamSource => f }
    Map("offsets" -> manager(exec.offsetLog)) ++
      fileSources.zipWithIndex.map { case (f, i) => s"sources/$i" -> manager(sourceLog.get(f)) }
  }

  test("every CDC job starts in a stream session: caller conf untouched, offset log through LocalFs") {
    import graft.sources.{LocalFs, LocalFsCheckpointFileManager}
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-session").toString
    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val envelopes = userEnvelopes(ch).cache()
    val expected = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    envelopes.write.json(s"$tmp/in")
    def config(source: CdcSource, name: String) = CdcJobConfig(source, s"$tmp/ckpt-$name",
      s"$tmp/state-$name", Seq("user_id"), CdcQueries.userPkSchema, CdcQueries.userRowSchema, 8)

    /** Run `start` until its input is consumed; check the caller's conf
      * and the managers of the offset log and any file source's log
      * while it runs.
      */
    def run(label: String)(start: => StreamingQuery): Unit = {
      val before = spark.conf.getAll
      val q = start
      try {
        q.processAllAvailable()
        assert(spark.conf.getAll === before, s"$label wrote the caller's conf")
        logManagers(q).foreach {
          case (log, m: LocalFsCheckpointFileManager) => m.underlying match {
            case l: LocalFsCheckpointFileManager.Local =>
              assert(l.fileSystem.getClass === classOf[LocalFs], s"$label $log")
            case other => fail(s"$label: a file: $log under ${other.getClass}")
          }
          case (log, other) => fail(s"$label: $log under ${other.getClass}")
        }
      } finally q.stop()
      assert(spark.conf.getAll === before, s"$label wrote the caller's conf")
    }

    // a memory source of the caller's session is rebound into the
    // stream session; a listener on the caller's session still sees
    // the query's progress
    val metrics = new graft.streaming.StreamMetrics().attach(spark)
    val memory = MemoryStream[(String, String)]
    memory.addData(envelopes.select("key", "value").as[(String, String)].collect().toSeq)
    try {
      run("CdcStreamJob")(new CdcStreamJob(spark,
        config(MemorySource(memory.toDF().toDF("key", "value")), "single"))
        .execute(Trigger.ProcessingTime(0L)))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!metrics.snapshot().exists(_.numInputRows > 0) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metrics.snapshot().exists(_.numInputRows > 0), "no progress reached the caller's listener")
    } finally metrics.detach(spark)
    val state = new ParquetUpsertSink(spark, s"$tmp/state-single", Seq("user_id"), 8).readState()
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    assert(state.exceptAll(expected).count() === 0 && expected.exceptAll(state).count() === 0)

    run("CdcMultiTableStreamJob")(new CdcMultiTableStreamJob(spark, FileSource(s"$tmp/in"),
      s"$tmp/ckpt-multi", Seq(TableRoute("users", s"$tmp/state-multi", Seq("user_id"),
        CdcQueries.userPkSchema, CdcQueries.userRowSchema, 8)))
      .execute(Trigger.ProcessingTime(0L)))
    run("CdcInitialLoadJob")(new CdcInitialLoadJob(spark, config(FileSource(s"$tmp/in"), "initial"))
      .execute(Trigger.ProcessingTime(0L)))

    // the graft.streaming jobs start the same way: a job over a memory
    // stream of the caller's session, and the JSONL ingest, whose file
    // source is read on the caller's session and logs through LocalFs
    val events = Tables.events(spark, sfDir).select("event_type", "ts")
    val eventStream = MemoryStream[(String, java.sql.Timestamp)]
    eventStream.addData(events.as[(String, java.sql.Timestamp)].collect().toSeq)
    val counts = new graft.streaming.StreamingDailyCountsJob(spark, s"$tmp/state-daily")
    run("StreamingDailyCountsJob")(counts.start(eventStream.toDF().toDF("event_type", "ts"),
      s"$tmp/ckpt-daily", Trigger.ProcessingTime(0L)))
    assert(counts.readDaily().get.agg(sum("n_events")).head().getLong(0) === events.count())
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/landing"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/landing/a.jsonl"),
      """{"doc_id": 1, "text": "alpha", "lang": "en", "source": "web", "n_chars": 5}""".getBytes("UTF-8"))
    val ingest = new graft.streaming.StreamingJsonlIngestJob(spark,
      s"$tmp/corpus", s"$tmp/quarantine", s"$tmp/ingest-stats")
    run("StreamingJsonlIngestJob")(ingest.start(s"$tmp/landing", s"$tmp/ckpt-jsonl",
      Trigger.ProcessingTime(0L)))
    assert(ingest.readCorpus().count() === 1)
    assert(spark.conf.getOption(LocalFsCheckpointFileManager.ConfKey).isEmpty)
    ch.unpersist(); envelopes.unpersist()
  }

  test("a checkpoint moves between Spark's default manager and the stream session, both ways") {
    import graft.sources.LocalFsCheckpointFileManager
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-compat").toString
    val srcDir = s"$tmp/in"
    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val Array(lo, hi) = ch.agg(min("seq"), max("seq")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    val bounds = Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi)
    val config = CdcJobConfig(FileSource(srcDir), s"$tmp/ckpt", s"$tmp/state", Seq("user_id"),
      CdcQueries.userPkSchema, CdcQueries.userRowSchema, 8)
    val sink = new ParquetUpsertSink(spark, config.statePath, Seq("user_id"), 8)

    /** The job's own query, started in the caller's session: Spark's
      * default checkpoint manager.
      */
    def defaultManagerRun(): Unit = {
      assert(spark.conf.getOption(LocalFsCheckpointFileManager.ConfKey).isEmpty)
      val job = new CdcStreamJob(spark, config)
      job.parsed().writeStream
        .outputMode("update")
        .option("checkpointLocation", config.checkpointLocation)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.merge(job.flattenAfterImage(b), id)
        }
        .start().awaitTermination()
    }
    def streamSessionRun(): Unit =
      new CdcStreamJob(spark, config).execute(Trigger.AvailableNow()).awaitTermination()
    def logged(log: String): Seq[String] =
      new java.io.File(s"${config.checkpointLocation}/$log").list().filterNot(_.startsWith(".")).sorted.toSeq

    var from = Long.MinValue
    Seq[() => Unit](() => defaultManagerRun(), () => streamSessionRun(), () => defaultManagerRun())
      .zip(bounds).zipWithIndex.foreach { case ((run, bound), n) =>
        userEnvelopes(ch.filter(col("seq") > from && col("seq") <= bound))
          .write.mode("append").json(srcDir)
        from = bound
        run()
        // nothing replayed: one batch, and one epoch, per tranche
        val ids = (0 to n).map(_.toString)
        assert(logged("offsets") === ids && logged("commits") === ids, s"tranche $n")
        assert(sink.retainedEpochs().last === n.toLong, s"tranche $n")
        val expected = CdcOps.latestState(ch.filter(col("seq") <= bound), Seq("user_id"),
          CdcOps.userDataCols).select("user_id", "last_event_type", "last_value", "last_ts_ms")
        val state = sink.readState().select("user_id", "last_event_type", "last_value", "last_ts_ms")
        assert(state.exceptAll(expected).count() === 0 && expected.exceptAll(state).count() === 0,
          s"state after tranche $n")
      }
    ch.unpersist()

    // the same moves for a graft.streaming job, over a file source of
    // the caller's session
    val events = Tables.events(spark, sfDir).select("event_id", "event_type", "ts").cache()
    val evDir = s"$tmp/events"
    val evCkpt = s"$tmp/ckpt-daily"
    val counts = new graft.streaming.StreamingDailyCountsJob(spark, s"$tmp/state-daily")
    val eventStream = () => spark.readStream.schema(events.schema).parquet(evDir)
    def dailyDefaultRun(): Unit =
      eventStream().writeStream
        .option("checkpointLocation", evCkpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => counts.processBatch(b, id) }
        .start().awaitTermination()
    def dailyStreamSessionRun(): Unit =
      counts.start(eventStream(), evCkpt, Trigger.AvailableNow()).awaitTermination()
    val maxId = events.agg(max("event_id")).head().getLong(0)
    var fromId = -1L
    Seq[() => Unit](() => dailyDefaultRun(), () => dailyStreamSessionRun(), () => dailyDefaultRun())
      .zipWithIndex.foreach { case (run, n) =>
        val bound = maxId * (n + 1) / 3
        events.filter(col("event_id") > fromId && col("event_id") <= bound)
          .write.mode("append").parquet(evDir)
        fromId = bound
        run()
        val ids = (0 to n).map(_.toString)
        def logged(log: String): Seq[String] =
          new java.io.File(s"$evCkpt/$log").list().filterNot(_.startsWith(".")).sorted.toSeq
        assert(logged("offsets") === ids && logged("commits") === ids, s"daily counts, tranche $n")
        val expected = events.filter(col("event_id") <= bound)
          .groupBy(col("event_type"), to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_events"))
        val state = counts.readDaily().get.select("event_type", "day", "n_events")
        assert(state.exceptAll(expected).count() === 0 && expected.exceptAll(state).count() === 0,
          s"daily counts after tranche $n")
      }
    events.unpersist()
  }

  test("the LocalFs checkpoint manager: an overwrite replaces a file, a plain create refuses it") {
    import org.apache.hadoop.fs.Path
    import graft.sources.LocalFsCheckpointFileManager
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-atomic").toString
    val mgr = new LocalFsCheckpointFileManager(new Path(tmp), spark.sparkContext.hadoopConfiguration)
    val f = new Path(tmp, "log/0")
    def write(s: String, overwrite: Boolean): Unit = {
      val out = mgr.createAtomic(f, overwriteIfPossible = overwrite)
      out.write(s.getBytes("UTF-8"))
      out.close()
    }
    // read through the manager: a stale .crc would fail the read
    def read(): String = {
      val in = mgr.open(f)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write("one", overwrite = false)
    assert(read() === "one")
    write("two", overwrite = true)
    assert(read() === "two", "an overwrite must replace the file, not keep the old one")
    intercept[java.io.IOException](write("three", overwrite = false))
    assert(read() === "two", "a plain create must not replace the file")
    // the refused create's temp file and its checksum are gone too
    assert(new java.io.File(tmp, "log").list().sorted.toSeq === Seq(".0.crc", "0"),
      "one log file and its checksum, under their own names")
  }

  test("ingest -> exportSnapshot -> analytics equals the same analytics over latestState") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame

    // the reference's full contract is "CDC ingestion -> queryable
    // table": not just that the exported state ROWS match, but that a
    // downstream consumer running real analytics over the exported
    // parquet gets exactly what it would get over the engine's own
    // latest-state. Prove it end-to-end: file-source changelog ->
    // streaming merge -> exportSnapshot -> aggregate + window queries
    // over the export, vs the same queries over the batch derivation.
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-analytics").toString
    val srcDir = s"$tmp/stream-in"

    val ch = CdcOps.userChangelog(spark, sfDir).cache()
    val after = when(col("op") =!= "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    val before = when(col("op") === "d",
      struct(col("user_id"), col("last_event_type"), col("last_value"))).otherwise(lit(null))
    DebeziumEnvelope.encode(ch, Seq("user_id"), col("op"), col("ts_ms"),
      after, before, "users", lsnCol = col("seq"))
      .write.mode("append").json(srcDir)

    val config = CdcJobConfig(
      source = FileSource(srcDir),
      checkpointLocation = s"$tmp/ckpt",
      statePath = s"$tmp/state",
      keyCols = Seq("user_id"),
      pkSchema = CdcQueries.userPkSchema,
      rowSchema = CdcQueries.userRowSchema,
      numBuckets = 8)
    new CdcStreamJob(spark, config).execute(Trigger.AvailableNow()).awaitTermination()

    new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 8)
      .exportSnapshot(s"$tmp/snapshot")

    // q1-style pricing summary and top-customers-style ranking, as
    // functions of whichever state table they are pointed at
    def pricingSummary(state: DataFrame): DataFrame = state
      .groupBy("last_event_type")
      .agg(count(lit(1)).as("n_users"),
        round(sum("last_value"), 2).as("total_value"),
        round(avg("last_value"), 4).as("avg_value"))
      .orderBy("last_event_type")
    def topUsers(state: DataFrame): DataFrame = {
      val w = Window.partitionBy("last_event_type")
        .orderBy(col("last_value").desc, col("user_id"))
      state.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("last_event_type", "rk", "user_id", "last_value")
    }

    // the consumer's view: plain parquet read of the export, no sink
    val exported = spark.read.parquet(s"$tmp/snapshot")
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    val batchState = CdcOps.latestState(ch, Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")

    for ((q, name) <- Seq(
        (pricingSummary _, "pricing summary"), (topUsers _, "top users"))) {
      val overExport = q(exported)
      val overState = q(batchState)
      assert(overExport.exceptAll(overState).count() === 0, s"$name: export minus state")
      assert(overState.exceptAll(overExport).count() === 0, s"$name: state minus export")
    }
    ch.unpersist()
  }

  test("Kafka reader options mirror the reference's surface") {
    val opts = CdcStreamJob.kafkaOptions(KafkaReaderConfig(
      kafkaBootstrapServers = "broker:9092",
      topics = "graftserver.inventory.users",
      startingOffsets = "earliest"))
    assert(CdcStreamJob.KafkaFormat === "kafka")
    assert(opts("kafka.bootstrap.servers") === "broker:9092")
    assert(opts("subscribe") === "graftserver.inventory.users")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("failOnDataLoss") === "false", "reference sets failOnDataLoss=false")
  }

  private def batchDf(rows: Seq[(Long, String, Long, Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value")
  }

  test("a crash between version write and manifest commit is invisible") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-atomic").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0),
                           (2L, "c", 10L, 2L, "signup", 2.0))), 0)   // epoch 0
    sink.merge(batchDf(Seq((1L, "u", 20L, 3L, "click", 1.5))), 1)    // epoch 1

    // Simulate a merge that crashed after writing its version directory
    // but before the manifest rename: epoch 2 data exists, uncommitted.
    Seq((9999L, "phantom", 0.0, 99L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
      .write.parquet(s"$tmp/state/v2/bucket=0")
    val afterCrash = sink.readState()
    assert(afterCrash.filter(col("user_id") === 9999).count() === 0,
      "uncommitted version data must be invisible")
    assert(afterCrash.filter(col("user_id") === 1 && col("last_event_type") === "click")
      .count() === 1, "committed state survives the crash")

    // The replayed/next merge takes epoch 2, overwrites the orphan, commits.
    sink.merge(batchDf(Seq((3L, "c", 30L, 4L, "signup", 3.0))), 2)   // epoch 2
    val recovered = sink.readState()
    assert(recovered.filter(col("user_id") === 9999).count() === 0)
    assert(recovered.count() === 3)
    assert(recovered.filter(col("user_id") === 3).count() === 1)
  }

  test("a crashed attempt's staging manifest is never read and is gone after the next commit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-staged").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0))), 0)   // epoch 0
    // a crashed epoch-1 attempt left its phantom data and its staged
    // manifest; so did an older build, which staged at a shared name
    Seq((9999L, "phantom", 0.0, 99L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
      .write.parquet(s"$tmp/state/v1-deadbeef/bucket=0")
    val staged = Seq("_tmp-manifest-1-deadbeef", "_tmp-manifest-0").map(n => new java.io.File(s"$tmp/state/$n"))
    staged.foreach(f => java.nio.file.Files.write(f.toPath,
      "0\tv1-deadbeef/bucket=0\n".getBytes("UTF-8")))
    assert(sink.retainedEpochs() === Seq(0L))
    assert(sink.readState().filter(col("user_id") === 9999).count() === 0)

    sink.merge(batchDf(Seq((2L, "c", 20L, 2L, "signup", 2.0))), 1)   // epoch 1
    assert(sink.retainedEpochs() === Seq(0L, 1L))
    assert(sink.readState().filter(col("user_id") === 9999).count() === 0)
    assert(sink.readState().count() === 2)
    assert(staged.forall(!_.exists), "stale staging manifests of older epochs are vacuumed")
    assert(!new java.io.File(s"$tmp/state").list().exists(_.contains("_tmp-manifest-")),
      "the commit's own staging manifest was renamed away")
  }

  test("a racing writer at an already-published epoch fails before touching state") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-race").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0))), 0)   // epoch 0 published
    val before = sink.readState().collect().toSet

    // a second writer that read the pre-epoch-0 state and lost the race
    // would attempt epoch 0 again — the guard must reject it BEFORE any
    // file is written, leaving the published state untouched
    val phantom = Seq((999L, "phantom", 9.9, 99L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
    val ex = intercept[IllegalStateException] {
      sink.commit(0L, Map.empty, Seq(0), phantom.withColumn("bucket", lit(0)))
    }
    assert(ex.getMessage.contains("already committed"))
    assert(sink.readState().collect().toSet === before, "state must be untouched")
    assert(sink.readState().filter(col("user_id") === 999).count() === 0)
  }

  test("two sinks racing one epoch: exactly one manifest publishes, the loser writes no file") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-race2").toString
    val statePath = s"$tmp/state"
    val a = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 4)
    val b = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 4)
    a.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0))), 0)      // epoch 0
    // deterministic interleaving: B publishes epoch 1 while A still
    // holds a plan computed against epoch 0
    b.merge(batchDf(Seq((2L, "c", 20L, 2L, "signup", 2.0))), 1)      // epoch 1 wins
    def listing(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
      walk(new java.io.File(statePath)).toSet
    }
    val winnerFiles = listing()
    val winnerState = b.readState().collect().toSet
    val phantom = Seq((999L, "phantom", 9.9, 99L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
    val ex = intercept[IllegalStateException] {
      a.commit(1L, Map.empty, Seq(0), phantom.withColumn("bucket", lit(0)))                        // loser
    }
    assert(ex.getMessage.contains("already committed"))
    assert(listing() === winnerFiles,
      "the loser must fail before creating ANY file — not even a staging dir")
    assert(a.readState().collect().toSet === winnerState,
      "both handles read the winner's state afterwards")
  }

  test("a replayed stream batch is a no-op: one epoch per batch, epoch n is the state after batch n") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"),
      numBuckets = 4, retainEpochs = 8)
    val stream = MemoryStream[(Long, String, Long, Long, String, Double)]
    val sdf = stream.toDF().toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value")
    // at-least-once delivery made explicit: every batch arrives twice
    val q = sdf.writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.merge(b, id); sink.merge(b, id)
      }
      .start()
    val batches = Seq(
      Seq((1L, "c", 10L, 1L, "signup", 1.0), (2L, "c", 10L, 2L, "signup", 2.0)),
      Seq((1L, "u", 20L, 3L, "click", 1.5)),
      Seq((2L, "d", 30L, 4L, "signup", 2.0), (3L, "c", 30L, 5L, "signup", 3.0)),
      Seq((3L, "u", 40L, 6L, "purchase", 3.5)))
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()

    val cols = Seq("user_id", "last_event_type", "last_value", "last_ts_ms").map(col)
    assert(sink.retainedEpochs() === batches.indices.map(_.toLong), "one epoch per batch")
    batches.indices.foreach { n =>
      val expected = CdcOps.latestState(batchDf(batches.take(n + 1).flatten), Seq("user_id"),
        CdcOps.userDataCols).select(cols: _*).collect().toSet
      assert(sink.readStateAt(n).select(cols: _*).collect().toSet === expected,
        s"epoch $n must be the state after batch $n")
    }
    assert(layoutAt(s"$tmp/state", 0).buckets === 4 && layoutAt(s"$tmp/state", 1).buckets === 1,
      "the replayed batches cross a re-layout")
    val newest = new java.io.File(s"$tmp/state/_manifest.v${batches.size - 1}")
    val lines = scala.io.Source.fromFile(newest, "UTF-8").getLines().toList
    assert(lines.contains(s"#txn\t${q.id}\t${batches.size - 1}"))

    // a manifest line this reader does not know is skipped
    java.nio.file.Files.write(newest.toPath,
      (lines :+ "#future\tsome\tfields").mkString("", "\n", "\n").getBytes("UTF-8"))
    new java.io.File(newest.getParent, s".${newest.getName}.crc").delete()
    assert(sink.readState().count() === 2)

    // a direct call carries no query id, so it always commits
    sink.merge(batchDf(Seq((4L, "c", 50L, 7L, "signup", 4.0))), 0)
    assert(sink.retainedEpochs().last === batches.size.toLong)
    assert(sink.readState().count() === 3)
  }

  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** The keyed diff of two frames keyed by their leading long column,
    * rendered as [[ParquetUpsertSink.changesBetween]]'s rows print: key,
    * change, after-image (nulls for a removed key).
    */
  private def keyedDiff(beforeDf: DataFrame, afterDf: DataFrame): Set[String] = {
    def byKey(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val (before, after) = (byKey(beforeDf), byKey(afterDf))
    val nulls = Seq.fill(afterDf.schema.size - 1)(null)
    (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a)) => Some((k +: "added" +: a).mkString("[", ",", "]"))
        case (Some(_), None) => Some((k +: "removed" +: nulls).mkString("[", ",", "]"))
        case (Some(b), Some(a)) if a != b => Some((k +: "changed" +: a).mkString("[", ",", "]"))
        case _ => None
      }
    }
  }

  test("state reads come from the manifest: no listing job, rows of a plain parquet read") { withFullBuckets {
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.types.{DataType, StructType}
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-index").toString
      val statePath = s"$tmp/state"
      val buckets = 64
      val sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = buckets)

      /** (data dirs by bucket, schema) of epoch e, parsed from its manifest. */
      def manifest(e: Long): (Map[Int, String], StructType) = {
        val lines = scala.io.Source.fromFile(s"$statePath/_manifest.v$e", "UTF-8").getLines().toList
        val schema = DataType.fromJson(lines.find(_.startsWith("#schema\t")).get
          .stripPrefix("#schema\t")).asInstanceOf[StructType]
        (lines.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(b, d) = l.split('\t'); b.toInt -> s"$statePath/$d"
        }.toMap, schema)
      }
      def plain(dirs: Iterable[String], schema: StructType): DataFrame =
        spark.read.schema(schema).parquet(dirs.toSeq.sorted: _*)
      def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
      def bucketsOf(batch: DataFrame): Set[Int] =
        batch.select(pmod(hash(col("user_id")), lit(buckets))).collect().map(_.getInt(0)).toSet

      /** Every read at epoch e (after `batch` committed it) builds its
        * frame without a Spark job and returns a plain read's rows.
        */
      def checkReads(e: Long, batch: DataFrame): Unit = {
        val (dirs, schema) = manifest(e)
        val (prevDirs, prevSchema) = manifest(e - 1)
        val (state, stateJobs) = jobsDuring(sink.readState())
        assert(stateJobs.isEmpty, s"readState@$e launched $stateJobs")
        assert(state.schema.fieldNames.toSeq === schema.fieldNames.toSeq)
        assert(rows(state) === rows(plain(dirs.values, schema)), s"readState@$e")
        val (prev, prevJobs) = jobsDuring(sink.readStateAt(e - 1))
        assert(prevJobs.isEmpty, s"readStateAt(${e - 1}) launched $prevJobs")
        assert(rows(prev) === rows(plain(prevDirs.values, prevSchema)), s"readStateAt(${e - 1})")

        val (cdf, cdfJobs) = jobsDuring(sink.changesBetween(e - 1, e))
        assert(cdfJobs.isEmpty, s"changesBetween(${e - 1}, $e) launched $cdfJobs")
        // the keyed diff of two plain reads, both with epoch e's schema
        val expected = keyedDiff(plain(prevDirs.values, schema), plain(dirs.values, schema))
        assert(rows(cdf) === expected, s"changesBetween(${e - 1}, $e)")

        // readDirtyState collects the batch's bucket ids by design, in
        // one job (a per-partition distinct); that is the only job it may
        // launch
        val (dirty, dirtyJobs) = jobsDuring(sink.readDirtyState(batch))
        assert(dirtyJobs.size === 1 && !dirtyJobs.exists(_.startsWith("Listing leaf files")),
          s"readDirtyState@$e launched $dirtyJobs")
        assert(rows(dirty) === rows(plain(bucketsOf(batch).flatMap(dirs.get), schema)),
          s"readDirtyState@$e")
      }

      val keys = 1L to 400L
      sink.merge(batchDf(keys.map(k => (k, "c", 10L, k, "signup", k.toDouble))), 0)
      assert(manifest(0)._1.size > 32, "more than 32 buckets must hold data")
      val b1 = batchDf(keys.filter(_ % 2 == 0).map(k => (k, "u", 20L, 1000L + k, "click", k + 0.5)) ++
        Seq((401L, "c", 20L, 2000L, "signup", 401.0), (3L, "d", 20L, 2001L, "signup", 3.0)))
      sink.merge(b1, 1)
      checkReads(1, b1)

      // schema-evolved: the new column null-fills in old files
      val b2 = keys.filter(_ % 4 == 1).map(k => (k, "u", 30L, 3000L + k, "click", k + 0.25, "emea"))
        .toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value", "region")
      sink.merge(b2, 2)
      assert(manifest(2)._2.fieldNames.contains("region"))
      assert(bucketsOf(b2).size < manifest(2)._1.size, "some buckets must keep pre-evolution files")
      checkReads(2, b2)

      // all-deleted: empty, with the recorded schema
      val b3 = batchDf((keys :+ 401L).map(k => (k, "d", 40L, 4000L + k, "signup", 0.0)))
      sink.merge(b3, 3)
      assert(manifest(3)._1.isEmpty)
      checkReads(3, b3)
      assert(sink.readState().count() === 0)
  }}

  /** The manifest lines of epoch e of the state at `statePath`. */
  private def manifestLines(statePath: String, e: Long): List[String] =
    scala.io.Source.fromFile(s"$statePath/_manifest.v$e", "UTF-8").getLines().filter(_.nonEmpty).toList

  /** Bucket → data dir (relative to the state path) of epoch e; every
    * entry line is exactly `bucket<TAB>dir`.
    */
  private def entriesAt(statePath: String, e: Long): Map[Int, String] =
    manifestLines(statePath, e).filterNot(_.startsWith("#")).map { l =>
      val fields = l.split('\t')
      assert(fields.length === 2, s"entry line '$l' of epoch $e")
      fields(0).toInt -> fields(1)
    }.toMap

  private def layoutAt(statePath: String, e: Long): Layout =
    Layout.parse(manifestLines(statePath, e).find(_.startsWith("#layout\t")).get.stripPrefix("#layout\t"))

  /** Data files of the given state dirs (relative to the state path). */
  private def dataFilesOf(statePath: String, dirs: Iterable[String]): Seq[String] =
    dirs.toSeq.flatMap(d => new java.io.File(s"$statePath/$d").listFiles().toSeq)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getCanonicalPath)

  /** The files a frame's plan reads. */
  private def inputFilesOf(df: DataFrame): Seq[String] =
    df.inputFiles.toSeq.map(f => new java.io.File(new java.net.URI(f)).getCanonicalPath)

  test("at one bucket the dirty set needs no Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-onebucket").toString
    val statePath = s"$tmp/state"
    val sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 8)
    sink.merge(batchDf((1L to 40L).map(k => (k, "c", 10L, k, "signup", k.toDouble))), 0)
    assert(layoutAt(statePath, 0).buckets === 8, "epoch 0 is laid out in numBuckets")
    sink.merge(batchDf(Seq((1L, "u", 20L, 100L, "click", 1.5))), 1)
    assert(layoutAt(statePath, 1).buckets === 1, "a state far below the open cost is one bucket")
    assert(entriesAt(statePath, 1).keySet === Set(0))
    val batch = batchDf(Seq((2L, "u", 30L, 200L, "click", 2.5), (99L, "c", 30L, 201L, "signup", 9.9)))
    val (dirty, jobs) = jobsDuring(sink.readDirtyState(batch))
    assert(jobs.isEmpty, s"readDirtyState at one bucket launched $jobs")
    assert(rowSet(dirty) === rowSet(sink.readState()), "at one bucket the dirty state is the state")
    sink.merge(batch, 2)
    assert(sink.readState().count() === 41)
  }

  test("changesBetween reads only the dirs two epochs do not share; across a re-layout, both whole") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdf-dirs").toString
    val statePath = s"$tmp/state"
    val sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 64)
    def plain(dirs: Iterable[String], schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.read.schema(schema).parquet(dirs.toSeq.sorted.map(d => s"$statePath/$d"): _*)
    withFullBuckets {
      sink.merge(batchDf((1L to 400L).map(k => (k, "c", 10L, k, "signup", k.toDouble))), 0)
      sink.merge(batchDf((1L to 10L).map(k => (k, "u", 20L, 1000L + k, "click", k + 0.5))), 1)
    }
    assert(layoutAt(statePath, 1).buckets === 64)
    val (d0, d1) = (entriesAt(statePath, 0).values.toSet, entriesAt(statePath, 1).values.toSet)
    val changed = (d0 -- d1) ++ (d1 -- d0)
    assert(changed.nonEmpty && changed.size <= 20, s"a 10-key batch rewrites at most 10 of 64 buckets: $changed")
    val schema = sink.readStateAt(1).schema
    val cdf = sink.changesBetween(0, 1)
    assert(inputFilesOf(cdf).sorted === dataFilesOf(statePath, changed).sorted,
      "the feed reads only the files of the dirs the epochs do not share")
    assert(rowSet(cdf) === keyedDiff(plain(d0, schema), plain(d1, schema)))
    assert(rowSet(cdf).size === 10)

    // at the default open cost the next commit re-lays the state out
    sink.merge(batchDf(Seq((401L, "c", 30L, 2000L, "signup", 401.0), (3L, "d", 30L, 2001L, "signup", 3.0))), 2)
    assert(layoutAt(statePath, 2).buckets === 1)
    val d2 = entriesAt(statePath, 2).values.toSet
    assert((d1 intersect d2).isEmpty)
    val across = sink.changesBetween(1, 2)
    assert(inputFilesOf(across).sorted === dataFilesOf(statePath, d1 ++ d2).sorted,
      "across a re-layout both states are read whole")
    assert(rowSet(across) === keyedDiff(plain(d1, schema), plain(d2, schema)))
    assert(rowSet(across).size === 2)
  }

  test("a manifest without a #layout line reads, time-travels and re-lays out on its first merge") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val statePath = s"$tmp/state"
    val v0 = (1L to 400L).map(k => (k, "signup", k.toDouble, 10L))
      .toDF("user_id", "last_event_type", "last_value", "last_ts_ms")
    /** Writes `df` hashed into 64 buckets under `dir`; returns its entries. */
    def handWrite(df: DataFrame, dir: String): Map[Int, String] = {
      df.withColumn("bucket", pmod(hash(col("user_id")), lit(64)))
        .write.partitionBy("bucket").parquet(s"$statePath/$dir")
      new java.io.File(s"$statePath/$dir").list().filter(_.startsWith("bucket="))
        .map(b => b.stripPrefix("bucket=").toInt -> s"$dir/$b").toMap
    }
    def publish(e: Long, entries: Map[Int, String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$statePath/_manifest.v$e"),
        (s"#schema\t${v0.schema.json}\n" + entries.toSeq.sorted.map { case (b, d) => s"$b\t$d" }
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val e0 = handWrite(v0, "v0")
    publish(0, e0)
    // epoch 1 rewrites one bucket: its keys become clicks
    val b = e0.keys.min
    val e1 = e0 ++ handWrite(v0.filter(pmod(hash(col("user_id")), lit(64)) === b)
      .withColumn("last_event_type", lit("click")).withColumn("last_ts_ms", lit(20L)), "v1")
    publish(1, e1)
    assert(e0.size > 32 && e1(b) === s"v1/bucket=$b")
    def plain(dirs: Iterable[String]): DataFrame =
      spark.read.schema(v0.schema).parquet(dirs.toSeq.sorted.map(d => s"$statePath/$d"): _*)

    val sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 64)
    assert(rowSet(sink.readStateAt(0)) === rowSet(v0))
    val state1 = rowSet(plain(e1.values))
    assert(rowSet(sink.readState()) === state1)
    assert(sink.readState().filter(col("last_event_type") === "click").count() > 0)

    sink.merge(batchDf(Seq((401L, "c", 30L, 1L, "signup", 401.0), (5L, "u", 30L, 2L, "purchase", 5.5))), 2)
    assert(layoutAt(statePath, 2).buckets === 1, "the first merge re-lays the state out")
    assert(layoutAt(statePath, 2).bytes.keySet === entriesAt(statePath, 2).keySet)
    val expected = state1.filterNot(_.startsWith("[5,")) ++ Set("[5,purchase,5.5,30]", "[401,signup,401.0,30]")
    assert(rowSet(sink.readState()) === expected, "every untouched row survives the re-layout")
    val d2 = entriesAt(statePath, 2).values
    val cdf = sink.changesBetween(1, 2)
    assert(rowSet(cdf) === keyedDiff(plain(e1.values), plain(d2)))
    assert(rowSet(cdf) === Set("[5,changed,purchase,5.5,30]", "[401,added,signup,401.0,30]"))
    assert(rowSet(sink.readStateAt(1)) === state1, "the pre-layout epoch still time-travels")
  }

  test("a growing state re-lays out at most once per doubling, within numBuckets, and shrinks after deletes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-grow").toString
    val statePath = s"$tmp/state"
    withConf("spark.sql.files.openCostInBytes", "8192") {
      var sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 8)
      val layouts = scala.collection.mutable.ArrayBuffer.empty[Layout]
      def commit(rows: Seq[(Long, String, Long, Long, String, Double)]): Unit = {
        val e = layouts.size.toLong
        sink.merge(batchDf(rows), e)
        layouts += layoutAt(statePath, e)
        assert(layouts.last.bytes.keySet === entriesAt(statePath, e).keySet, s"bytes of every bucket @$e")
      }
      var next = 1L
      for (n <- Seq(1, 50, 100, 200, 400, 800, 1600, 3200, 6400, 12800)) {
        commit((next until next + n).map(k => (k, "c", 10L, k, s"t${k % 7}", k * 1.37)))
        next += n
      }
      val total = layouts.map(_.bytes.values.sum)
      val counts = layouts.map(_.buckets)
      assert(counts.forall(n => n >= 1 && n <= 8 && Integer.bitCount(n) == 1), s"bucket counts $counts")
      assert(counts.last === 8, s"the grown state fills numBuckets: $counts, bytes $total")
      // commit e is laid out from the bytes recorded at e - 1
      val relayouts = (1 until counts.size).filter(e => counts(e) != counts(e - 1))
      assert(relayouts.count(e => counts(e) > counts(e - 1)) >= 2, s"the state re-lays out as it grows: $counts")
      relayouts.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        assert(total(b - 1) > 2 * total(a - 1),
          s"re-layouts at epochs $a and $b are less than a doubling apart: bytes $total, counts $counts")
      }
      // a handle with a smaller numBuckets re-lays the state out within it
      sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 4)
      commit(Seq((2L, "u", 15L, 50000L, "click", 0.25)))
      assert(layouts.last.buckets === 4)
      // mass deletes: the commit after them shrinks the layout
      val keep = 1L to 20L
      commit((keep.last + 1 until next).map(k => (k, "d", 20L, 100000L + k, "x", 0.0)))
      assert(layouts.last.buckets === 4, "the deleting commit is laid out from the bytes before it")
      commit(Seq((1L, "u", 30L, 200000L, "click", 0.5)))
      assert(layouts.last.buckets < 4, s"deleting most keys shrinks the layout: ${layouts.map(_.buckets)}")
      assert(sink.readState().count() === keep.size)
    }
  }

  test("a crash between a re-layout's write and its manifest rename leaves the previous epoch readable") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-relayout-crash").toString
    val statePath = s"$tmp/state"
    val sink = new ParquetUpsertSink(spark, statePath, Seq("user_id"), numBuckets = 4)
    sink.merge(batchDf((1L to 30L).map(k => (k, "c", 10L, k, "signup", k.toDouble))), 0)
    val before = rowSet(sink.readState())
    val batch = batchDf(Seq((1L, "u", 20L, 100L, "click", 1.5), (31L, "c", 20L, 101L, "signup", 31.0)))
    sink.merge(batch, 1)
    assert(layoutAt(statePath, 0).buckets === 4 && layoutAt(statePath, 1).buckets === 1)
    val after = rowSet(sink.readState())
    // undo the publishing rename (manifest and checksum): the state dir
    // is then what a crash right before the rename leaves behind
    val attempt = new java.io.File(statePath).list().find(_.matches("v1-[0-9a-f]+")).get.stripPrefix("v1-")
    Seq("_manifest.v1" -> s"_tmp-manifest-1-$attempt", "._manifest.v1.crc" -> s"._tmp-manifest-1-$attempt.crc")
      .foreach { case (a, b) => Files.move(Paths.get(s"$statePath/$a"), Paths.get(s"$statePath/$b")) }
    assert(sink.retainedEpochs() === Seq(0L))
    assert(rowSet(sink.readState()) === before, "the previous epoch is the state")
    assert(rowSet(sink.readStateAt(0)) === before)

    // the replay re-lays out again and publishes epoch 1
    sink.merge(batch, 1)
    assert(sink.retainedEpochs() === Seq(0L, 1L))
    assert(layoutAt(statePath, 1).buckets === 1)
    assert(rowSet(sink.readState()) === after)
    assert(!new java.io.File(statePath).list().exists(_.startsWith("_tmp-manifest-")))
    sink.merge(batchDf(Seq((2L, "u", 30L, 102L, "click", 2.5))), 2)
    assert(!new java.io.File(s"$statePath/v1-$attempt").exists, "the crashed attempt's dir is vacuumed")
    assert(sink.readState().count() === 31)
  }

  test("exportSnapshot round-trips: any plain parquet reader sees readState") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-export").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0),
                           (2L, "c", 10L, 2L, "signup", 2.0),
                           (3L, "c", 10L, 3L, "signup", 3.0))), 0)
    sink.merge(batchDf(Seq((2L, "u", 20L, 4L, "click", 2.5),
                           (3L, "d", 20L, 5L, "signup", 3.0))), 1)
    sink.exportSnapshot(s"$tmp/snapshot")
    val exported = spark.read.parquet(s"$tmp/snapshot")
    val state = sink.readState()
    assert(exported.schema === state.schema, "export must carry the state schema")
    assert(exported.exceptAll(state).count() === 0 && state.exceptAll(exported).count() === 0,
      "export minus state / state minus export must both be empty")
    assert(new java.io.File(s"$tmp/snapshot/_SUCCESS").exists(),
      "external readers key on the _SUCCESS completeness marker")
  }

  test("changesBetween reports the keyed diff of two retained epochs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"),
      numBuckets = 4, retainEpochs = 3)
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0),
                           (2L, "c", 10L, 2L, "signup", 2.0),
                           (4L, "c", 10L, 3L, "signup", 4.0))), 0)
    sink.merge(batchDf(Seq((2L, "u", 20L, 4L, "click", 2.5))), 1)
    sink.merge(batchDf(Seq((1L, "d", 30L, 5L, "signup", 1.0),
                           (3L, "c", 30L, 6L, "signup", 3.0))), 2)

    val diff = sink.changesBetween(0, 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(1L -> "removed", 2L -> "changed", 3L -> "added"),
      "user 4 is untouched and must not appear")
    // after-image carried for added/changed, NULL for removed
    val rows = sink.changesBetween(0, 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(3L).getAs[String]("last_event_type") === "signup")
    assert(rows(2L).getAs[String]("last_event_type") === "click")
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("last_event_type")))
    intercept[IllegalArgumentException] { sink.changesBetween(2, 0) }
  }

  test("readStateAt time-travels across retained epochs; aged epochs vacuum away") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"),
      numBuckets = 4, retainEpochs = 3)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted
    sink.merge(batchDf(Seq((1L, "c", 10L, 1L, "signup", 1.0),
                           (2L, "c", 10L, 2L, "signup", 2.0))), 0)
    val at0 = snap(sink.readState())
    sink.merge(batchDf(Seq((2L, "u", 20L, 3L, "click", 2.5))), 1)
    val at1 = snap(sink.readState())
    sink.merge(batchDf(Seq((1L, "d", 30L, 4L, "signup", 1.0),
                           (3L, "c", 30L, 5L, "signup", 3.0))), 2)

    assert(sink.retainedEpochs() === Seq(0L, 1L, 2L))
    assert(snap(sink.readStateAt(0)) === at0, "epoch 0 must read as committed")
    // epoch 1's manifest references epoch-0 data dirs for clean buckets —
    // retention must pin those files, not just the manifest
    assert(snap(sink.readStateAt(1)) === at1, "epoch 1 must read as committed")
    assert(snap(sink.readStateAt(2)) === snap(sink.readState()))

    // the next commit ages epoch 0 out of the window: manifest deleted,
    // unreferenced data vacuumed, remaining epochs still exact
    sink.merge(batchDf(Seq((3L, "u", 40L, 6L, "click", 3.5))), 3)
    assert(sink.retainedEpochs() === Seq(1L, 2L, 3L))
    intercept[IllegalStateException] { sink.readStateAt(0) }
    assert(snap(sink.readStateAt(1)) === at1,
      "a still-retained epoch must survive its elder's vacuum")

    // CDF at the retention boundary: a feed anchored on the evicted
    // epoch fails LOUDLY (a silent empty diff would read as "no
    // changes" — the worst failure mode for an incremental consumer),
    // while the fully-retained range stays exact
    intercept[IllegalStateException] { sink.changesBetween(0, 2) }
    val cdf = sink.changesBetween(1, 3).collect()
    assert(cdf.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("change")))
      .toSet === Set((1L, "removed"), (3L, "added")),
      "the retained-range feed must carry the exact keyed diff")
  }

  test("a batch that deletes every key in a bucket does not resurrect them") { withFullBuckets {
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-delbucket").toString
      val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 2)
      val keys = (1L to 20L)
      sink.merge(batchDf(keys.map(k => (k, "c", 10L, k, "signup", k.toDouble))), 0)

      // every key hashing to bucket 0 gets deleted in one batch
      val buckets = keys.toDF("user_id")
        .withColumn("b", pmod(hash(col("user_id")), lit(2)))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val dead = keys.filter(buckets(_) == 0)
      val alive = keys.filter(buckets(_) == 1)
      assert(dead.nonEmpty && alive.nonEmpty, "test needs both buckets populated")
      sink.merge(batchDf(dead.map(k => (k, "d", 20L, 100L + k, "error", 0.0))), 1)

      val state = sink.readState()
      assert(state.filter(col("user_id").isin(dead: _*)).count() === 0,
        "deleted keys must not resurrect from the un-rewritten bucket")
      assert(state.filter(col("user_id").isin(alive: _*)).count() === alive.size)

      // delete the rest too: an all-deleted state is committed and reads
      // as an EMPTY typed frame (schema from the manifest), not an error
      sink.merge(batchDf(alive.map(k => (k, "d", 30L, 200L + k, "error", 0.0))), 2)
      val emptyState = sink.readState()
      assert(emptyState.count() === 0)
      assert(emptyState.columns.contains("user_id") && emptyState.columns.contains("last_ts_ms"))
  }}

  test("schema evolution: widening batches backfill NULL, narrowed feeds carry state") { withFullBuckets {
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
      val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"),
        numBuckets = 4, retainEpochs = 4)

      // epoch 0: two-column images
      sink.merge(batchDf(Seq(
        (1L, "c", 10L, 1L, "signup", 1.0),
        (2L, "c", 10L, 2L, "signup", 2.0),
        (3L, "c", 10L, 3L, "signup", 3.0))), 0)

      // epoch 1: the feed WIDENS — a region column appears; only user 1
      // is touched. Untouched rows must read region = NULL, not error,
      // and not lose the column to parquet schema sampling.
      val widened = Seq((1L, "u", 20L, 4L, "click", 1.5, "emea"))
        .toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "last_value", "region")
      sink.merge(widened, 1)
      val s1 = sink.readState().orderBy("user_id").collect()
      assert(s1.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      val r1 = s1.find(_.getLong(0) == 1L).get
      assert(r1.getAs[String]("region") === "emea")
      assert(r1.getAs[String]("last_event_type") === "click")
      assert(s1.filter(_.getLong(0) != 1L).forall(_.getAs[String]("region") == null),
        "untouched rows backfill NULL for the new column")

      // epoch 2: the feed NARROWS — last_value disappears from the
      // images; updating user 2 must NOT wipe its stored last_value,
      // and a brand-new key gets NULL for the uncarried column.
      val narrowed = Seq((2L, "u", 30L, 5L, "purchase", "amer"),
                         (9L, "c", 30L, 6L, "signup", "apac"))
        .toDF("user_id", "op", "ts_ms", "seq", "last_event_type", "region")
      sink.merge(narrowed, 2)
      val s2 = sink.readState().orderBy("user_id").collect()
      val r2 = s2.find(_.getLong(0) == 2L).get
      assert(r2.getAs[String]("last_event_type") === "purchase")
      assert(r2.getAs[Double]("last_value") === 2.0,
        "a column absent from the feed must carry its state value")
      assert(r2.getAs[String]("region") === "amer")
      val r9 = s2.find(_.getLong(0) == 9L).get
      assert(r9.isNullAt(r9.fieldIndex("last_value")), "new key, uncarried column -> NULL")

      // time travel still reads each epoch with ITS schema
      assert(!sink.readStateAt(0).columns.contains("region"))
      assert(sink.readStateAt(1).columns.contains("region"))
  }}

  test("randomized batched sink ingest equals one-shot latestState (seeded)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      val uid = rnd.nextInt(40).toLong
      val op = { val d = rnd.nextDouble(); if (d < 0.15) "d" else if (d < 0.55) "u" else "c" }
      (uid, op, (1000 + i).toLong, i.toLong,
        s"t${rnd.nextInt(5)}", math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val expected = CdcOps.latestState(batchDf(rows), Seq("user_id"), CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")

    // random contiguous cuts preserve the per-key arrival order the
    // continuous-upsert contract assumes (Kafka keyed delivery)
    val cuts = (Seq(0, rows.length) ++ Seq.fill(5)(rnd.nextInt(rows.length))).distinct.sorted
    val tmp = java.nio.file.Files.createTempDirectory("graft-rand").toString
    val sink = new ParquetUpsertSink(spark, s"$tmp/state", Seq("user_id"), numBuckets = 4)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      if (b > a) sink.merge(batchDf(rows.slice(a, b)), i.toLong)
    }
    val got = sink.readState()
      .select("user_id", "last_event_type", "last_value", "last_ts_ms")
    assert(got.exceptAll(expected).count() === 0, "sink minus one-shot")
    assert(expected.exceptAll(got).count() === 0, "one-shot minus sink")
  }

  test("state checksum is order-independent and matches an independent computation") {
    val out = CdcQueries.stateChecksum(spark, sfDir).collect().head
    val nRows = out.getLong(0)
    val checksum = out.getLong(1)
    val prime = 576460752303423433L
    assert(checksum >= 0 && checksum < prime)
    // recompute from collected state rows with plain JVM md5 — proves
    // the distributed sum-of-row-hashes equals a serial reference.
    // Canonicalization mirrors stateChecksum exactly: raw (unrounded)
    // state, doubles as floor(v*100 + 0.5) integer cents (exact IEEE
    // ops, engine-stable), NULLs as a U+0001 sentinel.
    val rows = graft.cdc.CdcOps.latestState(
      graft.cdc.CdcOps.userChangelog(spark, sfDir), Seq("user_id"), graft.cdc.CdcOps.userDataCols)
      .select("user_id", "last_event_type", "last_value", "last_ts_ms", "n_changes")
      .collect()
    assert(nRows === rows.length)
    val md = java.security.MessageDigest.getInstance("MD5")
    def f(r: org.apache.spark.sql.Row, i: Int)(s: => String): String =
      if (r.isNullAt(i)) "\u0001" else s
    val expected = rows.map { r =>
      val canon = Seq(
        f(r, 0)(r.getLong(0).toString),
        f(r, 1)(r.getString(1)),
        f(r, 2)(math.floor(r.getDouble(2) * 100d + 0.5d).toLong.toString),
        f(r, 3)(r.getLong(3).toString),
        f(r, 4)(r.getLong(4).toString)).mkString("|")
      val hex = md.digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      BigInt(java.lang.Long.parseLong(hex, 16))
    }.sum.mod(BigInt(prime)).toLong
    assert(checksum === expected, "distributed checksum must equal the serial reference")
  }

  test("scd2_asof_activity attributes every event to its valid dimension version") {
    // serial replay: per user, walk changes and probes in (ts_ms, seq,
    // change-before-probe) order, carrying the last change image
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3), r.getDouble(4)))
    case class Step(ts: Long, seq: Long, src: Int, op: String, attr: String,
                    et: String, v: Double)
    val agg = scala.collection.mutable.Map.empty[(String, String), (Long, Double)]
    ev.groupBy(_._1).values.foreach { rows =>
      val steps = rows.flatMap { case (_, ts, id, et, v) =>
        val op = et match { case "signup" => "c"; case "error" => "d"; case _ => "u" }
        Seq(Step(ts, id, 0, op, et, null, 0.0), Step(ts, id, 1, null, null, et, v))
      }.sortBy(s => (s.ts, s.seq, s.src))
      var dim: Option[(String, String)] = None
      steps.foreach { s =>
        if (s.src == 0) dim = Some((s.op, s.attr))
        else {
          val state = dim match {
            case Some((op, attr)) if op != "d" => attr
            case _ => "none"
          }
          val (n, sv) = agg.getOrElse((state, s.et), (0L, 0.0))
          agg((state, s.et)) = (n + 1, sv + s.v)
        }
      }
    }
    val got = graft.cdc.CdcQueries.scd2AsofActivity(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === agg.keySet.toSet)
    for ((k, (n, sv)) <- agg) {
      assert(got(k)._1 === n, s"$k count")
      assert(math.abs(got(k)._2 - sv) < 0.02, s"$k sum")
    }
    // validity resolution must be ONE user exchange (union + window),
    // never a range join
    val p = graft.cdc.CdcQueries.scd2AsofActivity(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) === 1,
      s"expected a single user_id exchange:\n$p")
    assert(!p.contains("Join"), s"as-of resolution must not join:\n$p")
  }

  test("change cadence equals a literal per-key gap recompute") {
    val ch = CdcOps.cachedChangelog(spark, sfDir)
      .select("user_id", "ts_ms", "seq").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_ms"), r.getAs[Long]("seq")))
    val gaps = ch.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2, r._3)).sliding(2).collect {
        case Array(a, b) => b._2 - a._2
      }
    }.toArray.sorted
    def pct(q: Double): Double = {
      // the exact interpolated percentile both percentile() and quantile_cont compute
      val pos = q * (gaps.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < gaps.length) gaps(lo) * (1 - frac) + gaps(lo + 1) * frac
      else gaps(lo).toDouble
    }
    val r = CdcQueries.changeCadence(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_gaps") === gaps.length.toLong)
    assert(r.getAs[Long]("n_keys") === ch.groupBy(_._1).count(_._2.length >= 2).toLong)
    assert(math.abs(r.getAs[Double]("mean_ms") - gaps.map(_.toDouble).sum / gaps.length) < 1e-3)
    assert(math.abs(r.getAs[Double]("p50_ms") - pct(0.5)) < 1e-3, "p50")
    assert(math.abs(r.getAs[Double]("p99_ms") - pct(0.99)) < 1e-3, "p99")
    assert(r.getAs[Long]("max_ms") === gaps.last)
  }
}
