package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Streaming/batch agreement: the streaming rollup over a MemoryStream
  * must produce exactly the batch rollup of the same rows, including
  * out-of-order arrival; typed sessionization must track gap logic. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming hourly rollup equals batch aggregation of same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // out-of-order within the watermark: 10:59 arrives after 11:30
    mem.addData(
      Event(0, ts("2024-01-01 10:15:00"), 1, "click", 1.5),
      Event(1, ts("2024-01-01 11:30:00"), 2, "click", 2.5),
      Event(2, ts("2024-01-01 10:59:00"), 1, "view", 4.0),
      Event(3, ts("2024-01-01 11:45:00"), 1, "click", 8.0))
    val out = StreamingOps.runRollupOnce(spark, mem.toDF(), "rollup_sink")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val h10 = ts("2024-01-01 10:00:00").getTime / 1000
    val h11 = ts("2024-01-01 11:00:00").getTime / 1000
    assert(out((h10, "click")) === ((1L, 1.5)))
    assert(out((h10, "view")) === ((1L, 4.0)))
    assert(out((h11, "click")) === ((2L, 10.5)))
  }

  test("streaming session_window equals batch q57 on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      // user 1: two sessions (45-min gap); out-of-order arrival below
      Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:20:00"), 1, "click", 3.0),
      Event(1, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 11:05:00"), 1, "click", 4.0),
      // user 2: one session
      Event(4, ts("2024-01-01 09:00:00"), 2, "view", 5.0),
      Event(5, ts("2024-01-01 09:20:00"), 2, "view", 6.0))
    val mem = MemoryStream[Event]
    mem.addData(rows: _*)
    val q = StreamingOps.sessionWindowRollup(mem.toDF())
      .writeStream.format("memory").queryName("sw_sink")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // batch q57 over the same rows written as an events fixture
    val dir = java.nio.file.Files.createTempDirectory("graft-sw-twin").toString
    rows.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventOps.q57SessionWindow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(streamed === batch,
      s"stream/batch session windows diverge:\nstream=$streamed\nbatch=$batch")
    assert(batch.size === 3) // (u1 s1), (u1 s2), (u2 s1)
  }

  test("file source -> file sink e2e: exactly-once across a restart") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-e2e")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def drop(id: Long, value: Double): Unit =
      Seq(Event(id, ts("2024-01-01 10:00:00"), 1, "click", value))
        .toDF().write.mode("append").parquet(src)
    drop(0, 1.0); drop(1, -3.0) // -3.0 must be filtered out
    val q1 = StreamingOps.fileEnrichPipeline(spark, src, out, ckpt)
    q1.processAllAvailable()
    drop(2, 9.0)
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = spark.read.parquet(out)
    assert(afterFirst.count() === 2) // id 0 + id 2; id 1 filtered
    assert(afterFirst.filter($"value_band" === "high").count() === 1)
    // restart from the same checkpoint: only NEW files are processed
    drop(3, 2.0)
    val q2 = StreamingOps.fileEnrichPipeline(spark, src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out).select("event_id").as[Long]
      .collect().sorted
    assert(ids === Array(0L, 2L, 3L)) // no replays, no losses
  }

  test("file-sink windowed rollup emits finalized windows (watermark e2e)") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-wm")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    Seq(
      Event(0, ts("2024-01-01 10:15:00"), 1, "click", 1.5),
      Event(1, ts("2024-01-01 10:59:00"), 2, "click", 2.5),
    ).toDF().write.mode("append").parquet(src)
    val q = StreamingOps.fileRollupPipeline(spark, src, out, ckpt)
    q.processAllAvailable()
    // hour-10 window not finalized yet: watermark = 10:59 - 2h
    // a later event advances the watermark past 11:00 → hour 10 emits
    Seq(Event(2, ts("2024-01-01 14:00:00"), 1, "view", 1.0))
      .toDF().write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val h10 = ts("2024-01-01 10:00:00").getTime / 1000
    assert(rows((h10, "click")) === ((2L, 4.0)))
    // the unfinalized hour-14 window must NOT have been emitted
    assert(!rows.keySet.exists(_._1 === ts("2024-01-01 14:00:00").getTime / 1000))
  }

  test("graft-delta sink: exactly-once ingest, restart-safe, append-only log") {
    import graft.sources.DeltaLog
    val base = java.nio.file.Files.createTempDirectory("graft-stream-delta")
    val (src, table, ckpt) = (s"$base/src", s"$base/tbl", s"$base/ckpt")
    def drop(id: Long, value: Double): Unit =
      Seq(Event(id, ts("2024-01-01 10:00:00"), 1, "click", value))
        .toDF().write.mode("append").parquet(src)
    drop(0, 1.0); drop(1, -3.0) // -3.0 filtered by the pipeline
    val q1 = StreamingOps.fileDeltaIngestPipeline(spark, src, table, ckpt)
    q1.processAllAvailable()
    drop(2, 9.0)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.format("graft-delta").load(table)
      .select("event_id").as[Long].collect().sorted === Array(0L, 2L))
    // kill/restart from the same checkpoint: only new files land
    drop(3, 2.0)
    val q2 = StreamingOps.fileDeltaIngestPipeline(spark, src, table, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val df = spark.read.format("graft-delta").load(table)
    assert(df.select("event_id").as[Long].collect().sorted ===
      Array(0L, 2L, 3L)) // no replays, no losses
    assert(df.filter($"value_band" === "high").count() === 1)
    // the ingest log is append-only: no version ever removes a file,
    // and the txn ledger advanced monotonically
    val logLines = DeltaLog.versions(table).flatMap(v =>
      java.nio.file.Files.readAllLines(DeltaLog.logDir(table)
        .resolve(f"$v%020d.json")).toArray.map(_.toString))
    assert(!logLines.exists(_.contains("\"remove\"")),
      "streaming append versions must never remove files")
    assert(DeltaLog.snapshot(table).txns.nonEmpty)
  }

  test("graft-delta sink into a generated-columns table: micro-batches inherit the contract") {
    import graft.sources.{DeltaLog, DeltaTable}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-gen")
    val (table, ckpt) = (s"$base/tbl", s"$base/ckpt")
    // the table declares its generated partition column up front; the
    // STREAM never computes it - every micro-batch append inherits the
    // committed contract through the same write path as batch
    DeltaTable.write(
      Seq((0L, ts("2024-01-01 10:00:00"))).toDF("event_id", "ts"),
      table, "overwrite", partitionBy = Seq("event_date"),
      generatedColumns = Map("event_date" -> "CAST(ts AS DATE)"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("event_id", "ts")
      .writeStream.format("graft-delta")
      .option("checkpointLocation", ckpt)
      .option("path", table).start()
    mem.addData((1L, ts("2024-01-02 08:00:00")), (2L, ts("2024-01-03 09:30:00")))
    q.processAllAvailable()
    mem.addData((3L, ts("2024-01-03 23:00:00")))
    q.processAllAvailable()
    q.stop()
    val df = spark.read.format("graft-delta").load(table)
    assert(df.select("event_id").as[Long].collect().sorted ===
      Array(0L, 1L, 2L, 3L))
    assert(df.filter(!($"event_date" <=> org.apache.spark.sql.functions.to_date($"ts"))).count() === 0)
    // the generated values landed as real partitions in the log
    assert(DeltaLog.snapshot(table).files.exists(
      _.partitionValues.get("event_date").contains("2024-01-03")))
  }

  test("graft-delta sink into an identity table: batches draw disjoint key ranges, replays don't burn them twice") {
    import graft.sources.{DeltaLog, DeltaTable}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-id")
    val (table, ckpt) = (s"$base/tbl", s"$base/ckpt")
    DeltaTable.write(
      spark.createDataFrame(Seq(Tuple1("seed"))).toDF("name"),
      table, "overwrite", identityColumns = Map("sk" -> ((1L, 1L))))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("name")
      .writeStream.format("graft-delta")
      .option("checkpointLocation", ckpt)
      .option("path", table).start()
    mem.addData("a", "b")
    q.processAllAvailable()
    mem.addData("c")
    q.processAllAvailable()
    q.stop()
    // restart from the same checkpoint: the replayed batch is absorbed
    // by the txn ledger BEFORE any identity range is claimed
    val q2 = mem.toDF().toDF("name")
      .writeStream.format("graft-delta")
      .option("checkpointLocation", ckpt)
      .option("path", table).start()
    mem.addData("d")
    q2.processAllAvailable()
    q2.stop()
    val got = DeltaTable.read(spark, table)
      .select("name", "sk").as[(String, Long)].collect().toMap
    assert(got.keySet === Set("seed", "a", "b", "c", "d"))
    assert(got.values.toSeq.distinct.length === 5,
      s"identity values collided across micro-batches: $got")
    assert(got("seed") === 1L)
    // the mark matches the count: no range was burned by a replay
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaLog.snapshot(table).schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sch("sk").metadata.getLong("delta.identity.highWaterMark") === 5L)
  }

  test("graft-delta sink: replayed micro-batch commits exactly once") {
    import graft.sources.{DeltaTable, GraftDeltaStreamSink}
    val t = java.nio.file.Files.createTempDirectory("graft-sink-replay")
      .resolve("t").toString
    val batch = Seq(
      Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 10:05:00"), 2, "view", 2.0)).toDF()
    val sink = new GraftDeltaStreamSink(t, Seq("event_type"), "test-app")
    sink.addBatch(0, batch)
    val v0 = DeltaTable.latestVersion(t)
    assert(DeltaTable.read(spark, t).count() === 2)
    // engine replays batch 0 after a crash: the txn ledger absorbs it
    sink.addBatch(0, batch)
    assert(DeltaTable.latestVersion(t) === v0, "replay must not commit")
    assert(DeltaTable.read(spark, t).count() === 2)
    // the next batch applies normally, into the partitioned layout
    sink.addBatch(1, batch.withColumn("event_id", $"event_id" + 10))
    assert(DeltaTable.read(spark, t).count() === 4)
    assert(graft.sources.DeltaLog.snapshot(t).files
      .forall(_.path.startsWith("event_type=")))
  }

  test("delta stream source: snapshot + version tailing, lake-to-lake mirror") {
    import graft.sources.{DeltaLog, DeltaTable}
    val base = java.nio.file.Files.createTempDirectory("graft-delta-src")
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    def ids(t: String): Seq[Long] =
      spark.read.format("graft-delta").load(t)
        .select("event_id").as[Long].collect().sorted.toSeq
    Seq(Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      .toDF().write.format("graft-delta").save(src) // v0
    // lake → stream → lake: mirror the source table continuously
    val q1 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q1.processAllAvailable()
    assert(ids(dst) === Seq(0L, 1L)) // initial snapshot delivered
    Seq(Event(2, ts("2024-01-01 10:02:00"), 2, "click", 3.0))
      .toDF().write.format("graft-delta").mode("append").save(src) // v1
    q1.processAllAvailable()
    q1.stop()
    assert(ids(dst) === Seq(0L, 1L, 2L)) // only v1's files delivered
    // restart resumes from the checkpointed version — no replays
    Seq(Event(3, ts("2024-01-01 10:03:00"), 2, "view", 4.0))
      .toDF().write.format("graft-delta").mode("append").save(src) // v2
    val q2 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q2.processAllAvailable()
    q2.stop()
    assert(ids(dst) === Seq(0L, 1L, 2L, 3L))
    // a COMPACT version is layout-only (dataChange=false on every file
    // action): the stream SKIPS it — no duplicates, no failure (the
    // protocol bit stock Delta's source honors too)
    for (i <- 4 to 5)
      Seq(Event(i.toLong, ts("2024-01-01 10:04:00"), 3, "click", 1.0))
        .toDF().write.format("graft-delta").mode("append").save(src)
    DeltaTable.compact(spark, src)
    val q3 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q3.processAllAvailable()
    q3.stop()
    assert(ids(dst) === Seq(0L, 1L, 2L, 3L, 4L, 5L),
      "compaction must be invisible to the stream: new appends " +
        "delivered once, compacted files never re-delivered")
    // a GENUINE rewrite (DML delete) still breaks append-only loudly…
    DeltaTable.delete(spark, src, org.apache.spark.sql.functions
      .col("event_id") === 0L)
    Seq(Event(6, ts("2024-01-01 10:05:00"), 3, "view", 1.0))
      .toDF().write.format("graft-delta").mode("append").save(src)
    val q4 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
      q4.awaitTermination(10000)
    }
    q4.stop()
    assert(ex.getMessage.contains("ignoreChanges"))
    // …and ignoreChanges=true opts into added-files-only delivery: the
    // delete's re-staged survivors re-deliver (documented semantics —
    // dedup downstream), the new append arrives once
    val q5 = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q5.processAllAvailable()
    q5.stop()
    assert(ids(dst).toSet === (0L to 6L).toSet)
  }

  test("delta stream source: a v2-checkpointed, prefix-pruned table " +
      "serves its initial snapshot through the manifest + sidecars " +
      "and tails past the checkpoint") {
    import graft.sources.{DeltaLog, DeltaTable}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-v2c")
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    Seq(Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      .toDF().write.format("graft-delta").save(src)              // v0
    DeltaTable.enableV2Checkpoints(src)                          // v1
    Seq(Event(2, ts("2024-01-01 10:02:00"), 2, "click", 3.0))
      .toDF().write.format("graft-delta").mode("append").save(src) // v2
    DeltaTable.vacuum(src, 1) // v2 checkpoint at v2, prefix pruned
    assert(DeltaLog.v2Manifest(src, 2L).isDefined &&
      DeltaLog.versions(src) === Seq(2L),
      "fixture must force the stream's snapshot through the v2 manifest")
    def ids(t: String): Seq[Long] =
      spark.read.format("graft-delta").load(t)
        .select("event_id").as[Long].collect().sorted.toSeq
    val q1 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q1.processAllAvailable()
    q1.stop()
    assert(ids(dst) === Seq(0L, 1L, 2L),
      "initial snapshot must replay across the v2 checkpoint")
    // tail past the checkpoint; restart resumes without replays
    Seq(Event(3, ts("2024-01-01 10:03:00"), 2, "view", 4.0))
      .toDF().write.format("graft-delta").mode("append").save(src) // v3
    val q2 = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q2.processAllAvailable()
    q2.stop()
    assert(ids(dst) === Seq(0L, 1L, 2L, 3L))
  }

  test("delta stream source x deletion vectors: the initial snapshot " +
      "and ignoreChanges re-deliveries subtract vector-dead rows") {
    import graft.sources.{DeltaLog, DeltaTable}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-dv")
    val t = s"$base/t"
    DeltaTable.write((1 to 6).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1), t, "overwrite")                              // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    DeltaTable.delete(spark, t, org.apache.spark.sql.functions
      .col("id") === 2)                                          // v2 (dv)
    assert(DeltaLog.snapshot(t).files.flatMap(_.dv).nonEmpty)
    // initial snapshot: the dead row must not arrive
    val got = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.select("id").collect().map(_.getInt(0)); ()
      }.start()
    q.processAllAvailable()
    // a further vectored delete mid-stream: under ignoreChanges the
    // re-added file re-delivers, but only its LIVE rows
    q.stop()
    assert(got.sorted.toSeq === Seq(1, 3, 4, 5, 6),
      s"initial snapshot leaked a vector-dead row: ${got.sorted}")
    DeltaTable.delete(spark, t, org.apache.spark.sql.functions
      .col("id") === 3)                                          // v3 (dv)
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q2 = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true").load(t)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got2 ++= df.select("id").collect().map(_.getInt(0)); ()
      }.start()
    q2.processAllAvailable()
    q2.stop()
    assert(got2.sorted.toSeq === Seq(1, 4, 5, 6),
      s"ignoreChanges re-delivery leaked vector-dead rows: ${got2.sorted}")
  }

  test("delta stream source: startingVersion skips the snapshot and " +
      "tails from the requested version, in both plain and CDF modes") {
    import graft.sources.DeltaTable
    val base = java.nio.file.Files.createTempDirectory("graft-startver")
    val t = s"$base/t"
    DeltaTable.write(Seq((1, 10L)).toDF("id", "v"), t, "overwrite") // v0
    DeltaTable.write(Seq((2, 20L)).toDF("id", "v"), t, "append")    // v1
    DeltaTable.write(Seq((3, 30L)).toDF("id", "v"), t, "append")    // v2
    val got = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "2").load(t)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.select("id").collect().map(_.getInt(0)); ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq === Seq(3),
      s"startingVersion=2 must deliver only v2's rows: $got")
    // CDF mode: change rows from the requested version on
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v3
    DeltaTable.delete(spark, t, org.apache.spark.sql.functions
      .col("id") === 1)                                             // v4
    val changes = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val qc = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "4").load(t)
      .writeStream.option("checkpointLocation", s"$base/ckpt-cdf")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        changes ++= df.select("id", "_change_type", "_commit_version")
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    qc.processAllAvailable()
    qc.stop()
    assert(changes.toSeq === Seq((1, "delete", 4L)),
      s"CDF startingVersion=4 must deliver only the delete: $changes")
  }

  test("streaming materialized view: change-feed merge equals batch recompute across restarts") {
    import graft.sources.DeltaTable
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val base = java.nio.file.Files.createTempDirectory("graft-view")
    val (src, down, ckpt) = (s"$base/src", s"$base/down", s"$base/ckpt")
    def srcEvents(rows: Event*): Unit = rows.toSeq.toDF()
      .write.format("graft-delta").mode("append").save(src)
    def viewRows(): Map[String, (Long, java.math.BigDecimal)] =
      DeltaTable.read(spark, down).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    def recompute(): Map[String, (Long, java.math.BigDecimal)] =
      spark.read.format("graft-delta").load(src)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(28, 2)).as("t"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2))))
        .toMap
    srcEvents(Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.5),
      Event(1, ts("2024-01-01 10:01:00"), 1, "view", 2.25))
    val q1 = graft.streaming.StreamingOps
      .incrementalViewPipeline(spark, src, down, ckpt)
    q1.processAllAvailable()
    assert(viewRows() === recompute()) // snapshot batch landed
    srcEvents(Event(2, ts("2024-01-01 10:02:00"), 2, "click", 3.75))
    q1.processAllAvailable()
    q1.stop()
    assert(viewRows() === recompute()) // incremental merge, not rescan
    // restart on the same checkpoint: replays must not double-count
    // (the additive merge is non-idempotent without the txn ledger)
    srcEvents(Event(3, ts("2024-01-01 10:03:00"), 2, "view", 0.5))
    val q2 = graft.streaming.StreamingOps
      .incrementalViewPipeline(spark, src, down, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(viewRows() === recompute())
    // and an explicit replay of an already-committed batch is a no-op:
    // merging the same (appId, batchId) again leaves the view version
    // and contents untouched
    val before = DeltaTable.latestVersion(down)
    val replayAgg = Seq(("click", 99L,
      new java.math.BigDecimal("999.00"))).toDF("event_type", "n_events",
      "total_value")
      .select(col("event_type"), col("n_events"),
        col("total_value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
    DeltaTable.merge(spark, down, replayAgg, Seq("event_type"),
      txn = Some((s"view:$ckpt", 0L)))
    assert(DeltaTable.latestVersion(down) === before)
    assert(viewRows() === recompute())
  }

  test("streaming host reputation MV: (host,url)-grain merge equals " +
      "batch q153 recompute across batches, restarts and replays") {
    import graft.sources.DeltaTable
    import graft.operators.DedupOps
    val base = java.nio.file.Files.createTempDirectory("graft-hostrep")
    val (src, mv, ckpt) = (s"$base/src", s"$base/mv", s"$base/ckpt")
    def srcDocs(rows: (Long, String)*): Unit = rows.toSeq
      .toDF("doc_id", "text")
      .write.format("graft-delta").mode("append").save(src)
    def report(): Seq[String] = graft.streaming.StreamingOps
      .hostReputationFromMv(spark, mv).collect().map(_.toString).toSeq
    def recompute(): Seq[String] = DedupOps.hostReputationCore(
      DedupOps.hostUrlMetrics(
        spark.read.format("graft-delta").load(src)))
      .collect().map(_.toString).toSeq
    // ids span pages/hosts and all five URL variants; texts vary the
    // stopword quality so host_quality differs across hosts
    srcDocs((0L, "the a of plain words"), (1L, "alpha beta gamma"),
      (2L, "the of to and in is"), (7L, "some the words of note"))
    val q1 = graft.streaming.StreamingOps
      .hostReputationIngestPipeline(spark, src, mv, ckpt)
    q1.processAllAvailable()
    assert(report() === recompute()) // snapshot batch landed
    // the next batch RE-SEES page 0's canonical forms (more variants
    // of the same pages): the distinct-page count must not double —
    // the reason the MV is kept at (host, url) grain
    srcDocs((3L, "the quick brown fox of lore"), (4L, "x y z"),
      (10L, "of the and to in"))
    q1.processAllAvailable()
    q1.stop()
    assert(report() === recompute())
    // restart on the same checkpoint: replays must not double-add
    srcDocs((5L, "entirely fresh page text the of"))
    val q2 = graft.streaming.StreamingOps
      .hostReputationIngestPipeline(spark, src, mv, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(report() === recompute())
    // explicit replay of a committed batch: no-op under the ledger
    val before = DeltaTable.latestVersion(mv)
    val replay = Seq(("hostX", "http://hostX/u", 99L, 9L, 9L))
      .toDF("host", "canonical_url", "n_docs", "sum_tok", "sum_stop")
    DeltaTable.merge(spark, mv, replay, Seq("host", "canonical_url"),
      txn = Some((s"hostrep:$ckpt", 0L)))
    assert(DeltaTable.latestVersion(mv) === before)
    assert(report() === recompute())
  }

  test("delta stream source serves a shallow clone: snapshot, own tail, source isolation") {
    import graft.sources.DeltaTable
    val base = java.nio.file.Files.createTempDirectory("graft-stream-clone")
    val (src, tgt, out, ckpt) =
      (s"$base/src", s"$base/tgt", s"$base/out", s"$base/ckpt")
    DeltaTable.write(spark.createDataFrame(Seq((1L, "a"), (2L, "b")))
      .toDF("id", "v"), src, "overwrite")
    DeltaTable.shallowClone(src, tgt)
    def pump(): Unit = {
      val q = spark.readStream.format("graft-delta").load(tgt)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out).start()
      q.processAllAvailable(); q.stop()
    }
    pump() // initial batch: the clone's snapshot (absolute source refs)
    assert(spark.read.parquet(out).count() === 2)
    // the clone's OWN append is tailed...
    DeltaTable.write(spark.createDataFrame(Seq((3L, "c")))
      .toDF("id", "v"), tgt, "append")
    // ...while a source append is invisible to the clone's stream
    DeltaTable.write(spark.createDataFrame(Seq((99L, "x")))
      .toDF("id", "v"), src, "append")
    pump()
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }

  test("delta source rate limit: backlog spreads over micro-batches") {
    import graft.sources.DeltaLog
    val base = java.nio.file.Files.createTempDirectory("graft-delta-rate")
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    Seq(Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      .toDF().write.format("graft-delta").save(src) // v0
    val q0 = spark.readStream.format("graft-delta")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q0.processAllAvailable()
    // build a 3-version backlog while the query sits between triggers
    for (i <- 1 to 3)
      Seq(Event(i.toLong, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
        .toDF().write.format("graft-delta").mode("append").save(src)
    q0.processAllAvailable()
    q0.stop()
    // all rows arrived, and the cap forced one sink commit per source
    // version instead of one giant batch (v0 snapshot + 3 capped)
    assert(spark.read.format("graft-delta").load(dst)
      .select("event_id").as[Long].collect().sorted === Array(0L, 1L, 2L, 3L))
    assert(DeltaLog.versions(dst).length >= 4,
      s"expected >=4 sink versions, got ${DeltaLog.versions(dst)}")
  }

  test("maxFilesPerTrigger: snapshot and multi-file commits split by " +
      "file; Trigger.Once parks mid-version; restart resumes exactly; " +
      "dropping the option mid-version refuses loudly") {
    import graft.sources.DeltaLog
    val base = java.nio.file.Files.createTempDirectory("graft-delta-frate")
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    def events(ids: Range) = ids.map(i =>
      Event(i.toLong, ts("2024-01-01 10:00:00"), 1, "click", 1.0)).toDF()
    // v0: a 4-file snapshot
    events(0 until 8).repartition(4)
      .write.format("graft-delta").save(src)
    assert(DeltaLog.snapshot(src).files.length === 4)
    def capped() = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "3").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
    // ONE trigger under cap 3 parks the offset mid-snapshot (3 of 4)
    val q1 = capped().trigger(
      org.apache.spark.sql.streaming.Trigger.Once()).start()
    q1.awaitTermination()
    val delivered1 = spark.read.format("graft-delta").load(dst).count()
    assert(delivered1 > 0L && delivered1 < 8L,
      s"expected a strict subset of the snapshot after one trigger, got $delivered1 rows")
    // the checkpointed offset is parked at file 3 of the snapshot
    // pseudo-version
    val offset0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "offsets", "0")), "UTF-8")
    assert(offset0.contains("\"index\":3") && offset0.contains("\"snap\":true"),
      s"unexpected first offset: $offset0")
    // restarting WITHOUT the option against the mid-version park refuses
    val qBad = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.processAllAvailable() }
    assert(e.getMessage.contains("parked mid-version") ||
      Option(e.getCause).exists(_.getMessage.contains("parked mid-version")))
    // resume WITH the option: remainder of the snapshot, then a
    // 5-file backlog (4-file append + 1-file append, with a compact
    // in between that must contribute nothing), each batch <= 3 files
    events(8 until 16).repartition(4)
      .write.format("graft-delta").mode("append").save(src) // v1: 4 files
    graft.sources.DeltaTable.compact(spark, src)            // v2: layout-only
    events(16 until 18).coalesce(1)
      .write.format("graft-delta").mode("append").save(src) // v3: 1 file
    val q2 = capped().start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.format("graft-delta").load(dst)
      .select("event_id").as[Long].collect().sorted
    assert(got === (0L until 18L).toArray,
      s"lost or duplicated rows: ${got.toSeq}")
    // the cap forced multiple sink commits (batches), not one giant one
    assert(DeltaLog.versions(dst).length >= 4,
      s"expected >=4 sink versions under the cap, got ${DeltaLog.versions(dst)}")
  }

  test("file-capped restart: an UNCOMMITTED first batch replays from the " +
      "checkpointed offset even when the table committed before the " +
      "restart — no silent row loss") {
    // The failure this pins (round-10 ADVICE high): getBatch(start=None)
    // used to derive `from` from the RESTARTED source's current snapshot;
    // a commit landing between the original offer and the restart made
    // from.version > end.version, the replay delivered zero rows, and
    // the first <cap> snapshot files were marked delivered forever.
    import graft.sources.DeltaLog
    val base = java.nio.file.Files.createTempDirectory("graft-delta-uncommitted")
    val (src, ckpt) = (s"$base/src", s"$base/ckpt")
    def events(ids: Range) = ids.map(i =>
      Event(i.toLong, ts("2024-01-01 10:00:00"), 1, "click", 1.0)).toDF()
    // v0: a 4-file snapshot (8 rows)
    events(0 until 8).repartition(4).write.format("graft-delta").save(src)
    assert(DeltaLog.snapshot(src).files.length === 4)
    def capped = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "3").load(src)
    // first run: the sink THROWS, so offsets/0 is WAL'd (3 of 4
    // snapshot files) but the batch never commits
    val q1 = capped.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("die before commit") }
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination() }
    val offset0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "offsets", "0")), "UTF-8")
    assert(offset0.contains("\"snap\":true") && !java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "commits", "0")),
      s"test setup: expected an uncommitted snapshot-mode first offset, got $offset0")
    // the table takes a commit BETWEEN the offer and the restart
    events(8 until 10).coalesce(1)
      .write.format("graft-delta").mode("append").save(src) // v1
    // restart: batch 0 must redeliver exactly the checkpointed range
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q2 = capped.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.select("event_id").collect().foreach(r =>
          got.synchronized { got += ((id, r.getLong(0))) }); () }
      .outputMode(OutputMode.Append()).start()
    q2.processAllAvailable()
    q2.stop()
    val batch0 = got.filter(_._1 == 0L).map(_._2).sorted
    // the buggy path delivered ZERO rows here (file sizes are uneven
    // under hash partitioning, so assert membership not cardinality)
    assert(batch0.nonEmpty && batch0.forall(_ < 8L),
      s"replayed first batch must carry the checkpointed snapshot files, " +
        s"got ${batch0.toSeq}")
    assert(got.map(_._2).sorted.toSeq === (0L until 10L).toSeq,
      s"rows lost or duplicated across the restart: ${got.toSeq.sorted}")
  }

  test("maxBytesPerTrigger: a byte budget below any file size admits " +
      "exactly one file per batch — oversized files never stall") {
    import graft.sources.DeltaLog
    val base = java.nio.file.Files.createTempDirectory("graft-delta-brate")
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    (0 until 6).map(i =>
      Event(i.toLong, ts("2024-01-01 10:00:00"), 1, "click", 1.0)).toDF()
      .repartition(3).write.format("graft-delta").save(src) // 3-file snapshot
    val nFiles = DeltaLog.snapshot(src).files.length
    assert(nFiles === 3)
    val q = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.read.format("graft-delta").load(dst)
      .select("event_id").as[Long].collect().sorted === (0L until 6L).toArray)
    // one sink commit per source file: the at-least-one rule admitted
    // exactly one over-budget file per batch
    assert(DeltaLog.versions(dst).length === nFiles,
      s"expected $nFiles one-file batches, got ${DeltaLog.versions(dst)}")
  }

  test("streaming dedup: each fingerprint emitted once across batches and restarts") {
    import graft.streaming.StreamingOps.Doc
    val base = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def drop(docs: (Long, String)*): Unit =
      docs.map { case (id, t) => Doc(id, t, "en", "s", t.length.toLong) }
        .toDF().write.mode("append").parquet(src)
    drop(0L -> "alpha text", 1L -> "beta text")
    val q1 = StreamingOps.dedupIngestPipeline(spark, src, out, ckpt)
    q1.processAllAvailable()
    // same content, later batch (and whitespace-normalized variant)
    drop(2L -> "alpha   text", 3L -> "gamma text")
    q1.processAllAvailable()
    q1.stop()
    val fps1 = spark.read.parquet(out).select("fingerprint").as[String]
      .collect().sorted
    assert(fps1.length === 3, s"expected 3 distinct fingerprints, got ${fps1.toSeq}")
    assert(fps1.distinct.length === 3)
    // restart from the checkpoint: previously-seen content stays suppressed
    drop(4L -> "beta text", 5L -> "delta text")
    val q2 = StreamingOps.dedupIngestPipeline(spark, src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val fps2 = spark.read.parquet(out).select("fingerprint").as[String]
      .collect().sorted
    assert(fps2.length === 4) // only "delta text" was new
    assert(fps2.distinct.length === 4)
  }

  test("streaming incremental near-dup: each batch dedups against the " +
      "growing index, exactly-once across restarts") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-stream-neardup")
    val (src, pairs, ckpt, stage) =
      (s"$base/src", s"$base/pairs", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    val baseText = "the quick brown fox jumps over the lazy dog near the " +
      "old river bank while morning light filters through tall green " +
      "trees onto the quiet path"
    val novel = "novel content sharing no phrasing with anything already indexed"
    def doc(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    Seq(doc(0, baseText), doc(1, baseText.replace("quiet", "narrow")),
      doc(2, "completely different words about spark catalyst optimizer " +
        "plans and shuffles here"),
      doc(3, "yet another unrelated document describing broadcast joins " +
        "and partition pruning"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    // seed index built once; its staged files must survive the whole run
    val seedFiles = DedupOps.stagedShingleArrays(spark, seedDir).inputFiles.toSet
    def fileMtime(uri: String) = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(java.net.URI.create(uri))).toMillis
    val seedMtimes = seedFiles.map(f => f -> fileMtime(f)).toMap
    def appendDocs(rows: (Long, String)*): Unit = rows.toSeq
      .map { case (i, t) => doc(i, t) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-delta").mode("append").save(src)
    def pairRows() = spark.read.format("graft-delta").load(pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // batch 1: one near-dup of a seed doc, one novel doc
    appendDocs(100L -> (baseText + " tonight"), 101L -> novel)
    val q1 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q1.processAllAvailable()
    val after1 = pairRows()
    assert(after1.toSet.contains((0L, 100L)))
    assert(!after1.exists(p => p._1 == 101L || p._2 == 101L),
      "the novel doc has no near-dups yet")
    // batch 2: near-dup of a PREVIOUS BATCH doc — findable only
    // because the index grew; the seed corpus is never re-shingled
    appendDocs(200L -> (novel + " tonight"))
    q1.processAllAvailable()
    q1.stop()
    assert(pairRows().toSet.contains((101L, 200L)))
    // restart on the same checkpoint; batch 3 near-dups doc 200
    appendDocs(300L -> (novel + " tonight again"))
    val q2 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = pairRows()
    assert(got.size === got.toSet.size, "replays must not duplicate pairs")
    // ground truth: batch recompute over seed ∪ every streamed doc,
    // restricted to pairs whose LATER doc is streamed (each pair lands
    // in the batch that brings its later doc)
    val combined = s"$base/combined"
    spark.read.parquet(s"$seedDir/documents.parquet")
      .unionByName(spark.read.format("graft-delta").load(src))
      .write.parquet(s"$combined/documents.parquet")
    val expected = DedupOps.q31NgramJaccard(spark, combined)
      .filter(col("doc_b") >= 100L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet === expected)
    seedMtimes.foreach { case (f, m) =>
      assert(fileMtime(f) === m, s"seed index file rewritten: $f") }
  }

  test("staged corpus: the near-dup batch plan has the same scans and " +
      "codegen stage ids over 1 prior dir and over 5") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
    val root = java.nio.file.Files.createTempDirectory("graft-corpus-shape")
    val dirs = (0 until 7).map { i =>
      val d = root.resolve(s"batch-$i").toString
      DedupOps.shingleArrays(Seq((i.toLong,
          s"document $i on staged lineage and the plans it compiles"))
        .toDF("doc_id", "text"), spread = false).write.parquet(d)
      d
    }
    val seed = spark.read.parquet(dirs.head)
    val bdir = dirs.last
    // the nearDupIngestPipeline batch plan over `prior` staged dirs
    def shape(prior: Seq[String]): (Int, Seq[Int], Long) = {
      val newArrays = spark.read.schema(seed.schema).parquet(bdir)
      val pairs = DedupOps.incrementalNearDupsFrom(
        StreamingOps.stagedCorpus(spark, seed, seed.schema, prior :+ bdir),
        newArrays, 0.5)
      val p = pairs.queryExecution.executedPlan
      (p.collect { case s: FileSourceScanExec => s }.size,
        p.collect { case w: WholeStageCodegenExec => w.codegenStageId },
        pairs.count())
    }
    // static plans: AQE would assign stage ids only as stages run
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val (scans1, ids1, n1) = shape(dirs.slice(1, 2))
      val (scans5, ids5, n5) = shape(dirs.slice(1, 6))
      assert(scans1 === scans5, "a staged dir must not add a scan")
      assert(ids1 === ids5, "codegen stage ids must not shift with depth")
      assert(ids1.nonEmpty)
      // the doc texts share their tails: more corpus, more pairs
      assert(n5 > n1)
    } finally spark.conf.set(key, prev)
  }

  test("streaming burst alerts: finalized days score against the " +
      "per-type PREFIX Welford state, spike flags, exactly-once " +
      "across restart") {
    import graft.sources.DeltaTable
    val base = java.nio.file.Files.createTempDirectory("graft-stream-burst")
    val (src, alerts, state, ckpt) =
      (s"$base/src", s"$base/alerts", s"$base/state", s"$base/ckpt")
    var id = 0L
    def dayEvents(day: Int, typ: String, n: Int): Unit = {
      val rows = (0 until n).map { k =>
        id += 1
        Event(id, ts(f"2024-01-$day%02d 10:${k % 60}%02d:${k / 60}%02d"),
          1L, typ, 1.0)
      }
      rows.toDF().write.format("graft-delta").mode("append").save(src)
    }
    def alertRows() = spark.read.format("graft-delta").load(alerts)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // days 1-4 for 'click' (2/3/2/3 events — a stable band), constant
    // 'view' 2/day; all delivered before the stream starts so ONE
    // batch finalizes days 1-3 when day-4 data advances the watermark
    for (d <- 1 to 4) { dayEvents(d, "click", if (d % 2 == 1) 2 else 3)
      dayEvents(d, "view", 2) }
    val q1 = StreamingOps.burstAlertPipeline(spark, src, alerts, state, ckpt)
    q1.processAllAvailable()
    q1.stop()
    // day 5: the spike (20 click events) + day-6 filler to flush day 5
    dayEvents(5, "click", 20); dayEvents(5, "view", 2)
    val q2 = StreamingOps.burstAlertPipeline(spark, src, alerts, state, ckpt)
    q2.processAllAvailable()
    dayEvents(6, "click", 2); dayEvents(6, "view", 2)
    q2.processAllAvailable()
    q2.stop()
    val got = alertRows()
    // driver-side ground truth: prefix Welford in day order
    def prefixZ(counts: Seq[Long]): Seq[(Double, Boolean)] = {
      var (cn, mean, m2) = (0L, 0.0, 0.0)
      counts.map { n =>
        val std = if (cn >= 2) math.sqrt(m2 / (cn - 1)) else 0.0
        val z = if (std == 0.0) 0.0
          else BigDecimal((n - mean) / std)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        cn += 1; val d = n - mean; mean += d / cn; m2 += d * (n - mean)
        (z, math.abs(z) > 2.0)
      }
    }
    val clickCounts = Seq(2L, 3L, 2L, 3L, 20L)
    val wantClick = prefixZ(clickCounts)
    for ((d, i) <- (1 to 5).zipWithIndex) {
      val day = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
        .getTime / 1000
      val (n, z, burst) = got(("click", day))
      assert(n === clickCounts(i))
      assert((z, burst) === wantClick(i),
        s"click day $d: got ($z,$burst) want ${wantClick(i)}")
    }
    // the spike day is the only click alert; constant 'view' never flags
    assert(got.count { case ((t, _), (_, _, b)) => t == "click" && b } === 1)
    assert(got.filter(_._1._1 == "view").values.forall(v => !v._3))
    // day 6 not finalized (watermark) → absent; no duplicate alerts
    // across the restart (exactly-once ledgers)
    val day6 = java.sql.Timestamp.valueOf("2024-01-06 00:00:00").getTime / 1000
    assert(!got.contains(("click", day6)))
    // state table: exactly one row per type, n == finalized day count
    val st = DeltaTable.read(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st === Map("click" -> 5L, "view" -> 5L))
  }

  test("staged-state compaction: results unchanged across a mid-stream " +
      "compaction + restart, lineage collapses to one compact dir, " +
      "stamp preserved, idempotent") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-compact")
    val (src, pairs, ckpt, stage) =
      (s"$base/src", s"$base/pairs", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    val baseText = "the quick brown fox jumps over the lazy dog near the " +
      "old river bank while morning light filters through tall green " +
      "trees onto the quiet path"
    val novel = "novel content sharing no phrasing with anything already indexed"
    val other = "entirely separate passage describing watermarks state " +
      "stores and checkpoint recovery in structured streaming pipelines"
    def doc(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    Seq(doc(0, baseText), doc(1, other))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    def appendDocs(rows: (Long, String)*): Unit = rows.toSeq
      .map { case (i, t) => doc(i, t) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-delta").mode("append").save(src)
    def pairRows() = spark.read.format("graft-delta").load(pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def stagedNames() = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("batch-") || n.startsWith("compact-"))
          .toSeq.sorted
      } finally s.close()
    }
    // three batches, one per processAllAvailable drain
    appendDocs(100L -> (baseText + " tonight"), 101L -> novel)
    val q1 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q1.processAllAvailable()
    appendDocs(200L -> (novel + " tonight"))
    q1.processAllAvailable()
    appendDocs(201L -> (other + " indeed"))
    q1.processAllAvailable()
    q1.stop()
    val before = pairRows()
    assert(stagedNames() === Seq("batch-0", "batch-1", "batch-2"))
    val stamp = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stage, "_graft_checkpoint")).toSeq
    // the operator cue fires on lineage, like sustainedDrift on drift
    assert(StreamingOps.shouldCompact(stage, maxDirs = 2))
    assert(!StreamingOps.shouldCompact(stage, maxDirs = 3))
    // fold batches 0+1; the newest (2) must stay out — it is the only
    // one a restart could replay
    assert(StreamingOps.compactStagedState(spark, stage) === Some(1L))
    assert(!StreamingOps.shouldCompact(stage, maxDirs = 2),
      "post-fold lineage is compact + newest = 2 dirs")
    assert(stagedNames() === Seq("batch-2", "compact-1"))
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stage, "_graft_checkpoint")).toSeq === stamp,
      "compaction must preserve the checkpoint-identity stamp")
    // compact content == the union of what batches 0+1 staged
    val compacted = spark.read.parquet(s"$stage/compact-1")
      .select("doc_id").as[Long].collect().toSet
    assert(compacted === Set(100L, 101L, 200L))
    // idempotent: nothing new to fold
    assert(StreamingOps.compactStagedState(spark, stage) === None)
    assert(stagedNames() === Seq("batch-2", "compact-1"))
    // restart on the SAME checkpoint; batch 3 near-dups docs from the
    // seed, a COMPACTED batch, and the out-of-fold batch — all three
    // corpus layers must serve
    appendDocs(300L -> (novel + " tonight again"),
      301L -> (other + " indeed truly"))
    val q2 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = pairRows()
    assert(before.subsetOf(got), "compaction must not lose prior pairs")
    // ground truth: the same batch recompute the uncompacted test pins
    val combined = s"$base/combined"
    spark.read.parquet(s"$seedDir/documents.parquet")
      .unionByName(spark.read.format("graft-delta").load(src))
      .write.parquet(s"$combined/documents.parquet")
    val expected = DedupOps.q31NgramJaccard(spark, combined)
      .filter(col("doc_b") >= 100L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected,
      s"compaction changed results: got=$got want=$expected")
    // a second compaction folds compact-1 + batch-2, keeps the newest
    // batch-3 out (the replay-safety rule, every time)
    assert(StreamingOps.compactStagedState(spark, stage) === Some(2L))
    assert(stagedNames() === Seq("batch-3", "compact-2"))
    // ENGINE-TRIGGERED composition (round 17, verdict #7): the
    // cue-then-fold helper folds exactly when shouldCompact fires —
    // at 2 dirs <= maxDirs it is a no-op…
    assert(StreamingOps.maybeCompactStagedState(spark, stage, maxDirs = 2)
      === None)
    assert(stagedNames() === Seq("batch-3", "compact-2"))
    // …and a crashed compaction's orphaned .tmp dir is retired by the
    // next fold pass, whichever branch it takes (round-17 ADVICE: the
    // folded-dir cleanup only matched compact-N/batch-N, so a .tmp
    // leaked across crashes forever)
    val orphan = java.nio.file.Paths.get(stage, "compact-99.tmp")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-junk"),
      Array[Byte](1, 2, 3))
    assert(StreamingOps.maybeCompactStagedState(spark, stage, maxDirs = 2)
      === None, "the orphan .tmp must not count as lineage")
    // the no-fold branch runs compactStagedState only when the cue
    // fires, so delete via the fold path: stage one more batch to trip
    // the cue, then let the engine-triggered fold both compact AND
    // sweep the orphan
    appendDocs(400L -> (baseText + " once more tonight"))
    val q3 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q3.processAllAvailable()
    q3.stop()
    assert(stagedNames().filterNot(_.endsWith(".tmp"))
      === Seq("batch-3", "batch-4", "compact-2"))
    assert(java.nio.file.Files.exists(orphan),
      "the orphan only retires on a fold pass")
    assert(StreamingOps.maybeCompactStagedState(spark, stage, maxDirs = 2)
      === Some(3L), "3 dirs > maxDirs=2: the cue must trigger the fold")
    assert(stagedNames() === Seq("batch-4", "compact-3"))
    assert(!java.nio.file.Files.exists(orphan),
      "compaction must retire orphaned compact-*.tmp dirs")
    // the folded corpus still serves: one more batch near-dups against
    // seed + compact + out-of-fold layers exactly as before
    appendDocs(500L -> (novel + " tonight again truly"))
    val q4 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, ckpt, stage)
    q4.processAllAvailable()
    q4.stop()
    val combined2 = s"$base/combined2"
    spark.read.parquet(s"$seedDir/documents.parquet")
      .unionByName(spark.read.format("graft-delta").load(src))
      .write.parquet(s"$combined2/documents.parquet")
    val expected2 = DedupOps.q31NgramJaccard(spark, combined2)
      .filter(col("doc_b") >= 100L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairRows() === expected2,
      "engine-triggered compaction changed results")
  }

  test("streaming exact-substring dedup: batch spans == the batch q131 " +
      "recompute on streamed docs, exactly-once across restarts") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-stream-substr")
    val (src, spansT, ckpt, stage) =
      (s"$base/src", s"$base/spans", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val seedRun = toks("alpha", 40)          // 40 tokens, 11 windows
    val novelRun = toks("nova", 40)
    val sharedRun = toks("shared", 32)       // 32 tokens, 3 windows
    def doc(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    Seq(doc(0, seedRun), doc(1, toks("beta", 35)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    def appendDocs(rows: (Long, String)*): Unit = rows.toSeq
      .map { case (i, t) => doc(i, t) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-delta").mode("append").save(src)
    def spanRows() = spark.read.format("graft-delta").load(spansT)
      .select("doc_id", "span_start", "span_end", "n_windows").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSeq
    // batch 1: doc 100 copies the first 34 tokens of seed doc 0 (5
    // shared windows -> one [0, 34) span); 101 is novel; 102/103 share
    // a 32-token run that exists NOWHERE else (within-batch rule:
    // keeper 102, span only on 103); 104 repeats a window INSIDE
    // itself only (single-doc hash, must NOT flag — the nd>1 rule)
    val selfRepeat = toks("selfy", 30) + " bridgetok " + toks("selfy", 30)
    appendDocs(
      100L -> (seedRun.split(" ").take(34).mkString(" ") + " " +
        toks("tail", 6)),
      101L -> novelRun,
      102L -> (sharedRun + " " + toks("left", 4)),
      103L -> (sharedRun + " " + toks("right", 4)),
      104L -> selfRepeat)
    val q1 = StreamingOps.substrIngestPipeline(
      spark, seedDir, src, spansT, ckpt, stage)
    q1.processAllAvailable()
    val after1 = spanRows()
    assert(after1.exists(_._1 == 100L), "seed-copy span must flag")
    assert(after1.exists(_._1 == 103L) && !after1.exists(_._1 == 102L),
      "within-batch keeper: first doc keeps, second flags")
    assert(!after1.exists(_._1 == 101L), "novel doc has no span yet")
    assert(!after1.exists(_._1 == 104L),
      "a hash repeating only inside ONE doc is not duplicated text")
    // batch 2: doc 200 copies batch-1's novel doc — findable only
    // because the staged hash set grew; the seed is never re-hashed
    appendDocs(200L -> novelRun)
    q1.processAllAvailable()
    q1.stop()
    assert(spanRows().exists(s => s._1 == 200L && s._2 == 0 && s._3 == 40))
    // restart on the same checkpoint; batch 3 copies doc 200's text
    // plus a fresh tail
    appendDocs(300L -> (novelRun + " " + toks("extra", 3)))
    val q2 = StreamingOps.substrIngestPipeline(
      spark, seedDir, src, spansT, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = spanRows()
    assert(got.size === got.toSet.size, "replays must not duplicate spans")
    // ground truth: the batch q131 over seed ∪ every streamed doc,
    // restricted to streamed ids (ingest order == id order here, so
    // the streaming first-arrival keeper IS the batch min-id keeper)
    val combined = s"$base/combined"
    spark.read.parquet(s"$seedDir/documents.parquet")
      .unionByName(spark.read.format("graft-delta").load(src))
      .write.parquet(s"$combined/documents.parquet")
    val expected = DedupOps.queries("q131_substring_dedup")(spark, combined)
      .filter(col("doc_id") >= 100L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got.toSet === expected,
      s"stream/batch span divergence:\n got ${got.toSet}\n exp $expected")
  }

  test("streaming cleaned-corpus emission: per-batch cleaned rows == the " +
      "batch q133 recompute on streamed docs, exactly-once across restarts") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-stream-clean")
    val (src, spansT, cleanT, ckpt, stage) =
      (s"$base/src", s"$base/spans", s"$base/clean", s"$base/ckpt",
        s"$base/stage")
    val seedDir = s"$base/seed"
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val seedRun = toks("alpha", 40)
    val novelRun = toks("nova", 40)
    def doc(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    Seq(doc(0, seedRun), doc(1, toks("beta", 35)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    def appendDocs(rows: (Long, String)*): Unit = rows.toSeq
      .map { case (i, t) => doc(i, t) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-delta").mode("append").save(src)
    // batch 1: a seed-copy (affected), a novel doc (clean), a
    // within-batch pair (keeper clean, second affected)
    val sharedRun = toks("shared", 32)
    appendDocs(
      100L -> (seedRun.split(" ").take(34).mkString(" ") + " " +
        toks("tail", 6)),
      101L -> novelRun,
      102L -> (sharedRun + " " + toks("left", 4)),
      103L -> (sharedRun + " " + toks("right", 4)))
    val q1 = StreamingOps.substrCleanIngestPipeline(
      spark, seedDir, src, spansT, cleanT, ckpt, stage)
    q1.processAllAvailable()
    // batch 2: copy batch-1's novel doc (affected via the staged set)
    appendDocs(200L -> novelRun)
    q1.processAllAvailable()
    q1.stop()
    // restart on the same checkpoint; one more batch
    appendDocs(300L -> (novelRun + " " + toks("extra", 3)))
    val q2 = StreamingOps.substrCleanIngestPipeline(
      spark, seedDir, src, spansT, cleanT, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.format("graft-delta").load(cleanT)
      .select("doc_id", "n_kept", "cleaned_hash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got.size === got.toSet.size,
      "replays must not duplicate cleaned rows")
    assert(got.map(_._1).toSet ===
      Set(100L, 101L, 102L, 103L, 200L, 300L),
      "every streamed doc gets exactly one cleaned row")
    // ground truth: batch q133 over seed ∪ every streamed doc,
    // restricted to streamed ids (ingest order == id order, so the
    // streaming first-arrival keeper IS the batch min-id keeper)
    val combined = s"$base/combined"
    spark.read.parquet(s"$seedDir/documents.parquet")
      .unionByName(spark.read.format("graft-delta").load(src))
      .write.parquet(s"$combined/documents.parquet")
    val expected = DedupOps.queries("q133_cleaned_text")(spark, combined)
      .filter(col("doc_id") >= 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got.toSet === expected,
      s"stream/batch cleaned divergence:\n got ${got.toSet}\n exp $expected")
    // the affected/clean split is the constructed one
    val affected = got.filter(g =>
      spark.read.format("graft-delta").load(spansT)
        .filter(col("doc_id") === g._1).count() > 0).map(_._1).toSet
    assert(affected === Set(100L, 103L, 200L, 300L))
  }

  test("streaming incremental SQ8: frozen-codebook batches, exactly-once " +
      "across restarts, serving index == batch refresh") {
    import graft.operators.SimilarityOps
    import org.apache.spark.sql.functions.col
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    val base = java.nio.file.Files.createTempDirectory("graft-stream-sq")
    val (src, codes, ckpt, stage) =
      (s"$base/src", s"$base/codes", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    val twinDir = s"$base/twin" // batch-refresh ground truth corpus
    def vec(id: Long, off: Float): (Long, Array[Float]) =
      (id, Array.tabulate(8)(j => off + ((id * 31 + j * 7) % 100) / 100.0f))
    val seedVecs = (0L until 10L).map(vec(_, 0.0f))
    for (d <- Seq(seedDir, twinDir))
      seedVecs.toDF("vec_id", "embedding")
        .write.parquet(s"$d/embeddings.parquet")
    // build BOTH indexes from the seed alone: identical frozen params
    assert(SimilarityOps.stagedSqRecon(spark, seedDir).count() === 80)
    assert(SimilarityOps.stagedSqRecon(spark, twinDir).count() === 80)
    def appendVecs(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .write.format("graft-delta").mode("append").save(src)
    // off=1.5 pushes values past the frozen per-dimension ranges, so
    // the stream exercises the saturation contract too
    val b1 = Seq(vec(100L, 1.5f), vec(101L, 0.2f))
    val b2 = Seq(vec(102L, -0.7f))
    val b3 = Seq(vec(103L, 0.4f))
    appendVecs(b1)
    val q1 = StreamingOps.sqIngestPipeline(
      spark, seedDir, src, codes, ckpt, stage)
    q1.processAllAvailable()
    appendVecs(b2)
    q1.processAllAvailable()
    q1.stop()
    // kill/restart on the same checkpoint: batch 3 only, no replays
    appendVecs(b3)
    val q2 = StreamingOps.sqIngestPipeline(
      spark, seedDir, src, codes, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getDouble(2))
    val out = spark.read.format("graft-delta").load(codes)
      .select("vec_id", "pos", "r").collect().map(key)
    assert(out.length === 4 * 8, s"expected 32 code rows, got ${out.length}")
    assert(out.distinct.length === out.length,
      "replays must not duplicate code rows in the output table")
    // ground truth: the BATCH incremental path over the same appends —
    // append all streamed vectors to the twin corpus, advance its
    // mtime, refreshSqIndex in the same batch grouping
    val streamed = b1 ++ b2 ++ b3
    streamed.toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$twinDir/embeddings.parquet")
    val twinPath = JP.get(s"$twinDir/embeddings.parquet")
    JF.setLastModifiedTime(twinPath, FileTime.fromMillis(
      JF.getLastModifiedTime(twinPath).toMillis + 1500))
    assert(SimilarityOps.refreshSqIndex(spark, twinDir,
      streamed.toDF("vec_id", "embedding")).nonEmpty)
    val batchIdx = SimilarityOps.stagedSqRecon(spark, twinDir)
      .select("vec_id", "pos", "r").collect().map(key).toSet
    val streamIdx = StreamingOps.sqServingRecon(spark, seedDir, stage)
      .select("vec_id", "pos", "r").collect().map(key).toSet
    assert(streamIdx === batchIdx,
      "streaming serving index must equal the batch incremental refresh")
    // the streamed codes really saturated (off=1.5 exceeds every range)
    val maxR = spark.read.format("graft-delta").load(codes)
      .filter(col("vec_id") === 100L).agg(
        org.apache.spark.sql.functions.max(col("r"))).head().getDouble(0)
    val maxSeed = SimilarityOps.stagedSqRecon(spark, seedDir)
      .filter(col("vec_id") < 100L).agg(
        org.apache.spark.sql.functions.max(col("r"))).head().getDouble(0)
    assert(maxR <= maxSeed + 1e-9,
      "out-of-range batch values must saturate at the frozen range edge")
    // maintenance metric: every processed batch emitted a drift
    // fraction (log-only — the rebuild decision lives outside the
    // micro-batch); one entry per staged batch, each a valid fraction
    val drift = StreamingOps.sqIngestDriftLog(stage)
    assert(drift.keySet === Set(0L, 1L, 2L),
      s"expected one drift entry per batch, got ${drift.keySet}")
    assert(drift.values.forall(v => v >= 0.0 && v <= 1.0), drift.toString)
    // the between-batches rebuild cue: three fabricated high-drift
    // batches trip it, the real (near-seed) batches must not have
    val fake = java.nio.file.Files.createTempDirectory("graft-driftlog")
    java.nio.file.Files.createDirectories(fake.resolve("_drift"))
    for (i <- 0 to 2)
      java.nio.file.Files.write(fake.resolve("_drift").resolve(i.toString),
        "0.9".getBytes("UTF-8"))
    assert(StreamingOps.sustainedDrift(fake.toString),
      "three batches past threshold must cue a rebuild")
    assert(!StreamingOps.sustainedDrift(stage, threshold = 1.1),
      "no batch can exceed an impossible threshold")
    assert(!StreamingOps.sustainedDrift(fake.toString, window = 4),
      "a window larger than the log must not cue")
  }

  test("streaming perceptual media near-dup: batch pairs vs the growing " +
      "fingerprint index, exactly-once across a restart") {
    import graft.operators.MultimodalOps
    val base = java.nio.file.Files.createTempDirectory("graft-stream-media")
    val (src, pairsT, ckpt, stage) =
      (s"$base/src", s"$base/pairs", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    val seedText = "the quick brown fox jumps over the lazy dog near the " +
      "old river bank while morning light filters through tall trees"
    val novel = "completely different content describing broadcast joins " +
      "partition pruning adaptive execution and shuffle services today"
    def swap(t: String): String = // q136's local-noise edit
      t.substring(0, 4) + t.charAt(5) + t.charAt(4) + t.substring(6)
    val other = "numbers and letters arranged without any resemblance " +
      "to either fixture string qqq www eee rrr ttt yyy uuu iii ooo ppp"
    Seq((0L, seedText, "en", "s", seedText.length.toLong),
      (1L, "short", "en", "s", 5L), // under the 60-char gate
      (2L, other, "en", "s", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    def appendMedia(rows: (Long, String)*): Unit = rows.toSeq
      .toDF("media_id", "text")
      .write.format("graft-delta").mode("append").save(src)
    def pairRows() = spark.read.format("graft-delta").load(pairsT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // batch 1: a noisy re-encode of seed item 0 + a genuinely new item
    appendMedia(100L -> swap(seedText), 101L -> novel)
    val q1 = StreamingOps.mediaNeardupIngestPipeline(
      spark, seedDir, src, pairsT, ckpt, stage)
    q1.processAllAvailable()
    val after1 = pairRows()
    assert(after1.contains((0L, 100L)),
      s"noisy re-encode must pair with its seed original: $after1")
    assert(!after1.exists(p => p._1 == 101L || p._2 == 101L),
      s"the novel item has no perceptual match yet: $after1")
    // batch 2: a noisy copy of the PREVIOUS BATCH's novel item —
    // findable only because the fingerprint index grew
    appendMedia(200L -> swap(novel))
    q1.processAllAvailable()
    q1.stop()
    assert(pairRows().contains((101L, 200L)))
    // restart on the same checkpoint; batch 3 pairs with item 200
    appendMedia(300L -> (swap(novel).substring(0, novel.length - 6) + " extra"))
    val q2 = StreamingOps.mediaNeardupIngestPipeline(
      spark, seedDir, src, pairsT, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = pairRows()
    assert(got.size === got.toSet.size, "replays must not duplicate pairs")
    // ground truth: brute-force hamming<=3 over ALL fingerprints
    // (seed + streamed), restricted to pairs whose LATER member is
    // streamed (each pair lands in the batch bringing its later item)
    import spark.implicits._
    val allItems = Seq(0L -> seedText, 2L -> other,
      100L -> swap(seedText), 101L -> novel, 200L -> swap(novel),
      300L -> (swap(novel).substring(0, novel.length - 6) + " extra"))
    val fps = MultimodalOps.mediaAHash(allItems.toDF("media_id", "text"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = (for {
      i <- fps.indices.iterator; j <- (i + 1) until fps.length
      if java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2) <= 3
      if fps(j)._1 >= 100L // later member is streamed
    } yield (fps(i)._1, fps(j)._1)).toSet
    assert(got.toSet === expected,
      s"streamed pairs != brute-force ground truth: got=${got.toSet} want=$expected")
  }

  test("streaming incremental semantic dedup: labels == from-scratch " +
      "clustering, cluster merge across a restart, exactly-once") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-semcc")
    val (src, labelsT, ckpt, stage) =
      (s"$base/src", s"$base/labels", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // the q141 merge fixture's geometry: clusters A={0,1}, B={10,11},
    // three orthogonal loners — celled pairing is exact on it
    val seed = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.999, 0.01, 0, 0, 0, 0, 0, 0)),
      (10L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (11L, v(0, 0, 0.999, 0.01, 0, 0, 0, 0)),
      (20L, v(0, 0, 0, 0, 1, 0, 0, 0)),
      (21L, v(0, 0, 0, 0, 0, 1, 0, 0)),
      (22L, v(0, 0, 0, 0, 0, 0, 1, 0)))
    seed.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$seedDir/embeddings.parquet")
    val b1 = Seq(100L -> v(0.998, 0.02, 0, 0, 0, 0, 0, 0), // joins A
      101L -> v(0, 0, 0, 0, 0, 0, 0, 1)) // novel
    val b2 = Seq(200L -> v(0, 0, 0, 0, 0, 0, 0.01, 0.999)) // pairs w/ 101
    val b3 = Seq(300L -> v(0.707, 0, 0.707, 0, 0, 0, 0, 0)) // bridges A+B
    def appendVecs(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .write.format("graft-delta").mode("append").save(src)
    def labelRows() = spark.read.format("graft-delta").load(labelsT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    appendVecs(b1)
    val q1 = StreamingOps.semanticIngestPipeline(
      spark, seedDir, src, labelsT, ckpt, stage)
    q1.processAllAvailable()
    val after1 = labelRows().toMap
    assert(after1(100L) === 0L, s"re-crawl dup must join cluster A: $after1")
    assert(!after1.contains(101L), "the novel vector has no cluster yet")
    // batch 2 pairs with a PREVIOUS BATCH vector — findable only
    // because the staged index grew; the seed is never re-assigned
    appendVecs(b2)
    q1.processAllAvailable()
    q1.stop()
    val after2 = labelRows().toMap
    assert(after2(101L) === 101L && after2(200L) === 101L,
      s"prior-batch pair must form a new cluster: $after2")
    // compact the staged cell assignments at the restart boundary
    // (batches 0+1 exist; 1 stays out as the newest) — the restarted
    // stream must read compact ∪ recent and produce IDENTICAL labels
    assert(StreamingOps.compactStagedState(spark, stage) === None,
      "one foldable batch and no compact: folding buys no lineage")
    // kill/restart on the same checkpoint; batch 3 merges the two
    // standing seed clusters THROUGH the restart
    appendVecs(b3)
    val q2 = StreamingOps.semanticIngestPipeline(
      spark, seedDir, src, labelsT, ckpt, stage)
    q2.processAllAvailable()
    q2.stop()
    val got = labelRows()
    assert(got.map(_._1).distinct.length === got.length,
      s"exactly one label row per vector: $got")
    // from-scratch ground truth: driver-side union-find over the
    // exact cosine pair graph of seed ∪ every streamed vector — the
    // q141 recompute-equality argument, across micro-batches and a
    // restart here
    val all = (seed ++ b1 ++ b2 ++ b3).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      i <- all.indices; j <- (i + 1) until all.length
      if BigDecimal(cos(all(i)._2, all(j)._2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.45
    } {
      val (ra, rb) = (find(all(i)._1), find(all(j)._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got.toMap === want,
      s"streaming labels != from-scratch clustering: got=${got.toMap} want=$want")
    // REAL compaction now (batches 0/1/2 staged → fold 0+1, keep 2)
    // and one more batch through a restart: the pipeline must pair
    // against compact ∪ recent and land the identical labels a
    // never-compacted run would
    assert(StreamingOps.compactStagedState(spark, stage) === Some(1L))
    val b4 = Seq(400L -> v(0, 0, 0, 0, 0, 0, 0.02, 0.998)) // joins {101,200}
    appendVecs(b4)
    val q3 = StreamingOps.semanticIngestPipeline(
      spark, seedDir, src, labelsT, ckpt, stage)
    q3.processAllAvailable()
    q3.stop()
    val got2 = labelRows().toMap
    assert(got2(400L) === 101L,
      s"post-compaction batch must join the prior-batch cluster: $got2")
    assert(got2 === want + (400L -> 101L),
      s"compaction changed standing labels: got=$got2")
  }

  test("maintenance rehearsal e2e: drifting stream trips the cue, the " +
      "operator appends staged vectors + rebuilds BETWEEN batches, the " +
      "cue clears and drifted-region recall recovers — with a " +
      "kill/restart mid-loop") {
    import graft.operators.SimilarityOps
    import org.apache.spark.sql.functions.{col, expr, round, row_number}
    import org.apache.spark.sql.expressions.Window
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    val base = java.nio.file.Files.createTempDirectory("graft-rehearsal")
    val (src, codes, ckpt, stage) =
      (s"$base/src", s"$base/codes", s"$base/ckpt", s"$base/stage")
    val seedDir = s"$base/seed"
    val rnd = new scala.util.Random(17)
    val dims = 64
    def cluster(center: Array[Float], ids: Range, noise: Float) =
      ids.map(i => (i.toLong,
        center.map(_ + noise * rnd.nextGaussian().toFloat)))
    val oldCenters = Array.fill(8, dims)(rnd.nextGaussian().toFloat)
    val seedRows = oldCenters.zipWithIndex.flatMap { case (c, k) =>
      cluster(c, k * 40 until (k + 1) * 40, 0.25f) }
    seedRows.toSeq.toDF("vec_id", "embedding")
      .write.parquet(s"$seedDir/embeddings.parquet")
    // initial index build + quality baseline
    SimilarityOps.q42AnnIvf(spark, seedDir).collect()
    def appendSrc(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toSeq.toDF("vec_id", "embedding")
        .write.format("graft-delta").mode("append").save(src)
    // batch 0: in-distribution near-copies — must NOT read as drift
    appendSrc(seedRows.take(20).map { case (id, v) =>
      (id + 5000L, v.map(_ + 0.01f)) })
    val q1 = StreamingOps.sqIngestPipeline(
      spark, seedDir, src, codes, ckpt, stage)
    q1.processAllAvailable()
    assert(!StreamingOps.sustainedDrift(stage),
      "a benign batch must not cue a rebuild")
    // batches 1-3: three NEW well-separated clusters the centroids
    // never saw — sustained distribution shift
    val newCenters = Array.fill(3, dims)(rnd.nextGaussian().toFloat)
    def driftBatch(k: Int): Seq[(Long, Array[Float])] =
      cluster(newCenters(k), 1000 + k * 30 until 1000 + (k + 1) * 30, 0.25f)
    appendSrc(driftBatch(0))
    q1.processAllAvailable()
    // KILL mid-loop: the rehearsal must survive an operator restart
    q1.stop()
    val q2 = StreamingOps.sqIngestPipeline(
      spark, seedDir, src, codes, ckpt, stage)
    appendSrc(driftBatch(1))
    q2.processAllAvailable()
    appendSrc(driftBatch(2))
    q2.processAllAvailable()
    // the trailing-window cue fires on the drift the restart did not
    // interrupt (batches 1,2,3 all scored past threshold)
    assert(StreamingOps.sustainedDrift(stage),
      s"three drifted batches must cue: ${StreamingOps.sqIngestDriftLog(stage)}")
    // ---- the operator's documented play, BETWEEN batches, while the
    // stream stays up: (1) durably append the ingested vectors to the
    // corpus, (2) register them against the frozen index, (3) rebuild.
    val streamed = spark.read.format("graft-delta").load(src)
      .select("vec_id", "embedding")
    streamed.write.mode("append").parquet(s"$seedDir/embeddings.parquet")
    val corpusPath = JP.get(s"$seedDir/embeddings.parquet")
    JF.setLastModifiedTime(corpusPath, FileTime.fromMillis(
      JF.getLastModifiedTime(corpusPath).toMillis + 1500))
    assert(SimilarityOps.refreshIvfIndex(spark, seedDir, streamed).nonEmpty,
      "streamed vectors must register against the frozen index first")
    val worstBatch = driftBatch(2).toDF("vec_id", "embedding")
    assert(SimilarityOps.maybeRebuildIvfIndex(spark, seedDir, worstBatch),
      "sustained drift past threshold must rebuild")
    // recall INSIDE the drifted region recovers post-rebuild
    val e = spark.read.parquet(s"$seedDir/embeddings.parquet")
    val qIds = Seq(1000L, 1015L, 1030L, 1045L, 1060L)
    val qDf = e.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = qDf.crossJoin(e)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("graft_cosine(qv, embedding)"), 4).as("c"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SimilarityOps.ivfSearchFor(spark, seedDir, qDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.8, s"post-rebuild drifted-region recall: $recall")
    // ---- the stream keeps committing: batch 4 lands in what is now
    // in-distribution territory, scores low, and CLEARS the cue
    appendSrc(cluster(newCenters(0), 2000 until 2025, 0.25f))
    q2.processAllAvailable()
    q2.stop()
    val log = StreamingOps.sqIngestDriftLog(stage)
    assert(log.keySet === Set(0L, 1L, 2L, 3L, 4L),
      s"every batch must have a drift entry across the restart: $log")
    assert(log(4L) <= 0.3,
      s"post-rebuild batch must score in-distribution: ${log(4L)}")
    assert(!StreamingOps.sustainedDrift(stage),
      "the cue must clear once maintenance caught the index up")
    // exactly-once ingest held through the whole rehearsal (kill,
    // restart, rebuild): one code row per (vec, dim), no replays
    val out = spark.read.format("graft-delta").load(codes)
      .select("vec_id", "pos").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.distinct.length === out.length,
      "replays must not duplicate code rows")
    assert(out.length === (20 + 30 + 30 + 30 + 25) * dims,
      s"expected codes for every streamed vector: ${out.length}")
  }

  test("streaming change feed: readChangeFeed delivers row-level changes " +
      "across DML, exactly-once across a restart, and maintains a " +
      "downstream aggregate through a DELETE") {
    import graft.sources.DeltaTable
    val base = java.nio.file.Files.createTempDirectory("graft-stream-cdf")
    val t = s"$base/t"
    val ckpt = s"$base/ckpt"
    DeltaTable.write(Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L))
      .toDF("id", "grp", "v"), t, "overwrite")                   // v0
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v1
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, String, Long)]
    // downstream MV: per-group sum maintained from the change rows
    // alone — +v for insert/postimage, -v for delete/preimage
    val mv = scala.collection.mutable.Map.empty[String, Long]
    def startStream() = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select("id", "grp", "v", "_change_type",
          "_commit_version").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
            r.getString(3), r.getLong(4)))
        rows ++= got
        mv.synchronized {
          got.foreach { case (_, g, v, ct, _) =>
            val sign = ct match {
              case "insert" | "update_postimage" => 1L
              case "delete" | "update_preimage" => -1L
            }
            mv(g) = mv.getOrElse(g, 0L) + sign * v
          }
        }
        ()
      }.start()
    val q1 = startStream()
    q1.processAllAvailable()
    // initial batch: snapshot as inserts at the snapshot version
    assert(rows.toSet === Set((1, "a", 10L, "insert", 1L),
      (2, "a", 20L, "insert", 1L), (3, "b", 30L, "insert", 1L)))
    DeltaTable.write(Seq((4, "b", 40L)).toDF("id", "grp", "v"),
      t, "append")                                               // v2
    DeltaTable.delete(spark, t, org.apache.spark.sql.functions
      .col("id") === 2)                                          // v3
    q1.processAllAvailable()
    q1.stop()
    assert(rows.count(_._4 == "delete") === 1)
    assert(rows.find(_._4 == "delete").get === ((2, "a", 20L, "delete", 3L)))
    // restart: update lands after the checkpoint — only its pre/post
    // pair arrives (no replay of earlier versions)
    val before = rows.size
    DeltaTable.update(spark, t,
      org.apache.spark.sql.functions.col("id") === 3,
      Map("v" -> org.apache.spark.sql.functions.lit(31L)))       // v4
    val q2 = startStream()
    q2.processAllAvailable()
    q2.stop()
    val fresh = rows.drop(before)
    assert(fresh.toSet === Set((3, "b", 30L, "update_preimage", 4L),
      (3, "b", 31L, "update_postimage", 4L)),
      s"restart must deliver exactly the update pair: $fresh")
    // the MV derived purely from change rows equals a full recompute
    val truth = DeltaTable.read(spark, t)
      .groupBy("grp").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mv.toMap === truth,
      s"change-fed MV $mv != recompute $truth")
    // compaction is row-transparent to the feed
    DeltaTable.compact(spark, t, maxFileBytes = 1L << 30)        // v5
    val q3 = startStream()
    q3.processAllAvailable()
    q3.stop()
    assert(rows.size === before + 2,
      "a compact version must contribute no change rows")
  }

  test("mapped-table stream read-back: rename mid-stream keeps serving " +
      "the pinned schema, a restart adopts the new names, a mid-stream " +
      "drop fails loudly") {
    import graft.sources.DeltaTable
    val base = java.nio.file.Files.createTempDirectory("graft-mapped-stream")
    val t = s"$base/t"
    val ckpt = s"$base/ckpt"
    DeltaTable.write(Seq((1, "Alice", 75000L)).toDF("id", "name", "salary"),
      t, "overwrite")                                            // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[String], Set[(Int, Long)])]
    def startStream() = spark.readStream.format("graft-delta").load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches += ((id, df.columns.toSeq,
          df.select("id", df.columns.filter(_ != "id").filter(_ != "name")
            .head).collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet))
        ()
      }.start()
    val q1 = startStream()
    q1.processAllAvailable()
    assert(batches.last._2 === Seq("id", "name", "salary"))
    assert(batches.last._3 === Set((1, 75000L)))
    // RENAME mid-stream: metadata-only; the running query must keep
    // serving the PINNED logical name for rows appended after it
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v2
    DeltaTable.write(Seq((2, "Bob", 65000L)).toDF("id", "name", "base_pay"),
      t, "append")                                               // v3
    q1.processAllAvailable()
    assert(batches.last._2 === Seq("id", "name", "salary"),
      s"pinned schema must survive a rename: ${batches.last._2}")
    assert(batches.last._3 === Set((2, 65000L)))
    q1.stop()
    // RESTART on the same checkpoint: the new source binds the NEW
    // logical names; offsets resume (no replay of rows 1-2)
    DeltaTable.write(Seq((3, "Carol", 80000L)).toDF("id", "name", "base_pay"),
      t, "append")                                               // v4
    val q2 = startStream()
    q2.processAllAvailable()
    assert(batches.last._2 === Seq("id", "name", "base_pay"),
      s"a restarted query must adopt the renamed schema: ${batches.last._2}")
    assert(batches.last._3 === Set((3, 80000L)),
      "restart must resume from the checkpointed version, not replay")
    // DROP mid-stream: the pinned projection cannot be served for new
    // files — the stream must fail loudly, not fabricate nulls
    DeltaTable.dropColumn(t, "name")                             // v5
    DeltaTable.write(Seq((4, 90000L)).toDF("id", "base_pay"),
      t, "append")                                               // v6
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(m => m.contains("dropped") &&
      m.contains("restart")), s"wrong failure: ${rootMessages(e)}")
    q2.stop()
    // a FRESH query (new checkpoint) binds the post-drop schema
    val batches2 = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q3 = spark.readStream.format("graft-delta").load(t)
      .writeStream.option("checkpointLocation", s"$base/ckpt2")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches2 += df.columns.toSeq; ()
      }.start()
    q3.processAllAvailable()
    q3.stop()
    assert(batches2.last === Seq("id", "base_pay"))
  }

  test("near-dup staging guard: a checkpoint reset cannot pair with stale staging") {
    val base = java.nio.file.Files.createTempDirectory("graft-stage-guard")
    val (src, pairs, stage) = (s"$base/src", s"$base/pairs", s"$base/stage")
    val seedDir = s"$base/seed"
    def doc(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    Seq(doc(0, "seed document about rivers and morning light on the path"),
      doc(1, "another seed about catalyst plans and shuffle exchanges"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$seedDir/documents.parquet")
    Seq(doc(100, "a streamed doc with its own unique phrasing entirely"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.format("graft-delta").mode("append").save(src)
    def rmTree(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path)) {
        val all = java.nio.file.Files.walk(path)
        try all.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally all.close()
      }
    }
    val q1 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, s"$base/ckpt1", stage)
    q1.processAllAvailable()
    q1.stop()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "_graft_checkpoint")),
      "the pipeline must stamp its staging root")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "batch-0")))
    // a FRESH checkpoint (reset: batchIds restart at 0) over the old
    // staging must fail loudly, not silently union stale batch dirs
    val exFresh = intercept[IllegalStateException] {
      StreamingOps.nearDupIngestPipeline(
        spark, seedDir, src, pairs, s"$base/ckpt2", stage)
    }
    assert(exFresh.getMessage.contains("fresh"))
    // a DIFFERENT live checkpoint over staging stamped for q1 must
    // fail on the id mismatch
    val other = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, s"$base/ckpt3", s"$base/stage3")
    other.processAllAvailable()
    other.stop()
    val exSwap = intercept[IllegalStateException] {
      StreamingOps.nearDupIngestPipeline(
        spark, seedDir, src, pairs, s"$base/ckpt3", stage)
    }
    assert(exSwap.getMessage.contains("stamped for"))
    // the documented compaction path stays legal: staging cleared
    // WHOLESALE (marker included) restarts cleanly under any checkpoint
    rmTree(stage)
    val q2 = StreamingOps.nearDupIngestPipeline(
      spark, seedDir, src, pairs, s"$base/ckpt1", stage)
    q2.processAllAvailable()
    q2.stop()
  }

  test("finalized sessionization emits each closed session exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionizeFinalized(mem.toDS())
      .writeStream.format("memory").queryName("sess_final")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // watermark hasn't passed the gap horizon: nothing finalized yet
    assert(spark.table("sess_final").count() === 0)
    // an event far past the horizon advances the watermark AND starts
    // a new session; the first session must finalize exactly once
    mem.addData(Event(2, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(3, ts("2024-01-01 15:00:00"), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_final").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val first = ts("2024-01-01 10:00:00").getTime / 1000
    assert(sessions.count(_._1 == 1L) >= 1)
    assert(sessions.filter(_._1 == 1L).head ===
      ((1L, 2L, first))) // 2 events, started 10:00, emitted once
    assert(sessions.count(s => s._1 == 1L && s._3 == first) === 1)
  }

  test("stream-stream join: clicks x purchases within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamingOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 09:00:00"), 2, "click", 1.0))
    purchases.addData(
      Event(10, ts("2024-01-01 10:20:00"), 1, "purchase", 9.0), // within 30m
      Event(11, ts("2024-01-01 11:30:00"), 1, "purchase", 5.0), // too late
      Event(12, ts("2024-01-01 10:20:00"), 3, "purchase", 7.0)) // no click
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((0L, 10L)),
      s"expected exactly click 0 x purchase 10, got $rows")
  }

  test("typed sessionization state machine: gap starts a new session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Update()).start()
    mem.addData(
      Event(0, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
    q.processAllAvailable()
    val afterBatch1 = spark.table("sess_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterBatch1.contains((1L, 2L))) // one session, 2 events

    mem.addData(Event(2, ts("2024-01-01 11:30:00"), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("sess_sink").collect()
      .filter(_.getLong(0) == 1L).maxBy(_.getLong(2))
    // 80-minute gap → the state reset to a fresh 1-event session
    assert(latest.getLong(1) === 1L)
  }
}
