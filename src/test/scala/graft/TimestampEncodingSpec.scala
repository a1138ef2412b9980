package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-encoding canary: the driver's events fixture has shipped with
  * different parquet timestamp encodings across regenerations (nanos-as-
  * int64 through round 6, micros with isAdjustedToUTC=false — i.e.
  * TIMESTAMP_NTZ to Spark — from round 7). `Tables.loadEvents` is the ONE
  * place that normalizes them; this suite pins its contract so a future
  * fixture regeneration can never silently break every `unix_micros`
  * consumer again (as happened in round 7: q54/q57 analysis errors).
  *
  * Contract: whatever the physical encoding, `loadEvents` yields
  * `ts: TimestampType` (session-zoned; session is pinned UTC) and the
  * SAME `unix_micros` instants.
  */
class TimestampEncodingSpec extends SparkSpec {
  import spark.implicits._

  // Three instants, chosen with sub-millisecond micros to catch any
  // lossy round-trip (nanos path truncates to micros by design).
  private val micros = Seq(1700000000000001L, 1700000123456789L, 1709999999999999L)

  private def writeFixture(encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = tempDir("graft-tsenc").toString
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
    encode(base).select("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def loadedMicros(dir: String): Seq[Long] = {
    val df = Tables.loadEvents(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"loadEvents must normalize to TimestampType, got ${df.schema("ts").dataType}")
    df.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
  }

  test("canary: nanos-as-long encoding normalizes to TimestampType/UTC") {
    // The legacy nanos conf surfaces parquet TIMESTAMP(NANOS) as a raw
    // int64 of nanoseconds; a plain int64 `ts` column reads identically,
    // so it exercises the same LongType branch byte-for-byte.
    val dir = writeFixture(_.withColumn("ts", col("us") * 1000L))
    assert(loadedMicros(dir) === micros)
  }

  test("canary: micros TIMESTAMP_NTZ (isAdjustedToUTC=false) normalizes") {
    // What the round-7+ fixture contains. TimestampNTZType writes parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false).
    val dir = writeFixture(
      _.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))
    assert(loadedMicros(dir) === micros)
  }

  test("canary: micros TIMESTAMP_LTZ (isAdjustedToUTC=true) passes through") {
    val dir = writeFixture(_.withColumn("ts", timestamp_micros(col("us"))))
    assert(loadedMicros(dir) === micros)
  }

  test("canary: all three encodings agree on the driver fixture schema shape") {
    // End-to-end: q54/q57's consumers call unix_micros(ts) — assert the
    // expression analyzes against every encoding's loaded frame.
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      _.withColumn("ts", col("us") * 1000L),
      _.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)),
      _.withColumn("ts", timestamp_micros(col("us")))
    ).foreach { enc =>
      val df = Tables.loadEvents(spark, writeFixture(enc))
      // would throw ExtendedAnalysisException pre-fix on the NTZ case
      assert(df.select(unix_micros(col("ts"))).count() === micros.size.toLong)
    }
  }
}
