package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Regression guard for the round-8 break: the driver regenerated
  * `events.parquet` from int64-nanos to `timestamp[us]` and the engine's
  * hard-coded schema took out 19 batch oracle rows (loud analysis error)
  * and 6 streaming rows (silent 1000× time compression). Ingestion is now
  * schema-adaptive (`Tables.normalizeEventTs`, footer-derived streaming
  * schema) — this spec writes the SAME events in every physical encoding
  * the data has shipped in (or plausibly could) and asserts batch AND
  * streaming load identical values from each:
  *
  *  - int64 raw nanos           (pre-r8 driver shape, read as LongType)
  *  - timestamp[us] NTZ         (current driver shape: pandas/pyarrow,
  *                               isAdjustedToUTC=false → TimestampNTZType)
  *  - timestamp[ms] instant     (MILLIS output type → TimestampType)
  *  - timestamp[us] instant     (Spark round-trip, e.g. ScaleUp output)
  *
  * A future data-shape change either loads identically or fails HERE, not
  * a third of the oracle suite.
  */
class EventsEncodingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical rows, ts floored to whole milliseconds so every encoding
    * (including ms) represents the exact same instants. */
  private lazy val canonical: DataFrame =
    Tables.events(spark, TestSpark.sfDir)
      .withColumn("ts", date_trunc("millisecond", col("ts")))
      .cache()

  private lazy val expected: Seq[(Long, Long)] = collectIdMicros(canonical)

  private def collectIdMicros(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toSeq.sorted

  private def tmpDir(): String =
    StreamingOps.tmp("graft-enc-")

  /** Write `df` as `<dir>/events.parquet` (a part directory — both the
    * batch loader and the streaming source take that layout). */
  private def writeEvents(df: DataFrame): String = {
    val dir = tmpDir()
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def drainStream(dir: String): DataFrame = {
    val out = StreamingOps.drainToParquet(
      StreamingOps.readEventsStream(spark, dir), "append")
    spark.read.option("recursiveFileLookup", "true").parquet(out)
  }

  private def assertBothPathsMatch(dir: String, encoding: String): Unit = {
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType, s"[$encoding] batch dtype")
    assert(collectIdMicros(batch) === expected, s"[$encoding] batch values")
    assert(collectIdMicros(drainStream(dir)) === expected,
      s"[$encoding] streamed values")
  }

  test("int64 raw-nanos encoding loads identically (batch + stream)") {
    val dir = writeEvents(canonical
      .withColumn("ts", (unix_micros(col("ts")) * 1000L)))
    assertBothPathsMatch(dir, "int64-nanos")
  }

  test("timestamp[us] NTZ encoding (current driver shape) loads identically") {
    val dir = writeEvents(canonical
      .withColumn("ts", col("ts").cast("timestamp_ntz")))
    assertBothPathsMatch(dir, "us-ntz")
  }

  test("timestamp[ms] encoding loads identically") {
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try assertBothPathsMatch(writeEvents(canonical), "ms-instant")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("timestamp[us] instant encoding (ScaleUp round-trip shape) loads identically") {
    assertBothPathsMatch(writeEvents(canonical), "us-instant")
  }

  test("sub-microsecond nanos floor to the microsecond, matching DuckDB") {
    val dir = tmpDir()
    Seq((1L, 1700000000000000123L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).as[Long].head()
    assert(got === 1700000000000000L)
  }

  test("an unsupported ts type fails loud at plan time, not silently wrong") {
    val dir = tmpDir()
    Seq((1L, "not-a-time", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    intercept[IllegalStateException] { Tables.events(spark, dir) }
  }
}
