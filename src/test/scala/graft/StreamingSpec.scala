package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** Genuine readStream path: file source → watermark → tumbling agg →
  * memory sink, AvailableNow (the INITIAL_LOAD catch-up semantics, R10).
  * The streaming result must equal the batch result of the same window
  * expression — Spark's unified-model contract. */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling agg over events == batch tumbling agg") {
    // the file source tails a directory: stage the events file into one
    val dir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = Streaming.streamEvents(spark, sf, dir)
    assert(stream.isStreaming, "file source must be a streaming DataFrame")
    val streamed = Streaming.drainToMemory(Streaming.tumblingAgg(stream),
      "complete", "tumbling stream")(identity)
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("session windows merge events with gaps < 30min and split at >= 30min") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(25)),   // one session (gaps 10,15)
      (1L, ts(60)),                               // gap 35 → new session
      (2L, ts(0))                                 // other user
    ).toDF("user_id", "ts")
    val out = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 3L), (1L, 1L), (2L, 1L)))
  }
}
