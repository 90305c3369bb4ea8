package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** Delivery-semantics repair kit on genuine readStream paths:
  *
  *  - at-least-once replay (the same events file staged twice, forced
  *    into separate micro-batches) deduplicated back to exactly the
  *    distinct keys with `dropDuplicatesWithinWatermark`;
  *  - stream-static enrichment join == the batch join;
  *  - stream-stream interval join == the batch interval join.
  *
  * Mirrors the reference's restart-replay quirk (a zero-record batch
  * never persists offsets → the window is re-read on restart,
  * ChargeOverSourceTask.java:434-443) and its server-side expand join
  * (R6), both expressed on Spark's streaming engine. */
class StreamJoinSpec extends SparkSpec {

  private def stageEvents(copies: Int): String = {
    val dir = tempDir("graft_sjoin")
    (1 to copies).foreach { i =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events_$i.parquet"))
    }
    dir
  }

  test("replayed stream dedups to exactly the distinct event ids") {
    // two identical files, one file per micro-batch: the second batch is
    // a full replay; dedup state must absorb it across the batch boundary
    val dir = stageEvents(2)
    val stream = Streaming.streamEvents(spark, sf, dir, maxFilesPerTrigger = Some(1))
    val got = Streaming.drainToMemory(Streaming.dedupStream(stream),
      "append", "stream dedup")(identity).count()
    val want = Tables.events(spark, sf).select(col("event_id")).distinct().count()
    assert(got == want, s"deduped stream rows=$got, distinct event ids=$want")
  }

  test("stream-static enrich join matches the batch join") {
    val dir = stageEvents(1)
    // static dimension: one row per user with a derived segment column
    val dim = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_total"))
      .withColumn("segment", when(col("n_total") >= 10, "heavy").otherwise("light"))
    val stream = Streaming.streamEvents(spark, sf, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val streamed = Streaming.drainToMemory(
      Streaming.enrichStream(stream, dim), "append", "stream enrich")(identity)
      .select(col("event_id"), col("user_id"), col("segment"))
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"))
      .join(dim, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("segment"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream LEFT OUTER interval join emits unmatched views with nulls") {
    val dir = stageEvents(1)
    val df = Streaming.streamEvents(spark, sf, dir)
    val sv = df.filter(col("event_type") === "view")
    val sp = df.filter(col("event_type") === "purchase")
    val streamed = Streaming.drainToMemory(
      Streaming.intervalJoin(sv, sp, "leftOuter"), "append", "left outer interval join")(identity)
    val batch = Tables.events(spark, sf)
    val (bv, bp) = (batch.filter(col("event_type") === "view"),
      batch.filter(col("event_type") === "purchase"))
    val inner = Streaming.intervalJoin(bv, bp) // batch inner for reference
    // Every view appears EXCEPT those the final watermark cannot yet rule
    // on: an unmatched view is only emitted once watermark > v_ts + 30min,
    // and the terminal watermark is max(ts) - 1h — correct streaming
    // semantics, not data loss. Compute the provable set and assert on it.
    val maxTs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val horizonMs = maxTs - 3600 * 1000L - 30 * 60 * 1000L
    val provable = bv.filter(col("ts").cast("long") * 1000 < horizonMs)
      .select(col("event_id")).distinct().count()
    val matchedViews = inner.select(col("view_id")).distinct().count()
    val gotViews = streamed.select(col("view_id")).distinct().count()
    val gotNulls = streamed.filter(col("purchase_id").isNull)
      .select(col("view_id")).distinct().count()
    assert(gotNulls > 0, "some views must surface as provably unconverted")
    assert(gotViews >= provable && gotViews >= matchedViews,
      s"left outer must carry at least the $provable watermark-provable views " +
        s"and all $matchedViews matched ones, got $gotViews")
    assert(gotViews + (bv.count() - provable) >= bv.count(),
      "only watermark-pending views may be withheld")
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = stageEvents(1)
    def sides(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view"),
      df.filter(col("event_type") === "purchase"))
    val (sv, sp) = sides(Streaming.streamEvents(spark, sf, dir))
    val streamed = Streaming.drainToMemory(Streaming.intervalJoin(sv, sp),
      "append", "interval join")(identity)
      .select(col("view_id"), col("purchase_id"))
    val (bv, bp) = sides(Tables.events(spark, sf))
    val batch = Streaming.intervalJoin(bv, bp)
      .select(col("view_id"), col("purchase_id"))
    assert(streamed.count() > 0, "interval join found no view→purchase pairs")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }
}
