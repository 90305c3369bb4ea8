package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** Streaming sessionization: event-level session labels computed with
  * per-key state must equal the batch window formulation after a
  * multi-micro-batch, time-ordered replay. */
class StreamSessionizeSpec extends SparkSpec {

  test("streamed session labels == batch qSessionize across two micro-batches") {
    // split the corpus at the median ts so batch 1 strictly precedes
    // batch 2 per user — the ordered-replay contract the operator states
    val raw = Tables.eventsRaw(spark, sf)
    // encoding-generic median: raw ts is a ns long OR an NTZ timestamp —
    // lit() round-trips either into the comparison below
    val cut = lit(raw.selectExpr("percentile_approx(ts, 0.5) AS c").head().get(0))
    val dir = tempDir("graft_sess_mb")
    raw.filter(col("ts") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    raw.filter(col("ts") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val flat = tempDir("graft_sess_flat")
    var idx = 0
    for (sub <- Seq("f1", "f2"); f <- new java.io.File(s"$dir/$sub").listFiles()
         if f.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Paths.get(f"$flat/part_$idx%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      // FileStreamSource orders micro-batches by mtime — same-ms copies
      // tie and can replay out of order; pin explicit distinct mtimes
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + idx * 60000L))
      idx += 1
    }
    assert(idx == 2, s"expected 2 files, got $idx")
    val schema = raw.schema
    val rawStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val stream = Tables.normalizeTs(rawStream)
    val out = Streaming.sessionizeStream(Streaming.sessEvents(stream)).toDF()
    val streamed = Streaming.drainToMemory(out, "update", "sessionize stream")(
      _.select(col("event_id"), col("session_seq")))
    val batch = graft.engine.Relational.qSessionize(spark, sf)
      .select(col("event_id"), col("session_seq"))
    assert(streamed.count() == batch.count(), "every event labeled exactly once")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed labels must equal the batch window formulation")
  }
}
