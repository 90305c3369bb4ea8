package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** Checkpointed restart: the streaming analog of the reference's offset
  * restore (ChargeOverSourceTask.java:98-133 — state comes back from the
  * offset log, processing resumes where it stopped, nothing is re-emitted).
  */
class CheckpointSpec extends SparkSpec {

  test("restart from checkpoint processes only new files, no duplicates") {
    val in = tempDir("graft_ck_in")
    val out = tempDir("graft_ck_out")
    val ck = tempDir("graft_ck_state")
    val raw = Tables.eventsRaw(spark, sf)
    val schema = raw.schema
    val firstHalf = raw.filter(col("event_id") < 500)
    val secondHalf = raw.filter(col("event_id") >= 500)
    firstHalf.coalesce(1).write.parquet(s"$in/batch1")
    // stage batch1 into the watched dir
    def stage(sub: String, name: String): Unit =
      for (f <- new java.io.File(s"$in/$sub").listFiles()
           if f.getName.endsWith(".parquet"))
        java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    stage("batch1", "a")

    def runOnce(): Unit = {
      val stream = Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(s"$in/*.parquet"))
      Streaming.drain(stream.writeStream
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out), "parquet sink restart")
    }

    runOnce() // run 1: only batch1 visible
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == firstHalf.count())

    secondHalf.coalesce(1).write.parquet(s"$in/batch2")
    stage("batch2", "b")
    runOnce() // run 2: same checkpoint — must pick up ONLY the new file

    val landed = spark.read.parquet(out)
    assert(landed.count() == raw.count(), "restart must process exactly the remainder")
    val dups = landed.groupBy(col("event_id")).count().filter(col("count") > 1)
    assert(dups.count() == 0, "offset log must prevent re-emission")
  }

  test("dedup state survives restart: replay arriving after restart is absorbed") {
    val in = tempDir("graft_dk_in")
    val out = tempDir("graft_dk_out")
    val ck = tempDir("graft_dk_state")
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val schema = events.schema
    events.coalesce(1).write.parquet(s"$in/src")
    def stage(name: String): Unit =
      for (f <- new java.io.File(s"$in/src").listFiles()
           if f.getName.endsWith(".parquet"))
        java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$in/*.parquet")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      Streaming.drain(stream.writeStream
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out), "parquet sink restart")
    }

    stage("a")
    runOnce() // run 1: original data, state stores every key
    // the reference's restart quirk: the window is re-read in full after a
    // restart (ChargeOverSourceTask.java:434-443) — model it as the same
    // file arriving again in a NEW run over the SAME checkpoint
    stage("b")
    runOnce()
    val landed = spark.read.parquet(out)
    assert(landed.count() == events.count(),
      "dedup state restored from checkpoint must absorb the full replay")
    val dups = landed.groupBy(col("event_id")).count().filter(col("count") > 1)
    assert(dups.count() == 0, "no key may be emitted twice across restarts")
  }
}
