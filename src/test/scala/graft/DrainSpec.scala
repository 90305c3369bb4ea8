package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Streaming

/** The engine's one AvailableNow drain: a failed or short drain throws,
  * naming what it drained, and leaves no query running and no sink view
  * behind. */
class DrainSpec extends SparkSpec {

  /** A file-source stream over `files` one-file batches of `rows` ids. */
  private def idStream(files: Int, rows: Int): DataFrame = {
    val dir = tempDir("graft_drain_in")
    for (f <- 0 until files) {
      val staged = s"$dir/stage$f"
      spark.range(f * rows, (f + 1) * rows).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/f$f.parquet"))
    }
    spark.readStream.schema("id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*.parquet")
  }

  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.startsWith("graft_drain_"))

  test("a failing foreachBatch makes drain rethrow and stops the query") {
    val e = intercept[IllegalStateException] {
      Streaming.drain(idStream(1, 10).writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("sink down")
        }, "failing sink")
    }
    assert(e.getMessage.contains("failing sink"), e.getMessage)
    assert(spark.streams.active.isEmpty, "the failed drain's query is still active")
  }

  test("a failing memory-sink drain rethrows and drops its sink view") {
    val before = sinkViews()
    val failing = idStream(1, 10)
      .withColumn("x", when(col("id") >= 0, raise_error(lit("bad row"))))
    val e = intercept[IllegalStateException] {
      Streaming.drainToMemory(failing, "append", "failing stream")(identity)
    }
    assert(e.getMessage.contains("failing stream"), e.getMessage)
    assert(spark.streams.active.isEmpty)
    assert(sinkViews() == before, s"sink view left behind: ${sinkViews()}")
  }

  test("fewer data batches than minDataBatches throws; enough returns the landed rows") {
    val e = intercept[IllegalStateException] {
      Streaming.drainToMemory(idStream(1, 10), "append", "one-file stream",
        minDataBatches = 2)(identity)
    }
    assert(e.getMessage.contains("one-file stream") &&
      e.getMessage.contains("got 1"), e.getMessage)
    val got = Streaming.drainToMemory(idStream(2, 10), "append", "two-file stream",
      minDataBatches = 2)(_.orderBy(col("id")))
    assert(got.collect().map(_.getLong(0)).toSeq == (0L until 20L))
    assert(spark.streams.active.isEmpty && sinkViews().isEmpty)
  }
}
