package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Drains and offset-log reads shared by the paged stream specs. */
object StreamRuns {
  /** Runs `w` to its end: AvailableNow until it terminates, or
    * ProcessingTime — where a micro-batch is still one poll — until
    * `processAllAvailable` returns, then stops it. */
  def drain(w: DataStreamWriter[Row], availableNow: Boolean): Unit =
    if (availableNow) {
      val q = w.trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination(120000)
        q.exception.foreach(e => throw e)
        assert(!q.isActive, "AvailableNow drain did not terminate")
      } finally if (q.isActive) q.stop()
    } else {
      val q = w.trigger(Trigger.ProcessingTime(0L)).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** Memory-sink drain of `df` into the view `name`. */
  def drainToMemory(df: DataFrame, name: String, ckpt: String,
      availableNow: Boolean): Unit =
    drain(df.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt), availableNow)

  /** The source offset JSON of every offset-log entry, in batch order
    * (each file holds a version header, the batch metadata, then one
    * offset per source). */
  def offsetJsons(ckpt: String): Seq[String] =
    new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt).toSeq
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").filter(_.trim.nonEmpty).last)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
