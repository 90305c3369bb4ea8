package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** The HDFS-backed default state store holds state in executor heap —
  * fine for bounded windows, fatal for large keyed state at 100 TB. The
  * RocksDB provider (bundled with Spark 4) spills state to local disk
  * with changelog checkpointing; verify the dedup pipeline produces
  * identical results under it. Config is per-query via the session conf
  * at start time, restored after. */
class RocksDbStateSpec extends SparkSpec {

  test("streaming dedup under the RocksDB state store matches the default store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    val dir = tempDir("graft_rocks")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/b.parquet"))
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = Streaming.streamEvents(spark, sf, dir, maxFilesPerTrigger = Some(1))
      val got = Streaming.drainToMemory(Streaming.dedupStream(stream),
        "append", "RocksDB dedup stream")(identity).count()
      val want = Tables.events(spark, sf).select(col("event_id")).distinct().count()
      assert(got == want,
        s"RocksDB-backed dedup produced $got rows, expected $want distinct keys")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
