package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine.{Streaming, Tables}

/** transformWithState upsert: must agree with the flatMapGroupsWithState
  * implementation and the batch compaction; native TTL must drop idle
  * state (observable as a seen-count restart, NOT an eviction row). The
  * operator requires the RocksDB state-store provider. */
class TransformWithStateSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](f: => T): T = {
    val saved = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally saved match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("transformWithState upsert equals batch latestPerKey") {
    withRocksDb {
      val dir = tempDir("graft_tws")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = Streaming.streamEvents(spark, sf, dir)
      val out = Streaming.upsertLatestTws(Streaming.typedEvents(stream)).toDF()
      val streamed = Streaming.drainToMemory(out, "update", "transformWithState upsert")(identity)
        .groupBy(col("user_id"))
        .agg(max(struct(col("lastTsMicros"), col("eventType"))).as("s"))
        .select(col("user_id"), col("s.lastTsMicros").as("ts_us"))
      val batch = graft.engine.Incremental
        .latestPerKey(Tables.events(spark, sf), "user_id", "ts", "event_id")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0,
        "transformWithState latest-ts must match the batch compaction")
    }
  }

  test("native value-state TTL drops idle keys: replayed keys restart their count") {
    withRocksDb {
      // batch 1: all events; batch 2: a strict subset (users < 5, every
      // 3rd event). With a 1 ms TTL the store expires every key between
      // micro-batches, so batch 2's output must carry ONLY the batch-2
      // count (state restarted), where the no-TTL run would carry n1 + n2.
      val raw = Tables.eventsRaw(spark, sf)
      val flat = tempDir("graft_tws_ttl")
      raw.coalesce(1).write.parquet(s"$flat/stage1")
      raw.filter(col("user_id") < 5 && col("event_id") % 3 === 0)
        .coalesce(1).write.parquet(s"$flat/stage2")
      var idx = 0
      for (sub <- Seq("stage1", "stage2");
           f <- new java.io.File(s"$flat/$sub").listFiles()
           if f.getName.endsWith(".parquet")) {
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$flat/batch_$idx.parquet"))
        idx += 1
      }
      val rawStream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$flat/batch_*.parquet")
      val stream = Tables.normalizeTs(rawStream)
      val out = Streaming.upsertLatestTws(Streaming.typedEvents(stream),
        ttl = Some(java.time.Duration.ofMillis(1))).toDF()
      // with a TTL the AvailableNow query keeps running no-data batches
      // after the drain and never terminates, so Streaming.drain (which
      // throws when a drain does not end) cannot run it: start it here,
      // wait, and stop it, so it does not run on in the shared session
      // under later suites
      val q = out.writeStream.format("memory").queryName("tws_ttl_test")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      assert(q.recentProgress.length >= 2, "expected two micro-batches")
      val t = spark.table("tws_ttl_test")
      val ev = Tables.events(spark, sf)
      val n1 = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n1"))
      val n2 = ev.filter(col("user_id") < 5 && col("event_id") % 3 === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n2"))
      // per replayed user, the sink holds one row per micro-batch: the
      // batch-1 row carries n1 and the batch-2 row must carry n2 ALONE
      // (state restarted); a surviving state would show n1 + n2 instead
      val seen = t.filter(col("user_id") < 5)
        .groupBy(col("user_id")).agg(collect_set(col("nSeen")).as("vals"))
        .join(n1, "user_id").join(n2, "user_id")
      assert(seen.count() == 5)
      val wrong = seen.filter(
        !array_contains(col("vals"), col("n1")) ||
        !array_contains(col("vals"), col("n2")) ||
        array_contains(col("vals"), col("n1") + col("n2")))
      assert(wrong.count() == 0,
        "TTL'd state must restart the seen-count on replay")
    }
  }

  test("q_stream_upsert (declared): multi-batch transformWithState drain " +
      "equals the batch replay of the same state machine") {
    val got = Streaming.qStreamUpsert(spark, sf)
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val agg = ev.groupBy("user_id")
      .agg(max(col("ts_us")).as("last_ts_us"), count(lit(1)).as("n_seen"))
    val et = ev.groupBy(col("user_id").as("u"), col("ts_us"))
      .agg(max(col("event_type")).as("event_type"))
    val batch = agg
      .join(et, agg("user_id") === et("u") && agg("last_ts_us") === et("ts_us"))
      .select(col("user_id"), col("last_ts_us"), col("event_type"), col("n_seen"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed upsert state must equal the batch replay")
  }
}
