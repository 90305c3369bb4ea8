package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side surface: the Kafka record frame and the partitioned
  * (topic-per-entity) write layout — R9's demux sink at warehouse scale.
  */
object Sink {

  /** Project a DataFrame into the exact frame a Kafka sink consumes:
    * (key: string, value: JSON string of the full record, topic: string).
    * Mirrors the reference's SourceRecord construction
    * (ChargeOverSourceTask.java:419-443): key = single id field as text,
    * value = all fields (metadata included), topic = {prefix}.{entity}.
    * No Kafka broker is needed to verify the frame — it's a projection;
    * with the kafka connector on the classpath the identical DataFrame
    * goes to `.write.format("kafka")` untouched. */
  def toKafkaFrame(df: DataFrame, idField: String, entity: String,
      topicPrefix: String): DataFrame = {
    val payload = struct(df.columns.map(col).toSeq: _*)
    df.filter(col(idField).isNotNull)
      .select(
        col(idField).cast("string").as("key"),
        to_json(payload).as("value"),
        concat_ws(".", lit(topicPrefix), lit(entity)).as("topic"))
  }

  /** Topic-per-entity as storage layout: partitionBy on the routing column
    * (plus a date bucket for pruning). At 100 TB this is the difference
    * between scanning one entity-day and scanning the lake — readers prune
    * `_entity_type=<e>/dt=<d>` directories without touching data. */
  def writePartitioned(df: DataFrame, outDir: String, tsCol: String,
      compact: Boolean = false): Unit = {
    val dated = df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
    // compact=true repartitions by the partition columns before the write,
    // so each _entity_type/dt directory gets ONE file per shuffle partition
    // holding that key instead of one per upstream task — the small-files
    // guard. Without it, N upstream partitions × M partition values can
    // write N·M files, the classic 100 TB lake pathology. (AQE coalescing
    // shrinks the shuffle side; maxRecordsPerFile re-splits oversized
    // partitions if a single day-entity is huge.)
    val arranged =
      if (compact) dated.repartition(col("_entity_type"), col("dt"))
      else dated
    arranged.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("_entity_type", "dt")
      .parquet(outDir)
  }

  /** q_kafka_frame: the reference's full sink frame over `events` — the
    * enveloped record rendered as (key, value, topic). The JSON value is
    * Spark's to_json, but its layout is fully determined (struct field
    * order, ms-truncated ISO-8601 timestamps, shortest-round-trip
    * doubles, JSON string escaping) — so the oracle replays it
    * byte-for-byte with string building in DuckDB. */
  def qKafkaFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val enveloped = Envelope.routed(
      Envelope.enriched(
        Envelope.keyed(Tables.events(spark, sfDir), "event_id"),
        "events", "INCREMENTAL_LOAD", 1730476800000L), "chargeover")
    toKafkaFrame(enveloped.drop("key", "topic"), "event_id", "events", "chargeover")
      .orderBy(col("key"))
  }

  /** Spark's to_json replayed as deterministic string building: field
    * order is the struct's, timestamps render as ISO-8601 truncated to
    * milliseconds, doubles as shortest round-trip (identical in both
    * engines for these magnitudes), and embedded JSON in `props` gets
    * standard backslash escaping. */
  val qKafkaFrameSql: String =
    """SELECT CAST(event_id AS VARCHAR) AS key,
      |  concat('{"event_id":', event_id,
      |    ',"ts":"', strftime(ts, '%Y-%m-%dT%H:%M:%S.'), substr(strftime(ts, '%f'), 1, 3), 'Z"',
      |    ',"user_id":', user_id,
      |    ',"event_type":"', event_type, '"',
      |    ',"value":', CAST(value AS VARCHAR),
      |    ',"props":"', replace(replace(props, '\', '\\'), '"', '\"'), '"',
      |    ',"_entity_type":"events"',
      |    ',"_ingestion_timestamp":1730476800000',
      |    ',"_load_mode":"INCREMENTAL_LOAD"}') AS value,
      |  'chargeover.events' AS topic
      |FROM events ORDER BY key""".stripMargin

  /** q_incremental_batch: one full state-machine batch over `orders` —
    * INITIAL_LOAD window opened at a pinned "now", state columns
    * piggybacked on every record (the reference's offset persistence). */
  def qIncrementalBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import StateMachine._
    val s0 = initial("orders", 820454400000L)        // 1996-01-01 UTC
    val s1 = startBatch(s0, 852076800000L)           // 1997-01-01 UTC
    batchFrame(spark, sfDir, s1, "o_orderdate")
      .orderBy(col("o_orderkey"))
  }

  /** The state machine's batch window replayed as plain SQL: the half-open
    * [last, end) filter plus the literal piggybacked state columns. */
  val qIncrementalBatchSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority,
      |  'INITIAL_LOAD' AS _load_mode,
      |  CAST(820454400000 AS BIGINT) AS _last_processed_datetime,
      |  CAST(852076800000 AS BIGINT) AS _batch_end_datetime
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** Salted key for skewed wide ops: spread each hot key over
    * `saltBuckets` shuffle partitions (aggregate by (key, salt), then by
    * key; or replicate the build side `saltBuckets`× for a salted join).
    * PER-ROW salt (seeded rand) — salting by input-partition id would be
    * a no-op for aggregation, since map-side partial aggregation already
    * collapses within a partition; the salt must split a hot key's rows
    * WITHIN the shuffle. */
  def salted(key: Column, saltBuckets: Int): Column =
    concat_ws("#", key.cast("string"),
      floor(rand(42) * saltBuckets).cast("int").cast("string"))

  /** Idempotent micro-batch writer for `foreachBatch`: each batch lands in
    * its own `batch_id=<id>` partition with dynamic overwrite, so a
    * REPLAYED batch (the reference's at-least-once window re-read,
    * SURVEY §2a quirk) overwrites itself instead of duplicating —
    * exactly-once effect on an append-only file sink. Dynamic mode is a
    * per-write option, so the shared session's conf is left as it was. */
  def idempotentBatchWriter(outDir: String)(df: DataFrame, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
}
