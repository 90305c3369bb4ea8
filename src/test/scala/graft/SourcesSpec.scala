package graft

import org.apache.spark.sql.functions._
import graft.engine.{Streaming, Tables}

/** Multi-format sources + the streaming ETL sink path. */
class SourcesSpec extends SparkSpec {

  test("CSV and JSON round-trip the events table with explicit schemas") {
    val dir = tempDir("graft_fmt")
    val e = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    e.write.option("header", "true").csv(s"$dir/csv")
    e.write.json(s"$dir/json")
    val csv = spark.read.option("header", "true").schema(e.schema).csv(s"$dir/csv")
    val json = spark.read.schema(e.schema).json(s"$dir/json")
    assert(csv.count() == e.count() && json.count() == e.count())
    assert(csv.exceptAll(e).count() == 0, "csv round-trip must be lossless")
    assert(json.exceptAll(e).count() == 0, "json round-trip must be lossless")
  }

  test("ORC round-trips the events table losslessly") {
    val dir = tempDir("graft_orc")
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    e.write.orc(s"$dir/orc")
    val orc = spark.read.orc(s"$dir/orc")
    assert(orc.count() == e.count())
    assert(orc.exceptAll(e).count() == 0, "orc round-trip must be lossless")
    // predicate pushdown reaches the ORC scan like parquet
    val plan = orc.filter(col("user_id") === 7L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("user_id"), plan.take(400))
  }

  test("schema evolution: mergeSchema unifies old and new layouts") {
    import spark.implicits._
    val dir = tempDir("graft_evo")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/v1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.toSet == Set("id", "name", "score"))
    val rows = merged.orderBy(col("id")).collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")), "old rows get NULL for new column")
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }

  test("malformed JSON records: PERMISSIVE captures them, FAILFAST rejects") {
    val dir = tempDir("graft_bad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": "ok"}
        |{not json at all
        |{"id": 3, "v": "fine"}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    // Spark disallows querying only the corrupt column straight off the
    // file source — materialize the parse first (its own documented rule)
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    permissive.unpersist()
    val failfast = spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.fields.take(2)))
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException](failfast.collect())
  }

  test("streaming foreachBatch lands enveloped micro-batches in the partitioned sink") {
    // the complete reference pipeline, streaming end to end: file-source
    // micro-batches -> envelope -> topic-per-entity partitioned parquet
    val in = tempDir("graft_etl_in")
    val out = tempDir("graft_etl_out")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$in/events.parquet"))
    val stream = Streaming.streamEvents(spark, sf, in)
    Streaming.drain(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val enveloped = graft.engine.Envelope.routed(
          graft.engine.Envelope.enriched(
            graft.engine.Envelope.keyed(batch, "event_id"),
            "events", "INITIAL_LOAD", 0L), "chargeover")
        enveloped.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
          .write.mode("append").partitionBy("_entity_type", "dt").parquet(out)
      }, "partitioned envelope sink")
    val landed = spark.read.parquet(out)
    assert(landed.count() == Tables.events(spark, sf).count())
    assert(landed.columns.contains("key") && landed.columns.contains("topic"))
    // partition pruning works on the landed layout
    val day = landed.filter(col("dt") === "2024-01-05")
    assert(day.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }
}
