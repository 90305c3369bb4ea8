package graft

import org.apache.spark.sql.functions._
import graft.engine.{Aggregators, Sink, Tables}
import org.apache.spark.sql.expressions.Window

class SinkSpec extends SparkSpec {

  test("kafka frame: key/value/topic shape, null keys dropped, value is full record JSON") {
    import spark.implicits._
    val df = Seq((Some(1L), "a"), (None, "b")).toDF("id", "payload")
    val frame = Sink.toKafkaFrame(df, "id", "customer", "chargeover")
    assert(frame.columns.toSeq == Seq("key", "value", "topic"))
    val rows = frame.collect()
    assert(rows.length == 1) // null key dropped (R7)
    assert(rows(0).getString(0) == "1")
    assert(rows(0).getString(2) == "chargeover.customer")
    assert(rows(0).getString(1).contains("\"payload\":\"a\""))
  }

  test("partitioned write lays out _entity_type/dt dirs and readers prune them") {
    val dir = tempDir("graft_sink")
    val df = graft.engine.Envelope.enriched(
      Tables.events(spark, sf), "events", "INITIAL_LOAD", 0L)
    Sink.writePartitioned(df, dir, "ts")
    val sub = new java.io.File(s"$dir/_entity_type=events").listFiles()
    assert(sub != null && sub.exists(_.getName.startsWith("dt=")))
    val back = spark.read.parquet(dir).filter(col("dt") === "2024-01-05")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && back.count() > 0)
  }

  test("compact partitioned write bounds files per partition dir") {
    val base = tempDir("graft_cmp")
    // many upstream partitions × many dt values = the small-files setup
    val df = graft.engine.Envelope.enriched(
      Tables.events(spark, sf), "events", "INITIAL_LOAD", 0L).repartition(8)
    Sink.writePartitioned(df, s"$base/loose", "ts")
    Sink.writePartitioned(df, s"$base/compact", "ts", compact = true)
    def filesPerDir(root: String): Seq[Int] =
      new java.io.File(s"$root/_entity_type=events").listFiles()
        .filter(_.getName.startsWith("dt="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    val loose = filesPerDir(s"$base/loose")
    val tight = filesPerDir(s"$base/compact")
    assert(tight.forall(_ == 1),
      s"compacted write must land one file per day-dir, got $tight")
    assert(loose.sum > tight.sum,
      s"expected the uncompacted layout to carry more files (${loose.sum} vs ${tight.sum})")
    // same data either way
    assert(spark.read.parquet(s"$base/compact").count() ==
      spark.read.parquet(s"$base/loose").count())
  }

  test("registerAll exposes every table to spark.sql by name") {
    Tables.registerAll(spark, sf)
    val n = spark.sql(
      "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect()(0).getLong(0)
    assert(n > 0)
    val ev = spark.sql("SELECT COUNT(*) FROM events WHERE ts IS NOT NULL")
      .collect()(0).getLong(0)
    assert(ev > 0, "events must register with the normalized timestamp")
    assert(Tables.names.forall(spark.catalog.tableExists))
  }

  test("typed top-k aggregator matches the window formulation") {
    val agg = Aggregators.qTopkGroup(spark, sf)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val win = Tables.orders(spark, sf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"))
    assert(agg.exceptAll(win).count() == 0)
    assert(win.exceptAll(agg).count() == 0)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // bucketBy pre-partitions both sides on the join key at WRITE time —
    // at 100 TB this is how a recurring fact-dim join avoids re-shuffling
    // the fact table on every query
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    Tables.customer(spark, sf).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val j = spark.table("orders_b").join(spark.table("customer_b"),
      col("o_custkey") === col("c_custkey"))
      .hint("merge") // force sort-merge so a broadcast can't mask the point
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle, plan:\n${plan.take(1500)}")
    assert(j.count() > 0)
  }

  test("salted two-phase aggregation equals direct aggregation") {
    // skew hygiene: spread each key over salt buckets, partial-agg by
    // (key, salt), then finish by key — counts must be identical
    val e = Tables.events(spark, sf)
    val direct = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val salted = e
      .withColumn("sk", Sink.salted(col("user_id"), 8))
      .groupBy(col("sk"), col("user_id")).agg(count(lit(1)).as("pn"))
      .groupBy(col("user_id")).agg(sum(col("pn")).as("n"))
    assert(direct.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(direct).count() == 0)
  }

  test("idempotent batch writer: replaying a batch does not duplicate") {
    val out = tempDir("graft_idem")
    val e = Tables.events(spark, sf).limit(100)
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(mode)
    Sink.idempotentBatchWriter(out)(e, 7L)
    Sink.idempotentBatchWriter(out)(e, 7L) // replay of the same micro-batch
    Sink.idempotentBatchWriter(out)(e, 8L)
    assert(spark.conf.getOption(mode) == modeBefore,
      "the writer must not change the shared session's overwrite mode")
    val landed = spark.read.parquet(out)
    assert(landed.count() == 200, "batch 7 must land exactly once despite replay")
    assert(landed.select(col("batch_id")).distinct().count() == 2)
  }

  test("kafka frame query over events is stable and enveloped") {
    val out = Sink.qKafkaFrame(spark, sf)
    assert(out.count() == Tables.events(spark, sf).count())
    val v = out.limit(1).collect()(0).getString(1)
    assert(v.contains("\"_entity_type\":\"events\"") && v.contains("\"_load_mode\""))
  }
}
