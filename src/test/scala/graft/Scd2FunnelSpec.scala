package graft

import org.apache.spark.sql.functions._

import graft.engine.{Cdc, Funnel, Tables}
import graft.sources.PagedEntitySource

/** SCD2 over the upsert changelog (interval algebra + agreement with the
  * latest-wins compaction) and the ordered funnel (vs an independent
  * per-user greedy replay). */
class Scd2FunnelSpec extends SparkSpec {

  test("q_scd2: intervals tile, one current row per key, versions dense") {
    val rows = Cdc.qScd2(spark, sf).collect()
    val byKey = rows.groupBy(r => (r.getString(0), r.getLong(1)))
    byKey.foreach { case ((e, id), vs) =>
      val sorted = vs.sortBy(_.getLong(2)) // version_seq
      // dense versions from 1
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq)
      // half-open intervals tile: valid_to(i) == valid_from(i+1); last open
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(4) && a.getLong(4) == b.getLong(3),
            s"gap in [$e/$id] between versions ${a.getLong(2)} and ${b.getLong(2)}")
        case _ =>
      }
      assert(sorted.last.isNullAt(4), s"[$e/$id] last version must be open")
      // exactly one is_current, on the last version
      assert(vs.count(_.getBoolean(5)) == 1 && sorted.last.getBoolean(5))
    }
  }

  test("q_scd2 current rows == the changelog's latest-wins compaction") {
    val current = Cdc.qScd2(spark, sf).filter(col("is_current"))
      .select(col("_entity_type"), col("id"),
        col("valid_from_us").as("ts_us"), col("value"))
    // independent compaction straight off the batch changelog read
    val log = spark.read.format("graft.sources.PagedEntitySource")
      .option("entities", "customer,invoice")
      .option("customer.rows", "6000").option("invoice.rows", "9000")
      .option("updatesEveryN", "3").option("pageSize", "500").load()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_entity_type"), col("id")).orderBy(col("ts_us").desc)
    val compacted = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("_entity_type"), col("id"), col("ts_us"), col("value"))
    assert(current.exceptAll(compacted).isEmpty && compacted.exceptAll(current).isEmpty)
  }

  test("q_scd2 version counts replay the closed-form update mapping") {
    val versions = Cdc.qScd2(spark, sf)
      .groupBy(col("_entity_type"), col("id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((entity, positions) <- Seq("customer" -> 6000L, "invoice" -> 9000L)) {
      val expect = (0L until positions)
        .map(p => PagedEntitySource.recordId(p, 3))
        .groupBy(identity).map { case (id, ps) => (entity, id) -> ps.size.toLong }
      expect.foreach { case (k, n) =>
        assert(versions.get(k).contains(n), s"$k expected $n versions")
      }
      assert(versions.count(_._1._1 == entity) == expect.size)
    }
  }

  test("incremental SCD2 maintenance over the changelog stream equals the batch rebuild") {
    // the production path: the changelog drains in micro-batches and the
    // history table is maintained INCREMENTALLY — per batch, only the keys
    // present in the batch are recomputed (their raw versions recovered
    // from the current intervals + the new rows), untouched keys pass
    // through, and the new table version lands as a fresh snapshot
    // (versioned dirs — the same shape a table format's commit gives).
    // Cross-batch updates are the point: update_every=3 re-emits ids whose
    // original version landed batches earlier. ProcessingTime keeps one
    // poll (one page) per micro-batch; AvailableNow would land the whole
    // drain as one batch.
    import org.apache.spark.sql.{DataFrame, functions => F}
    val store = java.nio.file.Files.createTempDirectory("graft_scd2_inc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2_ck").toString
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)

    def toIntervals(raw: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(F.col("id")).orderBy(F.col("ts_us"))
      raw.withColumn("version_seq", F.row_number().over(w).cast("long"))
        .withColumn("valid_from_us", F.col("ts_us"))
        .withColumn("valid_to_us", F.lead(F.col("ts_us"), 1).over(w))
        .withColumn("is_current", F.col("valid_to_us").isNull)
        .select(F.col("id"), F.col("version_seq"), F.col("valid_from_us"),
          F.col("valid_to_us"), F.col("is_current"), F.col("value"))
    }

    StreamRuns.drain(spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", "3000").option("pageSize", "400")
      .option("windowRows", "1000").option("updatesEveryN", "3")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.select(F.col("id"), F.col("ts_us"), F.col("value"))
          .localCheckpoint() // pin: the source df is transient per batch
        if (batch.count() > 0) {
          batches.incrementAndGet()
          val prev = ver.get()
          val next =
            if (prev == 0) toIntervals(batch)
            else {
              val cur = spark.read.parquet(s"$store/v$prev")
              val touched = batch.select(F.col("id")).distinct()
              val untouched = cur.join(touched, Seq("id"), "left_anti")
              val affectedRaw = cur.join(touched, Seq("id"), "left_semi")
                .select(F.col("id"), F.col("valid_from_us").as("ts_us"), F.col("value"))
              untouched.unionByName(toIntervals(affectedRaw.unionByName(batch)))
            }
          next.write.mode("overwrite").parquet(s"$store/v${prev + 1}")
          ver.set(prev + 1)
        }
        ()
      }, availableNow = false)
    assert(batches.get() >= 3, s"only ${batches.get()} non-empty batches — no incremental path exercised")

    val incremental = spark.read.parquet(s"$store/v${ver.get()}")
    val batchRebuild = toIntervals(
      spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", "3000").option("pageSize", "400")
        .option("updatesEveryN", "3").load()
        .select(F.col("id"), F.col("ts_us"), F.col("value")))
    assert(incremental.exceptAll(batchRebuild).isEmpty &&
      batchRebuild.exceptAll(incremental).isEmpty,
      "incrementally-maintained SCD2 diverged from the batch rebuild")
  }

  test("q_funnel equals a per-user greedy replay, and stages are monotone") {
    val evs = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    var u1 = 0L; var u2 = 0L; var u3 = 0L
    evs.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      var t1 = Long.MinValue; var t2 = Long.MinValue; var t3 = Long.MinValue
      val cw = 8L * 3600 * 1000000; val bw = 24L * 3600 * 1000000
      sorted.foreach { case (_, ts, et) =>
        if (t1 == Long.MinValue && et == "view") t1 = ts
        else if (t1 != Long.MinValue && t2 == Long.MinValue && et == "click" &&
          ts > t1 && ts <= t1 + cw) t2 = ts
        else if (t2 != Long.MinValue && t3 == Long.MinValue && et == "purchase" &&
          ts > t2 && ts <= t2 + bw) t3 = ts
      }
      if (t1 != Long.MinValue) u1 += 1
      if (t2 != Long.MinValue) u2 += 1
      if (t3 != Long.MinValue) u3 += 1
    }
    val got = Funnel.qFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("1_view" -> u1, "2_click" -> u2, "3_purchase" -> u3))
    assert(u1 >= u2 && u2 >= u3)
  }
}
