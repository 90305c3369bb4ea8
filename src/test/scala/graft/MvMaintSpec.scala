package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Cdc, Iterate, Materialize, Resample, Tables}

/** Specs for the incremental-analytics trio: materialized-aggregate
  * maintenance, linear interpolation, snapshot differencing. */
class MvMaintSpec extends SparkSpec {

  // --- incremental aggregate maintenance ----------------------------------

  /** One-shot recompute of the mergeable metrics (the ground truth the
    * maintained state must equal). */
  private def fullRollup: DataFrame =
    Materialize.mergePartials(
      Materialize.partialAgg(Materialize.measured(spark, sf)))

  test("iterated merge over 4 chronological slices == one-shot recompute") {
    val ev = Iterate.cut(Materialize.measured(spark, sf))
    val Array(lo, hi) = ev.agg(min(col("us")), max(col("us"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // 4 contiguous, deliberately day-unaligned slices
    val cuts = (0 to 4).map(i => lo + (hi - lo + 1) * i / 4)
    val slices = cuts.sliding(2).map { case Seq(a, b) =>
      Materialize.partialAgg(ev.filter(col("us") >= a && col("us") < b + (
        if (b == cuts.last) 1 else 0)))
    }.toSeq
    // fold: state := merge(state ∪ delta-partial), one slice at a time —
    // exactly how a daily MV job maintains the table
    val maintained = slices.reduceLeft((state, delta) =>
      Materialize.mergePartials(state.unionByName(delta)))
    assert(maintained.exceptAll(fullRollup).count() == 0 &&
      fullRollup.exceptAll(maintained).count() == 0,
      "iterated maintenance must equal the full recompute")
  }

  test("merge is associative: (s1+s2)+s3 == s1+(s2+s3)") {
    val ev = Iterate.cut(Materialize.measured(spark, sf))
    val Array(lo, hi) = ev.agg(min(col("us")), max(col("us"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * (hi - lo) / 3
    val s1 = Materialize.partialAgg(ev.filter(col("us") < c1))
    val s2 = Materialize.partialAgg(ev.filter(col("us") >= c1 && col("us") < c2))
    val s3 = Materialize.partialAgg(ev.filter(col("us") >= c2))
    val left = Materialize.mergePartials(
      Materialize.mergePartials(s1.unionByName(s2)).unionByName(s3))
    val right = Materialize.mergePartials(
      s1.unionByName(Materialize.mergePartials(s2.unionByName(s3))))
    assert(left.exceptAll(right).count() == 0 &&
      right.exceptAll(left).count() == 0)
  }

  test("q_incr_agg: group count and exact-distinct sanity") {
    val out = Iterate.cut(Materialize.qIncrAgg(spark, sf))
    val groups = Materialize.measured(spark, sf)
      .select(col("day"), col("event_type")).distinct().count()
    assert(out.count() == groups, "one row per (day, event_type)")
    // n_users is EXACT distinct despite the two-level keyset union
    val truth = Materialize.measured(spark, sf)
      .groupBy(col("day"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("expect_users"))
    val joined = out.join(truth, Seq("day", "event_type"))
    assert(joined.filter(col("n_users") =!= col("expect_users")).count() == 0,
      "keyset-union distinct must be exact on the straddling day too")
  }

  test("streaming maintenance: foreachBatch merge over micro-batches == batch recompute") {
    // stage events as 3 files; maxFilesPerTrigger=1 forces 3 micro-batches
    val in = tempDir("mv_in")
    val raw = Tables.eventsRaw(spark, sf)
    val n = raw.count()
    raw.filter(col("event_id") * 3 < n).coalesce(1).write.parquet(s"$in/s1")
    raw.filter(col("event_id") * 3 >= n && col("event_id") * 3 < 2 * n)
      .coalesce(1).write.parquet(s"$in/s2")
    raw.filter(col("event_id") * 3 >= 2 * n).coalesce(1).write.parquet(s"$in/s3")
    for (s <- Seq("s1", "s2", "s3");
         f <- new java.io.File(s"$in/$s").listFiles()
         if f.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/$s.parquet"))
    // state := merge(state ∪ partial(batch)) per micro-batch — the MV job
    // a production pipeline runs from the changelog topic; cut() detaches
    // each state from the expiring micro-batch lineage
    var state: Option[org.apache.spark.sql.DataFrame] = None
    var batches = 0
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*.parquet"))
    graft.engine.Streaming.drain(stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val partial = Materialize.partialAgg(Materialize.measureEvents(b))
        state = Some(Iterate.cut(state.fold(partial)(s =>
          Materialize.mergePartials(s.unionByName(partial)))))
        batches += 1
      }, "materialized-view stream")
    assert(batches >= 3, s"expected one micro-batch per staged file, got $batches")
    val got = state.get
    assert(got.exceptAll(fullRollup).count() == 0 &&
      fullRollup.exceptAll(got).count() == 0,
      "streamed MV state must equal the batch recompute")
  }

  // --- linear interpolation -----------------------------------------------

  test("q_interpolate invariants: pass-through, boundedness, edge fills") {
    val out = Iterate.cut(Resample.qInterpolate(spark, sf))
    // observed rows pass through as the exact hourly sum
    val hourly = Tables.events(spark, sf)
      .withColumn("bucket_us",
        unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(Resample.HourUs)))
      .groupBy(col("event_type"), col("bucket_us"))
      .agg(sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("expect_cents"))
    val obs = out.filter(!col("is_gap")).join(hourly, Seq("event_type", "bucket_us"))
    assert(obs.filter(col("interp_cents") =!= col("expect_cents")).count() == 0,
      "non-gap rows must carry the observed value unchanged")
    assert(obs.count() == hourly.count(), "every observed hour appears once")
    // every gap value lies within [min(prev,next), max(prev,next)] of its
    // flanking observations — the defining property of linear interp
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bucket_us"))
    val flanked = out
      .withColumn("obs", when(!col("is_gap"), col("interp_cents")))
      .withColumn("prev", last(col("obs"), ignoreNulls = true)
        .over(w.rowsBetween(Long.MinValue, -1)))
      .withColumn("nxt", first(col("obs"), ignoreNulls = true)
        .over(w.rowsBetween(1, Long.MaxValue)))
      .filter(col("is_gap") && col("prev").isNotNull && col("nxt").isNotNull)
    assert(flanked.filter(
      col("interp_cents") < least(col("prev"), col("nxt")) ||
      col("interp_cents") > greatest(col("prev"), col("nxt"))).count() == 0,
      "interior gaps must interpolate within their flanking observations")
    assert(out.groupBy(col("event_type")).count().select(col("count"))
      .distinct().count() == 1, "every series shares the full spine")
  }

  test("interpolation formula is exact on a constructed 3-hour gap") {
    import spark.implicits._
    val h = Resample.HourUs
    // series with observations at hour 0 (=1000¢) and hour 4 (=5000¢):
    // gaps at hours 1..3 must land exactly on 2000/3000/4000
    val df = Seq((0L * h, 10.0), (4L * h, 50.0))
      .toDF("us", "value")
      .select(to_timestamp(col("us") / 1000000L).as("ts"),
        lit("s").as("event_type"), col("value"),
        lit(1L).as("event_id"), lit(1L).as("user_id"), lit("{}").as("props"))
    val dir = tempDir("interp")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Resample.qInterpolate(spark, dir)
      .select(col("bucket_us"), col("interp_cents")).collect()
      .map(r => r.getLong(0) / h -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1000L, 1L -> 2000L, 2L -> 3000L,
      3L -> 4000L, 4L -> 5000L), s"got $out")
  }

  // --- snapshot diff ------------------------------------------------------

  test("q_snapshot_diff: every op matches its carve predicate; minimality") {
    val out = Iterate.cut(Cdc.qSnapshotDiff(spark, sf))
    val bad = out.filter(
      (col("op") === "I" && !(pmod(col("o_orderkey"), lit(1000)) === 0 &&
        pmod(col("o_orderkey"), lit(997)) =!= 0)) ||
      (col("op") === "D" && !(pmod(col("o_orderkey"), lit(997)) === 0 &&
        pmod(col("o_orderkey"), lit(1000)) =!= 0)) ||
      (col("op") === "U" && !(pmod(col("o_orderkey"), lit(7)) === 0 &&
        col("old_cents") =!= col("new_cents"))))
    assert(bad.count() == 0, "ops must match the snapshot carve exactly")
    // delta reconstructs the new snapshot value
    assert(out.filter(col("op") === "U")
      .filter(col("old_cents") + col("delta_cents") =!= col("new_cents"))
      .count() == 0)
    // minimality: applying the diff to OLD yields NEW (cardinality check:
    // |new| = |old| + |I| - |D|, and U rows exist in both)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val nNew = orders.filter(pmod(col("o_orderkey"), lit(997)) =!= 0).count()
    val nOld = orders.filter(pmod(col("o_orderkey"), lit(1000)) =!= 0).count()
    val byOp = out.groupBy(col("op")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nNew == nOld + byOp.getOrElse("I", 0L) - byOp.getOrElse("D", 0L))
  }
}
