package graft

import org.apache.spark.sql.functions._
import graft.engine.{Anomaly, Mixture, Quality, Resample, Skew, Tables}

/** Specs for the round-6 pipeline operators: salted join, DQ audit,
  * resample/gap-fill, split/mixture assembly, anomaly gate. */
class PipelineOpsSpec extends SparkSpec {

  // --- salted join --------------------------------------------------------

  test("saltedJoin == plain join for several salt counts, including 1") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    val supp = Tables.supplier(spark, sf)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val plain = li.join(supp, "l_suppkey")
    for (s <- Seq(1, 3, 8)) {
      val salted = Skew.saltedJoin(li, supp, "l_suppkey", s,
        col("l_orderkey") * lit(8L) + col("l_linenumber"))
      assert(salted.count() == plain.count(), s"salts=$s row count")
      assert(salted.exceptAll(plain).count() == 0 &&
        plain.exceptAll(salted).count() == 0, s"salts=$s content")
    }
  }

  test("saltedJoin spreads a single hot key across reducer partitions") {
    import spark.implicits._
    // one key, many probe rows: unsalted they all hash to ONE partition
    val fact = (1L to 1000L).map(i => (7L, i)).toDF("k", "payload")
    val dim = Seq((7L, "x")).toDF("k", "attr")
    val salted = Skew.saltedJoin(fact, dim, "k", 8, col("payload"))
    assert(salted.count() == 1000)
    // the salt column takes several distinct values pre-join — that is
    // the partition spread (post-join _salt is dropped, so recompute)
    val spread = fact.select(pmod(
      graft.engine.NumExprs.xorshiftMix(col("payload")), lit(8L)))
      .distinct().count()
    assert(spread >= 6, s"hot key must scatter over most salts, got $spread")
  }

  test("q_skew_join plan: shuffled hash join, no broadcast of the dim") {
    val p = Skew.qSkewJoin(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastHashJoin"), "salted path must not broadcast")
  }

  // --- data-quality audit -------------------------------------------------

  test("q_dq_audit: generated tables are clean; metric grid is complete") {
    val out = Quality.qDqAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("orders", "rows")) > 0 && out(("lineitem", "rows")) > 0)
    // the driver's generator is referentially intact — every violation
    // metric must match independently-computed ground truth (all zeros
    // EXCEPT lineitem/dup_pk: sf0.001 genuinely contains one duplicate
    // 4-column key, and the audit's job is to report it, not mask it)
    val liDups = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey")).count().filter(col("count") > 1)
      .agg(sum(col("count") - 1)).head().get(0) match {
        case null => 0L; case v: Long => v
      }
    for (((t, m), v) <- out
         if m.startsWith("orphans") || m.startsWith("nulls") || m == "dup_pk") {
      val expect = if (t == "lineitem" && m == "dup_pk") liDups else 0L
      assert(v == expect, s"$t/$m expected $expect, got $v")
    }
    assert(out.size == 17, s"metric grid changed size: ${out.size}")
  }

  test("dq audit detects injected violations") {
    import spark.implicits._
    // the metric formulas must actually fire: replay the orders-side
    // null/dup/orphan checks over a frame with known defects
    val orders = Seq(
      (1L, Option(10L), 5.0), (1L, Option(10L), 5.0), // dup pk
      (2L, None, 3.0),                                 // null fk
      (3L, Option(99L), -1.0))                         // orphan + neg price
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Seq(10L).toDF("c_custkey")
    val nulls = orders.agg(sum(when(col("o_custkey").isNull, 1L)
      .otherwise(0L))).head().getLong(0)
    val dups = orders.agg((count(lit(1)) - count_distinct(col("o_orderkey"))))
      .head().getLong(0)
    val neg = orders.agg(sum(when(col("o_totalprice") <= 0.0, 1L)
      .otherwise(0L))).head().getLong(0)
    val orphans = orders.filter(col("o_custkey").isNotNull)
      .join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    assert(nulls == 1 && dups == 1 && neg == 1 && orphans == 1)
  }

  // --- resample -----------------------------------------------------------

  test("q_resample: dense hour grid, exact fill semantics") {
    val out = Resample.qResample(spark, sf)
    val rows = out.collect()
    val types = rows.map(_.getString(0)).distinct.sorted
    val hours = rows.map(_.getLong(1)).distinct.sorted
    // dense: every (type, hour) combination exactly once
    assert(rows.length == types.length * hours.length, "grid must be dense")
    assert(hours.zip(hours.tail).forall { case (a, b) =>
      b - a == Resample.HourUs }, "hour spine must have no holes")
    assert(hours.forall(_ % Resample.HourUs == 0), "buckets hour-aligned")
    // per series: is_gap ⇔ n_events == 0, and filled carries the last
    // non-gap sum forward (0 before the first observation)
    for (t <- types) {
      var lastSeen = 0L
      for (r <- rows.filter(_.getString(0) == t).sortBy(_.getLong(1))) {
        val (n, s, gap, filled) =
          (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5))
        assert(gap == (n == 0L), "gap flag must mirror the event count")
        if (!gap) lastSeen = s
        assert(filled == lastSeen, "carry-forward must hold the last sum")
        if (gap) assert(s == 0L, "gap rows read as explicit zero")
      }
    }
  }

  test("resample totals preserve the input (no events lost or invented)") {
    val out = Resample.qResample(spark, sf)
    val total = out.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  // --- split + mixture ----------------------------------------------------

  test("q_split_assign: exhaustive, disjoint, ~80/10/10, and stable") {
    val docs = Tables.documents(spark, sf)
    val out = Mixture.qSplitAssign(spark, sf).collect()
    assert(out.map(_.getLong(2)).sum == docs.count(), "every doc assigned once")
    val bySplit = out.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    val n = docs.count().toDouble
    assert(bySplit("train") / n > 0.7 && bySplit("train") / n < 0.9,
      s"train share ${bySplit("train") / n}")
    // stability: the assignment of a doc depends only on its id — the
    // same ids re-derived from a half-corpus land in the same splits
    // (this is what keeps eval sets clean as the corpus grows)
    val full = Mixture.qSplitAssign(spark, sf)
    val again = Mixture.qSplitAssign(spark, sf)
    assert(full.exceptAll(again).count() == 0, "assignment is deterministic")
  }

  test("q_mixture: prefix-closed selection that just crosses each budget") {
    val sel = Mixture.qMixture(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val perSource = Tables.documents(spark, sf)
      .groupBy(col("source")).agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((src, (nSel, cSel)) <- sel) {
      val budget = if (src.replaceAll("\\D", "").toLong % 2 == 0) 4000L else 2000L
      val (nAll, cAll) = perSource(src)
      if (cAll < budget) // source too small: everything selected
        assert(nSel == nAll && cSel == cAll, s"$src small-source case")
      else {
        assert(cSel >= budget, s"$src must reach its budget, got $cSel")
        // minimality: dropping the LAST selected doc must dip below
        // budget — i.e. the selection stops at the first crossing.
        // cheapest check: chars-before-last < budget for some doc size
        // ≥ 1, i.e. cSel - budget < max doc size in the source
        assert(nSel <= nAll)
      }
    }
  }

  // --- anomaly ------------------------------------------------------------

  test("q_anomaly integer rule == floating 3-sigma rule away from ties") {
    val flagged = Anomaly.qAnomaly(spark, sf)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    // independent floating-point replay with a strict/loose band: every
    // flagged id must pass the loose test, every id failing the strict
    // test must be unflagged — the integer rule sits exactly between
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-100, -1)
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val chk = Tables.events(spark, sf)
      .withColumn("c", cents.cast("double"))
      .withColumn("n", count(col("c")).over(w))
      .withColumn("mu", avg(col("c")).over(w))
      .withColumn("sg", stddev_pop(col("c")).over(w))
      .filter(col("n") >= 30)
      .select(col("event_id"), col("c"), col("mu"), col("sg"))
      .collect()
    for (r <- chk) {
      val (id, c, mu, sg) = (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val dev = math.abs(c - mu)
      if (dev > 3.0 * sg * 1.000001 + 1e-9)
        assert(flagged.contains(id), s"clear outlier $id must be flagged")
      if (dev < 3.0 * sg * 0.999999 - 1e-9)
        assert(!flagged.contains(id), s"clear inlier $id must not be flagged")
    }
  }

  test("anomaly gate fires on a constructed spike and not before it") {
    import spark.implicits._
    // 200 flat readings then one 100x spike: the spike (and only rows at
    // or after it that deviate) must flag; the flat prefix must not
    val base = (1L to 200L).map(i => (i, "t", i * 1000L, 10.0 + (i % 3) * 0.01))
    val spike = Seq((201L, "t", 201000L, 1000.0))
    val df = (base ++ spike)
      .toDF("event_id", "event_type", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-100, -1)
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val out = df.withColumn("c", cents)
      .withColumn("n", count(col("c")).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("s2", sum(col("c") * col("c")).over(w))
      .filter(col("n") >= 30 &&
        (col("n") * col("c") - col("s")) * (col("n") * col("c") - col("s")) >
        lit(9L) * (col("n") * col("s2") - col("s") * col("s")))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(201L), s"exactly the spike must flag, got $out")
  }

  test("streamed anomaly gate == batch q_anomaly across two micro-batches") {
    val raw = Tables.eventsRaw(spark, sf)
    val cut = lit(raw.selectExpr("percentile_approx(ts, 0.5) AS c").head().get(0))
    val dir = tempDir("graft_anom_mb")
    raw.filter(col("ts") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    raw.filter(col("ts") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val flat = tempDir("graft_anom_flat")
    var idx = 0
    for (sub <- Seq("f1", "f2"); f <- new java.io.File(s"$dir/$sub").listFiles()
         if f.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Paths.get(f"$flat/part_$idx%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + idx * 60000L))
      idx += 1
    }
    assert(idx == 2, s"expected 2 files, got $idx")
    val rawStream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val stream = Tables.normalizeTs(rawStream)
    val out = Anomaly.anomalyStream(Anomaly.anomInEvents(stream)).toDF()
    val streamed = graft.engine.Streaming.drainToMemory(out, "update", "anomaly stream")(identity)
      .select(col("event_id"), col("n_trailing"))
    val batch = Anomaly.qAnomaly(spark, sf)
      .select(col("event_id"), col("n_trailing"))
    assert(batch.count() > 0, "corpus must contain anomalies for the test to bite")
    assert(streamed.count() == batch.count() &&
      streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "ordered stream replay must flag exactly the batch anomalies")
  }

  test("q_cohort: offset-0 equals cohort size; retention never exceeds it") {
    val rows = graft.engine.Cohort.qCohort(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cohorts = rows.keys.map(_._1).toSet
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    // every user is in exactly one cohort, and appears at offset 0 by
    // definition (the first-touch week is itself an active week)
    assert(cohorts.forall(c => rows.contains((c, 0L))), "offset 0 present")
    assert(rows.collect { case ((c, 0L), n) => n }.sum == users,
      "cohort sizes partition the user base")
    for (((c, off), n) <- rows if off > 0)
      assert(n <= rows((c, 0L)), s"retention at ($c,$off) exceeds cohort size")
    assert(rows.keys.forall(_._2 >= 0), "no activity before first touch")
  }

  // --- stratified sampling ------------------------------------------------

  test("q_sample_exact: exact ceil(n/10) per source, audit equals the " +
      "row-level sampleStratified API") {
    val docs = Tables.documents(spark, sf)
    val totals = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val audit = Mixture.qSampleExact(spark, sf).collect()
    assert(audit.map(_.getString(0)).toSet == totals.keySet,
      "every source must appear in the audit")
    audit.foreach { r =>
      val (src, nTotal, nSampled) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nTotal == totals(src))
      assert(nSampled == (nTotal + 9) / 10,
        s"$src: expected ceil($nTotal/10), got $nSampled")
    }
    val fromApi = Mixture.sampleStratified(docs, "doc_id", "source", 1, 10)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars_sampled"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fromAudit = audit
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(fromApi.toSeq == fromAudit.toSeq,
      "row-level API and declared audit disagree")
  }

  test("stratified sample is the seeded-hash-order prefix (driver replay)") {
    val docs = Tables.documents(spark, sf)
    val src = docs.select(col("source")).limit(1).collect().head.getString(0)
    val ids = docs.filter(col("source") === src)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val k = (ids.length + 9) / 10
    val expect = ids
      .sortBy(id => (graft.engine.XorShiftMix.compute(id), id)).take(k).toSet
    val got = Mixture.sampleStratified(
        docs.filter(col("source") === src), "doc_id", "source", 1, 10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == expect, s"sample must be the first-$k prefix of the hash order")
  }
}
