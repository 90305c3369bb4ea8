package graft

import org.apache.spark.sql.functions._

import graft.sources.{PagedMicroBatchStream, PagedStreamOffset}

/** R12 on the LIVE data path: the reference-exact retry loop
  * (fetchBatchWithRetry, ChargeOverSourceTask.java:296-343) wrapping the
  * simulated page fetch, poll-level retry_count surfacing in the stream
  * offset log (handleFetchError, :349-366), and the >10-consecutive-
  * failures batch reset (:356-361) producing the reference's documented
  * at-least-once window replay — repaired downstream by dedup. */
class PagedRetrySpec extends SparkSpec {

  private val Scale = "0.0001" // 30 s backoff cap → 3 ms sleeps

  test("transient page faults: fault-injected batch read == clean read") {
    def read(faulty: Boolean) = {
      var r = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", "2500").option("pageSize", "300")
      if (faulty) r = r.option("failEveryNthPage", "2")
        .option("failAttempts", "3").option("maxRetries", "3")
        .option("retryBackoffScale", Scale)
      r.load().orderBy(col("id")).collect().map(_.toSeq).toSeq
    }
    assert(read(faulty = true) == read(faulty = false))
  }

  test("rate-limited page faults (429 → flat 60 s) recover identically") {
    val rows = spark.read.format("graft.sources.PagedEntitySource")
      .option("rows", "1000").option("pageSize", "500")
      .option("failEveryNthPage", "1").option("failAttempts", "1")
      .option("rateLimit", "true").option("retryBackoffScale", Scale)
      .load().orderBy(col("id")).collect().map(_.getLong(0)).toSeq
    assert(rows == (0L until 1000L))
  }

  test("attempts exhausted: the read fails with the reference's final error") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", "100").option("pageSize", "100")
        .option("failEveryNthPage", "1").option("failAttempts", "5")
        .option("maxRetries", "2").option("retryBackoffScale", Scale)
        .load().collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val msgs = chain(e).map(x => Option(x.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("Failed after 3 attempts")),
      s"expected max.retries+1 exhaustion message, got: $msgs")
  }

  test("fault-injected AvailableNow drain == clean drain; offset log shows retry_count > 0") {
    def drained(view: String, availableNow: Boolean): Seq[PagedStreamOffset] = {
      val ckpt = tempDir("graft_rt_ck")
      val df = spark.readStream.format("graft.sources.PagedEntitySource")
        .option("rows", "2500").option("pageSize", "300")
        .option("windowRows", "1000")
        .option("failEveryNthPage", "3").option("failAttempts", "2")
        .option("retryBackoffScale", Scale)
        .option("pollFailAt", "600:2,1300:1") // exhausted polls mid-window
        .load()
      StreamRuns.drainToMemory(df, view, ckpt, availableNow)
      val got = spark.table(view)
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      val clean = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", "2500").option("pageSize", "300").load()
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      assert(got == clean, "fault-injected drain must be row-identical to a clean drain")
      val parsed = StreamRuns.entityOffsets(ckpt)
      // retry_count climbs 1→2 at pos 600, hits 1 at pos 1300, and every
      // successful poll resets it to 0 (Task.java:224 "reset on success")
      assert(parsed.map(_.retryCount).filter(_ > 0) == Seq(1, 2, 1),
        s"retry counts: ${parsed.map(_.retryCount)}")
      val failed = parsed.filter(_.retryCount > 0)
      assert(failed.map(_.pos) == Seq(600L, 600L, 1300L))
      assert(failed.forall(_.isProcessingBatch), "failed polls keep the window open")
      assert(parsed.last.retryCount == 0 && parsed.last.pos == 2500L)
      parsed
    }
    // per poll (ProcessingTime): the 10 clean micro-batches plus one
    // zero-progress batch per exhausted poll (2 at pos 600, 1 at pos 1300)
    val perPoll = drained("paged_retry_polls", availableNow = false)
    assert(perPoll.length == 13, s"expected 13 micro-batches, got ${perPoll.length}")
    // AvailableNow: each exhausted poll ends its batch — [0, 600) then the
    // failure, the second failure alone, [600, 1300) then the failure,
    // then the rest
    val once = drained("paged_retry", availableNow = true)
    assert(once.length == 4, s"expected 4 micro-batches, got ${once.length}")
    assert(once == perPoll.filter(_.retryCount > 0) :+ perPoll.last)
  }

  test(">10 consecutive exhausted polls reset the batch; replay duplicates repair by dedup") {
    // window [0, 1000) pages fine until pos 600, which fails 11 polls in a
    // row → reset: cursor back to 0, entity rescheduled to id 1440; the
    // 2500-row extent passes that mark, so the window reopens and
    // re-serves [0, 600) — the reference's at-least-once replay
    val ckpt = tempDir("graft_rs_ck")
    StreamRuns.drainToMemory(spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", "2500").option("pageSize", "300")
      .option("windowRows", "1000")
      .option("pollFailAt", "600:11")
      .load(), "paged_reset", ckpt, availableNow = true)

    val landed = spark.table("paged_reset").select(col("id"))
      .collect().map(_.getLong(0)).toSeq
    val clean = (0L until 2500L)
    // [0, 600) was served twice: once before the failures, again after the
    // reset reopened the window from last_processed = 0
    assert(landed.sorted == (clean ++ (0L until 600L)).sorted,
      s"expected the window-prefix replay, got ${landed.length} rows")
    assert(landed.distinct.sorted == clean,
      "dedup repairs the replay to exactly the clean extent")

    val parsed = StreamRuns.entityOffsets(ckpt)
    // retry_count climbed to 10, then the reset wrote the rescheduled
    // parked state (retry_count back to 0, cursor regressed)
    assert(parsed.map(_.retryCount).max == 10)
    val reset = parsed.find(o => o.nextScheduledRunId > 0L)
    assert(reset.isDefined, "reset offset must carry the +1440 reschedule")
    assert(reset.get == PagedStreamOffset("INITIAL_LOAD", 0L, 0L, 0L,
      isProcessingBatch = false, retryCount = 0, nextScheduledRunId = 1440L))
  }

  test("multi-entity: each entity carries its own poll-failure budget through the reset") {
    // both entities exhaust the page at pos 600 for 10 polls in a row; the
    // 11th poll must reset BOTH — one entity's reset must not retire the
    // outage the other is still counting — and both replay [0, 600)
    val ckpt = tempDir("graft_me_ck")
    StreamRuns.drainToMemory(spark.readStream.format("graft.sources.PagedEntitySource")
      .option("entities", "a,b").option("rows", "2500").option("pageSize", "300")
      .option("windowRows", "1000")
      .option("pollFailAt", "600:11")
      .load(), "paged_multi_reset", ckpt, availableNow = true)
    val landed = spark.table("paged_multi_reset")
      .select(col("_entity_type"), col("id")).collect()
      .groupBy(_.getString(0)).map { case (e, rs) => e -> rs.map(_.getLong(1)).sorted.toSeq }
    for (e <- Seq("a", "b"))
      assert(landed(e) == ((0L until 2500L) ++ (0L until 600L)).sorted,
        s"entity $e must replay [0, 600) after its reset, got ${landed(e).length} rows")
    val a = StreamRuns.entityOffsets(ckpt, "a")
    val b = StreamRuns.entityOffsets(ckpt, "b")
    val resetAt = a.indexWhere(_.nextScheduledRunId > 0L)
    assert(resetAt >= 0, s"entity a never reset: $a")
    assert(b(resetAt) == a(resetAt) && b(resetAt) == PagedStreamOffset("INITIAL_LOAD",
      0L, 0L, 0L, isProcessingBatch = false, retryCount = 0, nextScheduledRunId = 1440L),
      s"both entities must reset in the same poll: a=${a(resetAt)} b=${b(resetAt)}")
  }

  test("reset parks the entity when data growth has not passed the reschedule mark") {
    // target 1200 < reschedule mark 1440 ⇒ after the reset the drain ends
    // with the entity parked; a later run with more data resumes it
    val ckpt = tempDir("graft_pk_ck")
    def drain(rows: Long): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      StreamRuns.drain(spark.readStream.format("graft.sources.PagedEntitySource")
        .option("rows", rows.toString).option("pageSize", "300")
        .option("windowRows", "1000")
        .option("pollFailAt", "600:11")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("id")).collect().foreach(r => got.add(r.getLong(0))); ()
        }, availableNow = true)
      import scala.jdk.CollectionConverters._
      got.asScala.map(_.longValue).toSeq
    }
    val first = drain(1200L)
    // [0, 600) landed, then 11 failures reset the batch and parked the
    // entity at next_scheduled_run = 1440 > 1200 — nothing more drains
    assert(first.sorted == (0L until 600L))
    // growth to 3000 passes the mark: the reopened window replays from
    // last_processed = 0 (the fresh run re-arms the fault plan, so the
    // outage repeats once more before retiring) and catches up — nothing
    // LOST, duplicates only from the documented window replays
    val second = drain(3000L)
    assert(second.distinct.sorted == (0L until 3000L),
      s"resumed drain must catch up losing nothing, got ${second.distinct.length} distinct rows")
    assert(second.length > second.distinct.length,
      "the reopened window must have replayed already-emitted rows")
  }

  test("step: pure poll-failure algebra (count, reset, park, resume)") {
    var s = PagedStreamOffset("INCREMENTAL_LOAD", 500L, 0L, 0L, isProcessingBatch = false)
    // 10 failures count up with the window held open
    for (i <- 1 to 10) {
      s = PagedMicroBatchStream.step(s, 2000L, 1000L, 300L, Map(500L -> 11))
      assert(s.retryCount == i && s.pos == 500L && s.isProcessingBatch)
    }
    // the 11th failure resets: cursor regressed, parked at 500+1440
    val reset = PagedMicroBatchStream.step(s, 2000L, 1000L, 300L, Map(500L -> 11))
    assert(reset == PagedStreamOffset("INCREMENTAL_LOAD", 500L, 0L, 0L,
      isProcessingBatch = false, retryCount = 0, nextScheduledRunId = 1940L))
    // parked: target below the mark returns the state unchanged
    assert(PagedMicroBatchStream.step(reset, 1900L, 1000L, 300L, Map.empty) eq reset)
    // resumed: target past the mark reopens the window at last_processed
    val resumed = PagedMicroBatchStream.step(reset, 2000L, 1000L, 300L, Map.empty)
    assert(resumed.pos == 800L && resumed.batchEndId == 1500L && resumed.isProcessingBatch)
  }

  test("step clamps a restored in-flight window to the configured extent") {
    // checkpoint carries an open window to 2000, but the restart only
    // configures 1200 rows — wEnd must clamp, never serving ids >= 1200
    val inflight = PagedStreamOffset("INITIAL_LOAD", 0L, 2000L, 900L,
      isProcessingBatch = true)
    val s = PagedMicroBatchStream.step(inflight, 1200L, 2000L, 300L)
    assert(s.pos == 1200L && !s.isProcessingBatch && s.lastProcessedId == 1200L)
  }

  test("backoff schedule: formula values are reference-exact, jitter deterministic") {
    // the sleep is StateMachine.backoffMillis (PropertySpec pins the
    // formula against Task.java:330-336); here pin the jitter source:
    // same (page, attempt) → same unit sample, different pages → different
    val j1 = graft.sources.PagedEntitySource.jitterUnit(300L, 0)
    val j2 = graft.sources.PagedEntitySource.jitterUnit(300L, 0)
    val j3 = graft.sources.PagedEntitySource.jitterUnit(600L, 0)
    assert(j1 == j2 && j1 != j3 && j1 >= 0.0 && j1 < 1.0)
    // 429 path: flat 60 s regardless of attempt
    assert(graft.engine.StateMachine.backoffMillis(7, rateLimited = true, j1) == 60000L)
  }

  test("fault options are validated at table resolution") {
    def load(opts: (String, String)*): Unit = {
      var r = spark.read.format("graft.sources.PagedEntitySource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().collect()
    }
    intercept[IllegalArgumentException] { load("failEveryNthPage" -> "-1") }
    intercept[IllegalArgumentException] { load("maxRetries" -> "-2") }
    intercept[IllegalArgumentException] { load("retryBackoffScale" -> "0") }
    intercept[IllegalArgumentException] { load("pollFailAt" -> "banana") }
    intercept[IllegalArgumentException] { load("pollFailAt" -> "100:-3") }
    // per-entity rows and entity names validate like the global options
    intercept[IllegalArgumentException] {
      load("entities" -> "customer", "customer.rows" -> "-5")
    }
    intercept[IllegalArgumentException] { load("entities" -> """a"b""") }
    intercept[IllegalArgumentException] { load("entities" -> "a.b") }
  }

  test("multi-entity: faults + per-batch admission split still equal the batch read") {
    def src(stream: Boolean) = {
      val opts = Map("entities" -> "customer,invoice", "customer.rows" -> "700",
        "invoice.rows" -> "1200", "pageSize" -> "300", "windowRows" -> "500",
        "failEveryNthPage" -> "2", "failAttempts" -> "2",
        "retryBackoffScale" -> Scale)
      if (stream) {
        var r = spark.readStream.format("graft.sources.PagedEntitySource")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      } else {
        var r = spark.read.format("graft.sources.PagedEntitySource")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      }
    }
    val batch = src(stream = false)
      .orderBy(col("_entity_type"), col("id")).collect().map(_.toSeq).toSeq
    def drained(view: String, availableNow: Boolean): Int = {
      val ckpt = tempDir("graft_mf_ck")
      StreamRuns.drainToMemory(src(stream = true), view, ckpt, availableNow)
      val got = spark.table(view)
        .orderBy(col("_entity_type"), col("id")).collect().map(_.toSeq).toSeq
      assert(got.length == 1900 && got == batch)
      StreamRuns.offsetJsons(ckpt).length
    }
    // the declared default limit (pageSize × entities) splits back to one
    // page per entity per poll: same 5 per-poll micro-batches as the
    // clean spec, and one under AvailableNow (page faults heal in-fetch)
    val perPoll = drained("paged_multi_fault_polls", availableNow = false)
    assert(perPoll == 5, s"expected 5 micro-batches, got $perPoll")
    val once = drained("paged_multi_fault", availableNow = true)
    assert(once == 1, s"expected 1 micro-batch, got $once")
  }
}
