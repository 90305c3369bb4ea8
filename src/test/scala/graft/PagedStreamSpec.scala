package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The paged source's MicroBatchStream: a multi-window, multi-page replay
  * must equal the batch read row-for-row, offsets must carry the
  * reference's 7-field state shape (load_mode / last_processed /
  * batch_end / current_offset / is_processing_batch / retry_count /
  * next_scheduled_run — ChargeOverSourceTask.java:409-416), the mode
  * must switch INITIAL→INCREMENTAL exactly once, and a restart from the
  * committed checkpoint must re-emit nothing. Per-poll offsets are read
  * from ProcessingTime runs, where a micro-batch is one poll; an
  * AvailableNow drain logs the same final offset as one micro-batch. */
class PagedStreamSpec extends SparkSpec {

  private val Rows = 2500L
  private val PageSize = 300
  private val WindowRows = 1000L

  private def stream() =
    spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", Rows).option("pageSize", PageSize)
      .option("windowRows", WindowRows)
      .load()

  private def sorted(view: String): Seq[Seq[Any]] =
    spark.table(view).orderBy(col("id")).collect().map(_.toSeq).toSeq

  test("stream == batch over a multi-window replay; offsets carry the reference state shape") {
    import graft.sources.PagedStreamOffset
    // per-poll run: under ProcessingTime a micro-batch is still one poll
    val perPollCkpt = StreamRuns.tempDir("graft_pp_ck")
    StreamRuns.drainToMemory(stream(), "paged_stream_polls", perPollCkpt,
      availableNow = false)
    val batch = spark.read.format("graft.sources.PagedEntitySource")
      .option("rows", Rows).option("pageSize", PageSize).load()
      .orderBy(col("id")).collect().map(_.toSeq).toSeq
    assert(batch.length == Rows)
    assert(sorted("paged_stream_polls") == batch, "streamed rows must equal the batch read")

    // one page per poll: ceil(1000/300)=4 batches per full window, 2 for
    // the 500-row tail window → 10 micro-batches, 10 offset-log entries
    val perPoll = StreamRuns.offsetJsons(perPollCkpt)
    assert(perPoll.length == 10, s"expected 10 micro-batches, got ${perPoll.length}")
    val parsed = perPoll.map(PagedStreamOffset.fromJson)
    // reference state shape: all 7 fields present in the serialized form
    for (field <- Seq("load_mode", "last_processed_id", "batch_end_id",
        "current_offset", "is_processing_batch", "retry_count", "next_scheduled_run"))
      assert(perPoll.head.contains(s""""$field""""), s"offset json missing $field: ${perPoll.head}")
    // absolute position is strictly monotone, ends at Rows
    val positions = parsed.map(_.pos)
    assert(positions == positions.sorted && positions.distinct.length == positions.length)
    assert(positions.last == Rows)
    // mode switches exactly once, INITIAL→INCREMENTAL, at the first
    // window's completion (batch index 3: pages 300/600/900/window-end)
    val modes = parsed.map(_.loadMode)
    assert(modes.takeWhile(_ == "INITIAL_LOAD").length == 3, s"modes: $modes")
    assert(modes.dropWhile(_ == "INITIAL_LOAD").forall(_ == "INCREMENTAL_LOAD"))
    // mid-window offsets are marked in-flight, window completions are not
    assert(parsed.exists(_.isProcessingBatch))
    val last = parsed.last
    assert(!last.isProcessingBatch && last.currentOffset == 0L &&
      last.lastProcessedId == Rows)

    // AvailableNow: the same polls, committed as ONE micro-batch — the
    // same rows and the same final 7-field offset, logged once
    val ckpt = StreamRuns.tempDir("graft_ps_ck")
    StreamRuns.drainToMemory(stream(), "paged_stream", ckpt, availableNow = true)
    assert(sorted("paged_stream") == batch)
    val drained = StreamRuns.offsetJsons(ckpt)
    assert(drained.length == 1, s"expected 1 micro-batch, got ${drained.length}")
    assert(drained.last == perPoll.last,
      s"final offset ${drained.last} differs from the per-poll ${perPoll.last}")

    // restart from the committed checkpoint: everything is already
    // committed, so the recovered run emits NOTHING (no duplicate pages —
    // the at-least-once quirk the reference accepts, §2a, is repaired by
    // Spark's offset log). foreachBatch sink: memory sink refuses
    // checkpoint recovery by design.
    val replayed = new java.util.concurrent.atomic.AtomicLong(0L)
    StreamRuns.drain(stream().writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        replayed.addAndGet(b.count()); ()
      }, availableNow = true)
    assert(replayed.get() == 0L, "restart must not re-emit committed pages")
  }

  test("growth between runs: restart resumes from the committed watermark, drains only new rows") {
    // the reference's operational loop: a run catches up to "now",
    // stops, more records accrue, the next run opens its window at the
    // COMMITTED last_processed — nothing re-read, nothing skipped.
    // Simulated by growing `rows` between two AvailableNow runs over one
    // checkpoint (the generator's extent IS "data available now").
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pg_ck").toString
    def drain(rows: Long): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val q = spark.readStream.format("graft.sources.PagedEntitySource")
        .option("rows", rows).option("pageSize", PageSize)
        .option("windowRows", WindowRows)
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("id")).collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .start()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      got.asScala.map(_.longValue).toSeq.sorted
    }
    assert(drain(1000L) == (0L until 1000L))
    assert(drain(2500L) == (1000L until 2500L),
      "second run must emit exactly the newly-arrived rows")
  }

  test("multi-entity stream: independent per-entity state machines equal the batch read") {
    def src(reader: Boolean) = {
      val opts = Map("entities" -> "customer,invoice", "customer.rows" -> "700",
        "invoice.rows" -> "1200", "pageSize" -> "300", "windowRows" -> "500")
      if (reader) {
        var r = spark.read.format("graft.sources.PagedEntitySource")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      } else {
        var r = spark.readStream.format("graft.sources.PagedEntitySource")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      }
    }
    val batch = src(reader = true)
      .orderBy(col("_entity_type"), col("id")).collect().map(_.toSeq).toSeq
    def drained(view: String, availableNow: Boolean): Seq[String] = {
      val ckpt = StreamRuns.tempDir("graft_pm_ck")
      StreamRuns.drainToMemory(src(reader = false), view, ckpt, availableNow)
      val got = spark.table(view)
        .orderBy(col("_entity_type"), col("id")).collect().map(_.toSeq).toSeq
      assert(got.length == 1900 && got == batch)
      StreamRuns.offsetJsons(ckpt)
    }
    // every poll advances EACH entity by ≤1 page of its open window:
    // customer (700 rows, windows 500/200) drains in 3 polls, invoice
    // (1200 rows, windows 500/500/200) in 5 → 5 per-poll micro-batches,
    // and one under AvailableNow, ending at the same offset
    val perPoll = drained("paged_multi_polls", availableNow = false)
    assert(perPoll.length == 5, s"expected 5 micro-batches, got ${perPoll.length}")
    val once = drained("paged_multi", availableNow = true)
    assert(once.length == 1, s"expected 1 micro-batch, got ${once.length}")
    assert(once.last == perPoll.last)
    val last = graft.sources.MultiPagedStreamOffset.fromJson(once.last)
    assert(last.entities("customer").lastProcessedId == 700L)
    assert(last.entities("invoice").lastProcessedId == 1200L)
    assert(last.entities.values.forall(o =>
      !o.isProcessingBatch && o.loadMode == "INCREMENTAL_LOAD"))
  }

  test("step admits a full window under ReadLimit.allAvailable without Long overflow") {
    import graft.sources.{PagedMicroBatchStream, PagedStreamOffset}
    // Trigger.Once forces ReadLimit.allAvailable regardless of the
    // default page limit — maxRows arrives as Long.MaxValue and a naive
    // pos + maxRows would wrap negative, regressing the committed offset
    val mid = PagedStreamOffset("INCREMENTAL_LOAD", 1000L, 1000L, 0L,
      isProcessingBatch = false)
    val stepped = PagedMicroBatchStream.step(mid, 2500L, 1000L, Long.MaxValue)
    assert(stepped == PagedStreamOffset("INCREMENTAL_LOAD", 2000L, 2000L, 0L,
      isProcessingBatch = false))
    // and from a mid-window position
    val inWin = PagedStreamOffset("INITIAL_LOAD", 0L, 1000L, 300L,
      isProcessingBatch = true)
    val s2 = PagedMicroBatchStream.step(inWin, 2500L, 1000L, Long.MaxValue)
    assert(s2.pos == 1000L && !s2.isProcessingBatch)
  }

  test("a micro-batch's pages pack into at most `slots` contiguous, unsplit runs") {
    import graft.sources.{PagedEntitySource, PagedPage, PagedPartition}
    val conf = PagedEntitySource.EntityConf("e", 0L, None, 5)
    def runs(pages: Seq[PagedPage], slots: Int): Seq[Seq[PagedPage]] =
      PagedPartition.pack(pages, slots).toSeq.map(_.asInstanceOf[PagedPartition].pages)
    // the cdc_http drain: 36 equal pages on 4 slots → 4 runs of 9
    val even = (0 until 36).map(i => PagedPage(i * 500L, i * 500L + 500, conf))
    assert(runs(even, 4).map(_.size) == Seq(9, 9, 9, 9))
    // a short tail page, any slot count
    val pages = even :+ PagedPage(18000L, 18100L, conf)
    for (slots <- Seq(1, 3, 4, 37, 64)) {
      val rs = runs(pages, slots)
      assert(rs.nonEmpty && rs.length <= slots && rs.forall(_.nonEmpty), s"slots=$slots")
      assert(rs.flatten == pages, "runs must keep every page, whole and in order")
      val rows = rs.map(_.map(_.rows).sum)
      assert(rows.max - rows.min <= 1000, s"slots=$slots unbalanced: $rows")
    }
    assert(PagedPartition.pack(Seq.empty, 4).isEmpty)
  }

  test("entity added to the config after a checkpoint starts from INITIAL_LOAD") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pa_ck").toString
    def drain(entities: String, opts: Map[String, String]): Seq[(String, Long)] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      var r = spark.readStream.format("graft.sources.PagedEntitySource")
        .option("entities", entities).option("pageSize", "300")
        .option("windowRows", "500")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("_entity_type"), col("id")).collect()
            .foreach(x => got.add((x.getString(0), x.getLong(1)))); ()
        }
        .start()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    val first = drain("customer", Map("customer.rows" -> "700"))
    assert(first == (0L until 700L).map(("customer", _)))
    // restart with invoice ADDED: it must drain from scratch while
    // customer re-emits nothing (the reference inits unseen entities to
    // INITIAL_LOAD, ChargeOverSourceTask.java:98-133)
    val second = drain("customer,invoice",
      Map("customer.rows" -> "700", "invoice.rows" -> "600"))
    assert(second == (0L until 600L).map(("invoice", _)),
      s"expected only invoice rows, got ${second.take(5)}... (${second.length})")
  }

  test("option validation mirrors the reference's config ranges") {
    def load(opts: (String, String)*): Unit = {
      var r = spark.read.format("graft.sources.PagedEntitySource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().collect()
    }
    // batch.size is range-validated [1, 500] at config time in the
    // reference (ConfigDef.Range.between, Config.java:53-58)
    for (bad <- Seq("0", "501", "-3")) {
      val e = intercept[IllegalArgumentException] { load("pageSize" -> bad) }
      assert(e.getMessage.contains("pageSize"))
    }
    intercept[IllegalArgumentException] { load("rows" -> "-1") }
    intercept[IllegalArgumentException] { load("windowRows" -> "-1") }
    load("rows" -> "10", "pageSize" -> "1") // bounds are inclusive
  }

  test("offset json round-trips through deserializeOffset") {
    val o = graft.sources.PagedStreamOffset("INCREMENTAL_LOAD", 1440L, 2880L,
      500L, isProcessingBatch = true)
    assert(graft.sources.PagedStreamOffset.fromJson(o.json()) == o)
    assert(o.pos == 1940L)
  }
}
