package graft

import org.apache.spark.sql.functions._
import graft.engine.Streaming

import graft.sources.PagedEntitySource
import PagedHttpFixture.serving

/** R12 over a REAL socket: the paged source with `endpoint=` fetches
  * every planned page by HTTP GET in the reference's URL grammar, and the
  * retry loop recovers from genuine 429/5xx responses — the source's one
  * page-fault path. */
class HttpPagedSpec extends SparkSpec {

  private def genRead(rows: Long, pageSize: Int) =
    spark.read.format("graft.sources.PagedEntitySource")
      .option("rows", rows).option("pageSize", pageSize).load()

  test("clean HTTP read == generator read; where/order/limit/offset/fields reach the wire") {
    serving(Map("events" -> 2000L)) { fx =>
      // multi-entity mode: the schema is nullable there, which is what
      // makes a server-side fields= projection representable (the
      // single-entity schema declares every generator field non-null)
      def read(endpoint: Option[String]) = {
        val r = spark.read.format("graft.sources.PagedEntitySource")
          .option("entities", "events")
          .option("events.rows", 2000L).option("pageSize", 500)
          .option("events.fields", "id,ts_us,value")
        endpoint.foreach(e => r.option("endpoint", e))
        r.load()
          .filter(col("ts_us") >= PagedEntitySource.tsOf(600L) &&
            col("ts_us") < PagedEntitySource.tsOf(1700L))
      }
      // client-side sort: a Spark orderBy would range-sample the source
      // in an extra pass and double every page request in the wire log
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq.sortBy(_(1).asInstanceOf[Long])
      val got = rows(read(Some(fx.endpoint)))
      val want = rows(read(None))
      assert(got.size == 1100 && got == want,
        s"HTTP read diverged from the generator: ${got.size} rows")
      assert(got.forall(_(4) == null),
        "unprojected fields must come back null (schemaless record lacks them)")
      // the wire carries the reference grammar, window pushed down:
      // pages 600-1100, 1100-1600, 1600-1700 → offsets 0, 500, 1000
      val reqs = fx.requests.toArray(Array.empty[String]).toSeq
        .filter(_.contains("where="))
      assert(reqs.size == 3, s"expected 3 page requests, got $reqs")
      val whereLo = PagedEntitySource.tsOf(600L)
      val whereHi = PagedEntitySource.tsOf(1700L)
      Seq(0L, 500L, 1000L).foreach { off =>
        assert(reqs.exists(r => r.contains(s"offset=$off") &&
          r.contains(s"where=ts_us:GTE:$whereLo,ts_us:LT:$whereHi") &&
          r.contains("order=ts_us:ASC") &&
          r.contains("fields=id,ts_us,value")),
          s"no page request at offset $off with the pushed window: $reqs")
      }
    }
  }

  test("transient 5xx: retry loop recovers; read == clean; server saw the retries") {
    serving(Map("events" -> 1200L)) { fx =>
      fx.failFirst("events", 500L, times = 2, status = 503)
      val http = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", 1200L).option("pageSize", 500)
        .option("endpoint", fx.endpoint)
        .option("retryBackoffScale", 1e-4)
        .load()
      // client-side sort (see test 1): keeps the wire log one-pass
      val got = http.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val want = genRead(1200L, 500).collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      assert(got == want, "faulted HTTP read must equal the clean generator read")
      val attempts = fx.requests.toArray(Array.empty[String]).toSeq
        .count(_.contains("offset=500"))
      assert(attempts == 3, s"expected 2 failures + 1 success at offset 500, got $attempts")
    }
  }

  test("real 429: the rate-limited flavor recovers identically") {
    serving(Map("events" -> 700L)) { fx =>
      fx.failFirst("events", 0L, times = 1, status = 429)
      val http = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", 700L).option("pageSize", 500)
        .option("endpoint", fx.endpoint)
        .option("retryBackoffScale", 1e-5)
        .load()
      val got = http.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val want = genRead(700L, 500).collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      assert(got == want)
      val attempts = fx.requests.toArray(Array.empty[String]).toSeq
        .count(_.contains("offset=0"))
      assert(attempts == 2, s"expected 1 rate-limited failure + 1 success, got $attempts")
    }
  }

  test("attempts exhausted over HTTP: the read fails with the reference's final error") {
    serving(Map("events" -> 500L)) { fx =>
      fx.failFirst("events", 0L, times = 99, status = 503)
      val http = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", 500L).option("pageSize", 500)
        .option("endpoint", fx.endpoint)
        .option("maxRetries", 3).option("retryBackoffScale", 1e-5)
        .load()
      val e = intercept[Exception](http.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains("Failed after 4 attempts"),
        s"expected the reference's exhausted-retries error, got: $chain")
    }
  }

  test("bad credentials: 401 is a fetch failure, not silent empty data") {
    serving(Map("events" -> 500L)) { fx =>
      val http = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", 500L).option("pageSize", 500)
        .option("endpoint", fx.endpoint).option("password", "wrong")
        .option("maxRetries", 1).option("retryBackoffScale", 1e-5)
        .load()
      val e = intercept[Exception](http.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains("HTTP 401"), s"expected HTTP 401 in the chain: $chain")
    }
  }

  test("multi-entity over HTTP: per-entity params reach the wire, read == generator") {
    serving(Map("customer" -> 900L, "invoice" -> 700L)) { fx =>
      def read(endpoint: Option[String]) = {
        val r = spark.read.format("graft.sources.PagedEntitySource")
          .option("entities", "customer,invoice")
          .option("pageSize", 400)
          .option("customer.rows", 900L)
          .option("invoice.rows", 700L)
          .option("invoice.params", "category_mod=3")
        endpoint.foreach(e => r.option("endpoint", e))
        r.load()
      }
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq
          .sortBy(r => (r.head.asInstanceOf[String], r(1).asInstanceOf[Long]))
      val got = rows(read(Some(fx.endpoint)))
      val want = rows(read(None))
      assert(got.size == 1600 && got == want,
        s"multi-entity HTTP read diverged: ${got.size} rows")
      // each entity paged its own stream with its own params
      val reqs = fx.requests.toArray(Array.empty[String]).toSeq
      assert(reqs.count(_.startsWith("/customer?")) == 3, s"customer pages: $reqs")
      assert(reqs.count(_.startsWith("/invoice?")) == 2, s"invoice pages: $reqs")
      assert(reqs.filter(_.startsWith("/invoice?")).forall(_.contains("category_mod=3")),
        "the per-entity extra query param must reach the wire")
      assert(reqs.filter(_.startsWith("/customer?")).forall(_.contains("category_mod=5")))
    }
  }

  test("HTTP changelog drain, compacted == generator changelog drain (CDC end-to-end)") {
    // the q_cdc_pipeline composition with the SOURCE swapped for the real
    // wire: multi-entity upsert-changelog stream (update_every=4 re-emits
    // earlier ids with later ts) drained over HTTP, then the consumer-side
    // latest-wins compaction — must equal the generator-backed drain
    // row-for-row. Pins that changelog position→(id, version) mapping,
    // per-entity params, and windowed pagination all survive the wire.
    serving(Map("customer" -> 2000L, "invoice" -> 3000L)) { fx =>
      def compactedDrain(endpoint: Option[String], sink: String): Seq[Seq[Any]] = {
        val r = spark.readStream.format("graft.sources.PagedEntitySource")
          .option("entities", "customer,invoice")
          .option("customer.rows", "2000")
          .option("invoice.rows", "3000")
          .option("invoice.params", "category_mod=3")
          .option("updatesEveryN", "4")
          .option("pageSize", "500").option("windowRows", "1000")
        endpoint.foreach(e => r.option("endpoint", e))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_entity_type"), col("id"))
          .orderBy(col("ts_us").desc)
        Streaming.drainToMemory(r.load(), "append", sink) {
          _.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .drop("rn")
            .orderBy(col("_entity_type"), col("id"))
        }.collect().map(_.toSeq).toSeq
      }
      val http = compactedDrain(Some(fx.endpoint), "http_cdc_e2e")
      val gen = compactedDrain(None, "gen_cdc_e2e")
      assert(http.size == gen.size,
        s"compacted row counts diverged: HTTP ${http.size} vs generator ${gen.size}")
      assert(http == gen,
        "HTTP-backed changelog compaction must equal the generator-backed result row-for-row")
      // and the wire really carried the changelog knob
      val reqs = fx.requests.toArray(Array.empty[String]).toSeq
      assert(reqs.nonEmpty && reqs.forall(_.contains("update_every=4")),
        s"update_every must reach the wire on every page request: ${reqs.take(3)}")
    }
  }

  test("strict short page: permanent failure, fail-fast — ONE wire request, no retry burn") {
    // the backend holds 1100 rows but the source plans for 1200: the last
    // page [1000,1200) comes back 100 rows short. Under the default
    // strict contract that is a deterministic truncation of the planned
    // window — the fetch must fail PERMANENTLY (single request on the
    // wire), not burn maxRetries+1 backoff cycles on an answer that
    // cannot change
    serving(Map("events" -> 1100L)) { fx =>
      val ex = intercept[Exception] {
        spark.read.format("graft.sources.PagedEntitySource")
          .option("rows", 1200L).option("pageSize", 500)
          .option("endpoint", fx.endpoint)
          .load().collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("short page@1000")),
        s"expected the short-page contract error, got: ${msgs(ex)}")
      val shortReqs = fx.requests.toArray(Array.empty[String]).toSeq
        .filter(_.contains("offset=1000"))
      assert(shortReqs.size == 1,
        s"a permanent contract violation must not retry; wire saw $shortReqs")
    }
  }

  test("shortPage=end_of_data: a legitimately short final page ends pagination") {
    // same sparse backend, reference-faithful mode: a short page is the
    // REST contract's end-of-data signal (hasMore = fetched == limit,
    // ChargeOverApiClient.java:164-165) — the read emits what the server
    // holds and stops, instead of crashing on the planned-extent check
    serving(Map("events" -> 1100L)) { fx =>
      val got = spark.read.format("graft.sources.PagedEntitySource")
        .option("rows", 1200L).option("pageSize", 500)
        .option("endpoint", fx.endpoint)
        .option("shortPage", "end_of_data")
        .load().orderBy(col("id")).collect().map(_.toSeq).toSeq
      val want = genRead(1100L, 500).orderBy(col("id")).collect().map(_.toSeq).toSeq
      assert(got.size == 1100 && got == want,
        s"end_of_data read must equal the 1100-row generator read, got ${got.size}")
    }
  }

  test("AvailableNow drain over HTTP == batch read (multi-window, multi-page)") {
    serving(Map("events" -> 2500L)) { fx =>
      val ckpt = tempDir("graft_http_ck")
      StreamRuns.drainToMemory(spark.readStream.format("graft.sources.PagedEntitySource")
        .option("rows", 2500L).option("pageSize", 300)
        .option("windowRows", 1000L)
        .option("endpoint", fx.endpoint)
        .load(), "http_paged_stream", ckpt, availableNow = true)
      val got = spark.table("http_paged_stream")
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      val want = genRead(2500L, 300).orderBy(col("id")).collect().map(_.toSeq).toSeq
      assert(got.size == 2500 && got == want,
        "HTTP streamed rows must equal the batch generator read")
      // every poll's page went over the wire with its WINDOW as the where
      // bound: the first window [0,1000) pages at offsets 0/300/600/900
      val reqs = fx.requests.toArray(Array.empty[String]).toSeq
      val w0lo = PagedEntitySource.tsOf(0L)
      val w0hi = PagedEntitySource.tsOf(1000L)
      Seq(0L, 300L, 600L, 900L).foreach { off =>
        assert(reqs.exists(r =>
          r.contains(s"where=ts_us:GTE:$w0lo,ts_us:LT:$w0hi") &&
          r.contains(s"offset=$off")),
          s"window-0 page at offset $off missing from the wire log")
      }

      // restart from the committed checkpoint: everything was committed,
      // so the recovered run must issue ZERO page requests — the offset
      // log, not the remote, is the source of progress (the reference's
      // at-least-once window replay, repaired by Spark's checkpoint)
      fx.requests.clear()
      StreamRuns.drain(spark.readStream.format("graft.sources.PagedEntitySource")
        .option("rows", 2500L).option("pageSize", 300)
        .option("windowRows", 1000L)
        .option("endpoint", fx.endpoint)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          assert(n == 0L, s"recovered drain re-emitted $n rows")
          ()
        }
        .option("checkpointLocation", ckpt), availableNow = true)
      val replayReqs = fx.requests.toArray(Array.empty[String]).toSeq
      assert(replayReqs.isEmpty,
        s"a fully-committed restart must not touch the remote, saw $replayReqs")
    }
  }

  test("AvailableNow sends the per-poll drain's page requests; a re-planned logged batch re-sends them") {
    serving(Map("customer" -> 1300L, "invoice" -> 2100L)) { fx =>
      val landed = new java.util.concurrent.atomic.AtomicLong(0L)
      def run(ckpt: String, availableNow: Boolean): Unit = {
        landed.set(0L)
        StreamRuns.drain(spark.readStream.format("graft.sources.PagedEntitySource")
          .option("entities", "customer,invoice")
          .option("customer.rows", 1300L).option("invoice.rows", 2100L)
          .option("pageSize", 300).option("windowRows", 1000L)
          .option("endpoint", fx.endpoint)
          .load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            landed.addAndGet(b.count()); ()
          }, availableNow)
      }
      // the (entity, limit, offset, where) of every request since the last
      // call, as a sorted multiset
      def pageRequests(): Seq[(String, String, String, String)] = {
        val reqs = fx.requests.toArray(Array.empty[String]).toSeq.map { r =>
          val uri = new java.net.URI(r)
          val q = uri.getQuery.split("&").map(_.split("=", 2))
            .map(kv => kv(0) -> kv(1)).toMap
          (uri.getPath.stripPrefix("/"), q("limit"), q("offset"), q("where"))
        }
        fx.requests.clear()
        reqs.sorted
      }
      fx.requests.clear()
      run(tempDir("graft_http_pp"), availableNow = false)
      val perPoll = pageRequests()
      assert(landed.get() == 3400L)
      // customer: windows 1000/300 → 4 + 1 pages; invoice: 1000/1000/100
      // → 4 + 4 + 1 pages
      assert(perPoll.size == 14, s"per-poll drain sent $perPoll")

      val ckpt = tempDir("graft_http_an")
      run(ckpt, availableNow = true)
      assert(landed.get() == 3400L)
      assert(StreamRuns.offsetJsons(ckpt).length == 1)
      assert(pageRequests() == perPoll,
        "AvailableNow must send exactly the per-poll drain's page requests")

      // crash after the offset write, before the commit: the restarted
      // query re-plans logged batch 0 from its start and end offsets and
      // must send the identical requests again
      Seq("0", ".0.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
      run(ckpt, availableNow = true)
      assert(landed.get() == 3400L, "the re-planned batch must land every row again")
      assert(pageRequests() == perPoll,
        "re-planning a logged batch must re-send the identical page list")
    }
  }

  test("cdc_http shape: 4-entity AvailableNow drain heals per-page 429s and 503s; rows == generator drain") {
    val ents = Seq("customer", "invoice", "payment", "subscription")
    serving(ents.map(_ -> 4320L).toMap) { fx =>
      // windows of 1440 page at offsets 0/500/1000; each entity gets one
      // page answering 429 once and another answering 503 twice, so one
      // drain mixes both statuses across the 36 pages
      ents.zipWithIndex.foreach { case (e, i) =>
        fx.failFirst(e, (i % 3) * 500L, times = 1, status = 429)
        fx.failFirst(e, ((i + 1) % 3) * 500L, times = 2, status = 503)
      }
      def drain(endpoint: Option[String], ckpt: String, sink: String): Seq[Seq[Any]] = {
        val r = spark.readStream.format("graft.sources.PagedEntitySource")
          .option("entities", ents.mkString(","))
          .option("pageSize", 500).option("windowRows", 1440L)
          .option("updatesEveryN", "4")
          .option("retryBackoffScale", 1e-4)
        ents.foreach(e => r.option(s"$e.rows", 4320L))
        endpoint.foreach(e => r.option("endpoint", e))
        StreamRuns.drainToMemory(r.load(), sink, ckpt, availableNow = true)
        // changelog ids repeat; ts is unique per entity position
        spark.table(sink).collect().map(_.toSeq).toSeq
          .sortBy(r => (r.head.asInstanceOf[String], r(2).asInstanceOf[Long]))
      }
      val ckpt = tempDir("graft_http_cdc")
      val http = drain(Some(fx.endpoint), ckpt, "http_cdc_shape")
      val gen = drain(None, tempDir("graft_gen_cdc"), "gen_cdc_shape")
      assert(http.size == 4 * 4320 && http == gen,
        s"faulted HTTP drain diverged from the generator drain: ${http.size} rows")
      val batches = StreamRuns.offsetJsons(ckpt).length
      assert(batches == 1, s"expected 1 micro-batch, got $batches")
      // 36 pages (500/500/440 per window, 3 windows, 4 entities), plus
      // 4 × 1 rate-limited and 4 × 2 server-error attempts
      assert(fx.requests.size == 36 + 4 + 8,
        s"expected 48 requests, got ${fx.requests.size}")
      val answered = fx.statuses.toArray.toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(answered == Map(200 -> 36, 429 -> 4, 503 -> 8), s"statuses: $answered")
    }
  }
}
