package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException,
  StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType
import Exact._

/** Streaming surface (SURVEY.md §2b q_stream_*, reference R10/R11).
  *
  * The reference's incremental loop — capture `batch_end` at batch start,
  * process `[last, end)`, persist the watermark — IS Structured Streaming's
  * micro-batch model (SURVEY §3.1 mapping). Two layers here:
  *
  *  1. The declared queries use the SAME window functions (`window`,
  *     `session_window`) in batch mode, so DuckDB can oracle-check the
  *     window algebra. In streaming mode the identical expression runs
  *     under `readStream` — that equivalence is Spark's unified model.
  *  2. `streamEvents`/`tumblingAgg` run the genuine `readStream` path
  *     (file source → watermark → window agg) exercised by the test suite
  *     with Trigger.AvailableNow, mirroring INITIAL_LOAD catch-up then
  *     steady-state cadence.
  *
  * Every AvailableNow drain — the declared q_paged_stream, q_cdc_pipeline,
  * q_stream_upsert/delta/absorb/compact/heavy and the specs — runs
  * through [[drain]] (or [[drainToMemory]] for a memory sink): the one
  * place that starts, bounds, checks and stops a drain, and the one place
  * its micro-batch progress comes back from.
  *
  * At scale: tumbling/session aggs shuffle once on (window ⊕ key); the
  * watermark bounds state store size — state for windows older than the
  * watermark is evicted, so state is O(active windows × keys), not O(data).
  */
object Streaming {

  /** q_stream_tumbling: 1-hour tumbling windows per event_type. */
  def qStreamTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("n"), col("sum_value"))

  val qStreamTumblingSql: String =
    s"""SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
       |  COUNT(*) AS n, ${sqlSum2("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin

  /** q_paged_stream: the paged CDC source drained through its genuine
    * `MicroBatchStream` path — a full AvailableNow replay (windowed
    * INITIAL→INCREMENTAL state machine, one 500-row page per poll, 24
    * polls committed as one micro-batch) into a memory sink, then the same half-open-window
    * aggregation as q_paged_source over the landed rows. The oracle
    * replays the deterministic generator in SQL, so the differential
    * proves the STREAMING path (offset algebra, page planning, restartable
    * drain) loses and duplicates nothing — not just the batch scan. */
  def qPagedStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.PagedEntitySource
    val stream = spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", "12000").option("pageSize", "500")
      .option("windowRows", "4000")
      .load()
    drainToMemory(stream, "append", "q_paged_stream") { landed =>
      landed
        .filter(col("ts_us") >= PagedEntitySource.tsOf(1000) &&
                col("ts_us") < PagedEntitySource.tsOf(9000))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("category"))
    }
  }

  val qPagedStreamSql: String =
    s"""SELECT 'cat' || CAST(id % 5 AS VARCHAR) AS category, COUNT(*) AS n,
       |  ${sqlSum2("((id * 7919) % 100000) / 100.0")} AS sum_value
       |FROM range(1000, 9000) t(id)
       |GROUP BY 1 ORDER BY category""".stripMargin

  /** q_stream_sliding: 1-hour windows sliding every 30 minutes — each
    * event lands in exactly two windows (the generator form of `window`
    * with a slide). Epoch-aligned grid in both engines. */
  def qStreamSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("n"), col("sum_value"))

  val qStreamSlidingSql: String =
    s"""SELECT epoch_us(ws) AS ws_us, event_type, COUNT(*) AS n,
       |  ${sqlSum2("value")} AS sum_value
       |FROM (
       |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type, "value" FROM events
       |  UNION ALL
       |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws, event_type, "value" FROM events)
       |GROUP BY ws, event_type ORDER BY ws_us, event_type""".stripMargin

  /** q_stream_session: 30-minute-gap session windows per user.
    * session_window semantics: each event extends the session to ts+gap; a
    * new session starts when the next event's ts >= current end — i.e. the
    * island condition `ts - prev_ts >= gap` (oracle below replays it). */
  def qStreamSession(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  val qStreamSessionSql: String =
    """SELECT user_id, epoch_us(min(ts)) AS start_us,
      |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us,
      |  COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |             < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  // --- genuine readStream path (exercised by the test suite) -------------

  /** File-source stream over a DIRECTORY of events parquet files (the file
    * source tails a directory — new files become new micro-batches, the
    * streaming twin of the reference's "new window per poll"). Schema is
    * taken from the batch read (raw encoding), ts normalized in-stream. */
  def streamEvents(spark: SparkSession, sfDir: String, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema: StructType = Tables.eventsRaw(spark, sfDir).schema
    val reader = spark.readStream.schema(schema)
    val withOpt = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    Tables.normalizeTs(withOpt.parquet(eventsDir))
  }

  /** Watermarked tumbling aggregation on a stream — the streaming twin of
    * q_stream_tumbling. Late data beyond 1 hour is dropped and its window
    * state evicted. */
  def tumblingAgg(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Checkpoint-I/O tuning for LOCAL-filesystem checkpoints (guide §1/§7:
    * measured, then fixed). Spark's default CheckpointFileManager for
    * `file:` paths is FileContext-based, and Hadoop's local FileContext
    * rename path stats the temp file via `Shell.execCommand` — a
    * fork+exec of `ls` PER RENAME. Thread dumps of a drain caught the
    * stream execution thread inside `FileUtil.readLink` → `Shell.run` on
    * every offset/commit-log write; measured per micro-batch:
    * walCommit 34 ms + commitOffsets 34 ms with the default manager vs
    * 11 + 12 ms with the FileSystem-based one (same rename-based atomic
    * commit, File.renameTo under the hood, no `ls` per rename). Every
    * AvailableNow drain here pays this 2× per micro-batch, so a 24-batch
    * drain would lose ~1.1 s to subprocess forks. The FileSystem-based
    * manager still forks: without Hadoop's native library,
    * `RawLocalFileSystem.setPermission` runs `chmod` for every directory
    * it makes and every file it creates. A JFR `jdk.ProcessStart` trace
    * of a one-batch drain shows 9 `chmod` forks: 3 for the checkpoint
    * directories, and 6 for the metadata, offsets and commits temp files,
    * each with its `.crc`. The offsets and commits files (4 forks) recur
    * every micro-batch, on the stream execution thread. Applied once
    * per session, only when no explicit manager is configured and the
    * session's checkpoint root (if any) is local — on a real cluster with
    * an HDFS/object-store checkpoint dir this never fires and the
    * FileContext default stands. */
  private[graft] def tuneLocalCheckpointIo(spark: SparkSession): Unit = {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    def isLocal(loc: String): Boolean = {
      val scheme = new java.net.URI(loc).getScheme
      scheme == null || scheme == "file"
    }
    if (spark.conf.getOption(key).isEmpty &&
        spark.conf.getOption("spark.sql.streaming.checkpointLocation")
          .forall(isLocal))
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
  }

  /** The one AvailableNow drain (the INITIAL_LOAD catch-up semantics:
    * process everything available, then stop). Starts `w` under
    * `Trigger.AvailableNow` and waits up to 300 s. Throws, naming `what`,
    * when the drain does not terminate in time, when the query fails, or
    * when fewer than `minDataBatches` micro-batches had input (a drain
    * whose result depends on being split into batches must prove it was).
    * The query is stopped on every path — a StreamingQueryException can
    * leave it active. Returns the micro-batches' progress records. */
  def drain(w: DataStreamWriter[Row], what: String,
      minDataBatches: Int = 0): Array[StreamingQueryProgress] = {
    tuneLocalCheckpointIo(SparkSession.active)
    val q = w.trigger(Trigger.AvailableNow()).start()
    try {
      val done =
        try q.awaitTermination(300000)
        catch { case e: StreamingQueryException =>
          throw new IllegalStateException(s"$what: drain failed", e) }
      if (!done) throw new IllegalStateException(
        s"$what: AvailableNow drain did not terminate in 300 s")
      val progress = q.recentProgress
      val dataBatches = progress.count(_.numInputRows > 0)
      if (dataBatches < minDataBatches) throw new IllegalStateException(
        s"$what: expected at least $minDataBatches micro-batches with input, " +
          s"got $dataBatches")
      progress
    } finally q.stop()
  }

  private val memorySinks = new java.util.concurrent.atomic.AtomicInteger

  /** [[drain]] `df` into a memory sink in output `mode`, then `read` the
    * landed rows. The result is cut to a leaf, so the sink view — uniquely
    * named, and dropped on every path — is not held by it, and repeated
    * runs (bench min-of-N, warmup) do not accumulate driver-held tables.
    * The memory sink is the TEST-SCALE landing zone (rows live in driver
    * memory); a real deployment drains to files or Kafka via foreachBatch
    * as CheckpointSpec's partitioned-sink path does. */
  def drainToMemory(df: DataFrame, mode: String, what: String,
      minDataBatches: Int = 0)(read: DataFrame => DataFrame): DataFrame = {
    val sink = s"graft_drain_${memorySinks.incrementAndGet()}"
    try {
      drain(df.writeStream.format("memory").queryName(sink).outputMode(mode),
        what, minDataBatches)
      Iterate.cut(read(df.sparkSession.table(sink)))
    } finally df.sparkSession.catalog.dropTempView(sink)
  }

  // --- delivery-semantics repair kit (dedup + joins on streams) ----------

  /** Streaming dedup by key within the watermark horizon — the
    * at-least-once repair. The reference re-reads a window after a
    * restart that persisted no offsets (§2a quirk: a zero-record batch
    * never saves its advanced offsets, ChargeOverSourceTask.java:434-443),
    * so downstream sees duplicates; `dropDuplicatesWithinWatermark` makes
    * the stream effectively-once. State holds one entry per key only
    * until the watermark passes it — O(keys in horizon), not O(history),
    * which is what lets this run forever on a 100 TB/day stream. */
  def dedupStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join (R6 `expand=customer` during
    * ingestion): every micro-batch joins the static dimension, broadcast
    * per batch — no streaming state at all, and the dimension is re-read
    * each batch so slowly-changing dims pick up updates. */
  def enrichStream(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(broadcast(dim), Seq("user_id"), "left")

  /** Stream-stream interval join: pair each event with same-user events of
    * a second stream within [ts, ts+30min]. Both sides watermarked so the
    * state store evicts rows once no future match can arrive — state is
    * bounded by (watermark + interval) × arrival rate, the only shape of
    * stream-stream join that survives unbounded input. */
  def intervalJoin(views: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    // leftOuter emits the unmatched view WITH NULLS only once the
    // watermark proves no matching purchase can still arrive — the
    // streaming-correct "did not convert" signal
    v.join(p,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"))
  }

  /** q_stream_join: the interval join DECLARED, batch-mode (the same
    * unified-model argument as q_stream_tumbling/session: identical code
    * runs under readStream, StreamJoinSpec drives that path with
    * watermark-bounded state; batch mode lets DuckDB oracle-check the
    * join algebra on complete input). Views paired with same-user
    * purchases within [ts, ts + 30 min]. */
  def qStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    intervalJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        unix_micros(col("v_ts")).as("v_us"), unix_micros(col("p_ts")).as("p_us"))
  }

  val qStreamJoinSql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  epoch_us(v.ts) AS v_us, epoch_us(p.ts) AS p_us
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      |  AND v.event_type = 'view' AND p.event_type = 'purchase'
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id, purchase_id""".stripMargin

  // --- arbitrary stateful processing (the reference's per-entity state) --

  /** Per-key upsert state: the compaction semantics of the reference's
    * changelog (§2a quirk — re-modified entities re-emitted; consumers keep
    * the latest by key). */
  case class UpsertState(lastTsMicros: Long, eventType: String, nSeen: Long)
  case class UpsertOut(user_id: Long, lastTsMicros: Long, eventType: String, nSeen: Long)
  case class EventIn(user_id: Long, tsMicros: Long, event_type: String)

  /** `flatMapGroupsWithState`: keep, per user, the latest event + a seen
    * count — the state-store form of `latestPerKey`. State is O(keys), not
    * O(events); at 100 TB of stream history the state store holds one row
    * per live key, exactly like the reference's per-entity EntityState map
    * (ChargeOverSourceTask.java:84-90). Used on a streaming Dataset; the
    * same function works in batch for testing. */
  def upsertLatest(events: org.apache.spark.sql.Dataset[EventIn]):
      org.apache.spark.sql.Dataset[UpsertOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UpsertState, UpsertOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[UpsertState]) =>
          val next = upsertStep(state.getOption, rows)
          state.update(next)
          Iterator(UpsertOut(key, next.lastTsMicros, next.eventType, next.nSeen))
      }
  }

  /** The upsert transition every upsert operator shares: fold one key's
    * micro-batch rows into its state. The batch's latest (ts, event_type)
    * replaces the state's unless the state is strictly later; the seen
    * count grows by the batch size either way. */
  private[graft] def upsertStep(prev: Option[UpsertState],
      rows: Iterator[EventIn]): UpsertState = {
    val p = prev.getOrElse(UpsertState(Long.MinValue, "", 0L))
    val batch = rows.toSeq
    val best = batch.maxBy(e => (e.tsMicros, e.event_type))
    if (best.tsMicros >= p.lastTsMicros)
      UpsertState(best.tsMicros, best.event_type, p.nSeen + batch.size)
    else p.copy(nSeen = p.nSeen + batch.size)
  }

  /** upsertLatest with a state TTL: NoTimeout state grows with the key
    * space forever — on an unbounded id-churning stream that is the
    * 100 TB failure mode. Here every update arms a processing-time
    * timeout; a key silent for `ttlMs` gets one final eviction snapshot
    * (flagged `evicted`) and its state removed, so the store holds only
    * keys active within the TTL horizon. The reference's analog is
    * per-entity state that dies with the connector task rather than
    * accreting (ChargeOverSourceTask.java:84-90). */
  case class UpsertTtlOut(user_id: Long, lastTsMicros: Long, eventType: String,
    nSeen: Long, evicted: Boolean)

  def upsertLatestTtl(events: org.apache.spark.sql.Dataset[EventIn], ttlMs: Long):
      org.apache.spark.sql.Dataset[UpsertTtlOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UpsertState, UpsertTtlOut](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[UpsertState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              UpsertTtlOut(key, s.lastTsMicros, s.eventType, s.nSeen, evicted = true))
            state.remove()
            out.iterator
          } else {
            val next = upsertStep(state.getOption, rows)
            state.update(next)
            state.setTimeoutDuration(ttlMs)
            Iterator(UpsertTtlOut(key, next.lastTsMicros, next.eventType, next.nSeen,
              evicted = false))
          }
      }
  }

  /** Events as the typed stream the stateful operator consumes. */
  def typedEvents(df: DataFrame): org.apache.spark.sql.Dataset[EventIn] = {
    import df.sparkSession.implicits._
    df.select(col("user_id"), unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[EventIn]
  }

  // --- streaming sessionization (event-level labels with state) ----------

  case class SessEventIn(event_id: Long, user_id: Long, tsMicros: Long)
  case class SessState(lastTsMicros: Long, seq: Long)
  case class SessOut(event_id: Long, user_id: Long, tsMicros: Long, session_seq: Long)

  /** Streaming twin of Relational.qSessionize: label every event with its
    * per-user session number as it arrives, carrying (last ts, session
    * counter) — O(1) per key — across micro-batches. Within a batch the
    * group's rows fold in (ts, event_id) order; across batches
    * correctness needs per-user batch-time-ordered arrival (true for
    * ordered replay — the reference's catch-up shape; an out-of-order
    * producer needs the watermark-buffered variant, at the cost of
    * holding a horizon of events per key instead of 8 bytes).
    * StreamSessionizeSpec pins stream == batch labels across a
    * multi-micro-batch replay. */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessEventIn]):
      org.apache.spark.sql.Dataset[SessOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[SessEventIn], state: GroupState[SessState]) =>
          val prev = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
          val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var last = prev.lastTsMicros
          var seq = prev.seq
          val out = sorted.map { e =>
            if (last == Long.MinValue || e.tsMicros - last > 1800000000L) seq += 1
            last = e.tsMicros
            SessOut(e.event_id, key, e.tsMicros, seq)
          }
          state.update(SessState(last, seq))
          out.iterator
      }
  }

  /** Events in the sessionizer's typed shape. */
  def sessEvents(df: DataFrame): org.apache.spark.sql.Dataset[SessEventIn] = {
    import df.sparkSession.implicits._
    df.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[SessEventIn]
  }

  // --- streaming funnel (ordered 3-stage conversion, O(1) state) ---------

  case class FunnelEventIn(user_id: Long, tsMicros: Long, event_type: String)
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelOut(user_id: Long, t1: Option[Long], t2: Option[Long],
      t3: Option[Long])

  /** Streaming twin of Funnel.qFunnel's per-user stage times: the
    * greedy-earliest (t1, t2, t3) machine carried as 24 bytes per user —
    * each slot is write-once (unset → earliest qualifying ts, never
    * reassigned), so under the same ordered-replay contract as
    * [[sessionizeStream]] the first qualifying event encountered IS the
    * batch formulation's min. Within a batch rows fold in
    * (ts, event_type) order, matching the batch windows' tie behavior
    * (same-ts click sorts before the view that would open its window, and
    * `>` excludes it either way). FunnelStreamSpec pins stream == batch
    * stage times across a time-ordered multi-micro-batch replay. */
  /** The funnel transition — factored for the ScalaCheck law in
    * FunnelStreamSpec (fold over any time-ordered batch split == the
    * batch conditional-min windows). */
  private[graft] def funnelStep(s: FunnelState, tsMicros: Long,
      eventType: String): FunnelState = {
    val clickWin = 8L * 3600 * 1000000
    val buyWin = 24L * 3600 * 1000000
    if (s.t1 < 0 && eventType == "view") s.copy(t1 = tsMicros)
    else if (s.t2 < 0 && s.t1 >= 0 && eventType == "click" &&
        tsMicros > s.t1 && tsMicros <= s.t1 + clickWin) s.copy(t2 = tsMicros)
    else if (s.t3 < 0 && s.t2 >= 0 && eventType == "purchase" &&
        tsMicros > s.t2 && tsMicros <= s.t2 + buyWin) s.copy(t3 = tsMicros)
    else s
  }

  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEventIn]):
      org.apache.spark.sql.Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[FunnelEventIn], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          for (e <- rows.toSeq.sortBy(x => (x.tsMicros, x.event_type)))
            s = funnelStep(s, e.tsMicros, e.event_type)
          state.update(s)
          Iterator(FunnelOut(key,
            Some(s.t1).filter(_ >= 0),
            Some(s.t2).filter(_ >= 0),
            Some(s.t3).filter(_ >= 0)))
      }
  }

  /** Events in the funnel's typed shape (pre-filtered to the stages). */
  def funnelEvents(df: DataFrame): org.apache.spark.sql.Dataset[FunnelEventIn] = {
    import df.sparkSession.implicits._
    df.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"))
      .as[FunnelEventIn]
  }

  // --- transformWithState (Spark 4 arbitrary-state API) ------------------

  /** `transformWithState` port of `upsertLatest`/`upsertLatestTtl` — the
    * successor API to flatMapGroupsWithState: state is declared through a
    * handle as NAMED typed slots (here one ValueState; a processor can hold
    * several value/list/map states) with the store enforcing TTL natively,
    * instead of one implicit state blob with a hand-armed timeout per key.
    * Requires the RocksDB state-store provider, which is also the 100 TB
    * pairing: O(live keys) state on executor local disk with changelog
    * checkpointing, never heap.
    *
    * TTL semantics deliberately differ from `upsertLatestTtl`: expired
    * state silently vanishes (nSeen restarts), no eviction snapshot row —
    * eviction-as-data was changelog parity; here expiry is the store's own
    * job. Keep `upsertLatestTtl` when consumers need the final snapshot. */
  class UpsertProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventIn, UpsertOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UpsertState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UpsertState]("upsert",
        org.apache.spark.sql.Encoders.product[UpsertState],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        tv: TimerValues): Iterator[UpsertOut] = {
      val next = upsertStep(Option.when(state.exists())(state.get()), rows)
      state.update(next)
      Iterator(UpsertOut(key, next.lastTsMicros, next.eventType, next.nSeen))
    }
  }

  def upsertLatestTws(events: org.apache.spark.sql.Dataset[EventIn],
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[UpsertOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new UpsertProcessor(ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  // --- streaming near-duplicate detection ---------------------------------

  case class BandIn(doc_id: Long, simhash: Long, bucket: Long)
  case class SeenDoc(doc_id: Long, simhash: Long)
  case class NearDupHit(doc_id: Long, dup_of: Long, hamming: Int)

  /** Streaming near-dup detection: the batch SimHash-banding pipeline
    * (q_dedup_simhash) as continuous ingestion. Each arriving doc's 64-bit
    * simhash is banded into four 16-bit keys; per (band, key) bucket a
    * ListState holds the docs seen there, and a new arrival hamming-checks
    * only its co-bucketed docs (≤ distance 3 ⇒ emit a hit against the
    * earlier doc). Exactly the LSH candidate algebra of the batch path —
    * a true near-dup shares at least one intact band w.h.p.
    *
    * State is the banded signature store: 16 bytes per doc per band — NOT
    * the corpus — and an optional TTL bounds it to the dedup horizon (the
    * realistic contract at 100 TB/day: dedupe against the last N days,
    * state = horizon arrival volume, enforced store-side by RocksDB).
    * A pair sharing several bands emits once per shared band; consumers
    * distinct on (doc_id, dup_of) — kept raw here so the hit carries its
    * band multiplicity. */
  class NearDupProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, BandIn, NearDupHit] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var seen: ListState[SeenDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[SeenDoc]("seen",
        org.apache.spark.sql.Encoders.product[SeenDoc],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long, rows: Iterator[BandIn],
        tv: TimerValues): Iterator[NearDupHit] = {
      val arrivals = rows.toSeq.sortBy(_.doc_id)
      val prior = {
        val it = seen.get()
        val b = scala.collection.mutable.ArrayBuffer.empty[SeenDoc]
        while (it.hasNext) b += it.next()
        b
      }
      val known = prior.map(p => (p.doc_id, p.simhash))
        .to(scala.collection.mutable.HashSet)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
      arrivals.foreach { d =>
        // at-least-once replay guard: a redelivered (doc_id, simhash) is
        // already in the bucket's state — appending again would grow
        // state AND re-emit its hits on every redelivery; replays are a
        // no-op (idempotent, the same contract dedupStream gives the
        // windowed aggregations). Keyed on the PAIR, not doc_id alone: a
        // genuinely UPDATED document (same id, new content ⇒ new
        // simhash — the CDC-update case the incremental windows model)
        // must still enter state and be checked.
        if (!known.contains((d.doc_id, d.simhash))) {
          prior.foreach { p =>
            if (p.doc_id != d.doc_id) {
              val h = java.lang.Long.bitCount(p.simhash ^ d.simhash)
              if (h <= 3) out += NearDupHit(d.doc_id, p.doc_id, h)
            }
          }
          prior += SeenDoc(d.doc_id, d.simhash)
          known += ((d.doc_id, d.simhash))
          seen.appendValue(SeenDoc(d.doc_id, d.simhash))
        }
      }
      out.iterator
    }
  }

  /** Docs stream → banded signature rows: simhash via the codegen'd
    * SimHash64 (works unchanged on a streaming frame), bucket key =
    * band index ⊕ 16-bit band value packed into one long. */
  def bandedDocs(docs: DataFrame): org.apache.spark.sql.Dataset[BandIn] = {
    import docs.sparkSession.implicits._
    val withSig = docs.select(col("doc_id"),
      TextExprs.simhash64(LlmOps.tokens(col("text"))).as("simhash"))
    val bands = (0 until 4).map { b =>
      struct(lit(b.toLong * 65536L).as("base"),
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("k"))
    }
    withSig
      .select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        (col("bk.base") + col("bk.k")).as("bucket"))
      .as[BandIn]
  }

  def nearDupStream(docs: DataFrame,
      ttl: Option[java.time.Duration] = None):
      org.apache.spark.sql.Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedDocs(docs).groupByKey(_.bucket)
      .transformWithState(new NearDupProcessor(ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  /** q_stream_upsert: the `transformWithState` upsert path DECLARED on the
    * driver differential, the way q_paged_stream declared the source path.
    * The events table is staged as 4 time-range parquet files
    * (`repartitionByRange` on ts: equal timestamps can never straddle a
    * file) and drained as a file-source stream one file per trigger
    * through `upsertLatestTws` under the RocksDB state-store provider,
    * update-mode memory sink. Each key's final state is its last emission
    * (nSeen strictly increases), giving per user: latest event timestamp,
    * the event_type of that moment (max event_type among the max-ts rows
    * — the within-batch maxBy tiebreak), and the total events seen.
    *
    * Batching-invariance argument (what makes a deterministic oracle
    * possible): nSeen sums to COUNT(*) however batches split; the final
    * (ts, event_type) is decided only by rows carrying the user's global
    * max ts, and the ts-VALUE-based staging keeps all of those in ONE
    * micro-batch where the maxBy tiebreak is total — so the DuckDB replay
    * below matches regardless of file order or cut placement. */
  def qStreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    // ONE try/finally spans everything from the first conf.set: a failure
    // anywhere (including query START) must not leak the RocksDB provider
    // or the drain-sized partition count into the rest of the session.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val partsKey = "spark.sql.shuffle.partitions"
    val savedProvider = spark.conf.getOption(providerKey)
    val savedParts = spark.conf.get(partsKey)
    GenTables.scratch(spark, "graft_upsert_stream") { (_, dir) =>
      try {
        ev.select(col("user_id"), col("ts"), col("event_type"))
          .repartitionByRange(4, col("ts"))
          .write.mode("overwrite").parquet(dir)
        val staged = spark.read.parquet(dir) // ts already normalized at staging
        val stream = spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // Right-size the stateful operator's partitioning for the drain: the
        // state partition count is fixed at first batch from
        // spark.sql.shuffle.partitions, and every partition opens its own
        // RocksDB instance PER BATCH — at the session default (32) that is
        // 32 stores × 5 batches of per-batch open/commit overhead for a
        // key space of a few hundred users. 8 partitions is the honest
        // sizing for this key cardinality (at production scale you size
        // this to the live-key count, not the session default).
        spark.conf.set(partsKey, "8")
        drainToMemory(upsertLatestTws(typedEvents(stream)).toDF(), "update",
            "q_stream_upsert", minDataBatches = 2) { landed =>
          // the query cloned the session conf at start: the read below plans
          // at the session's own partition count again
          spark.conf.set(partsKey, savedParts)
          landed
            .groupBy(col("user_id"))
            .agg(max(struct(col("nSeen"), col("lastTsMicros"), col("eventType"))).as("s"))
            .select(col("user_id"), col("s.lastTsMicros").as("last_ts_us"),
              col("s.eventType").as("event_type"), col("s.nSeen").as("n_seen"))
            .orderBy(col("user_id"))
        }
      } finally {
        spark.conf.set(partsKey, savedParts)
        savedProvider match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None    => spark.conf.unset(providerKey)
        }
      }
    }
  }

  /** q_stream_delta: the incremental-ingest twin of q_corpus_delta,
    * DECLARED on the driver differential — the incoming batch arrives as
    * a 4-file parquet stream (one file per trigger) and every micro-batch
    * is classified against the STANDING corpus index, built ONCE before
    * the drain and persisted as BUCKETED tables on the probe join keys
    * (the production contract: ingest maintains an index TABLE, it never
    * recomputes — or reshuffles — the corpus; the bucketed layout means
    * every per-batch probe reads the index exchange-free, see PlanSpec).
    * The drain is q_stream_absorb's without the absorb. Classification
    * is a pure per-doc function of (doc, index), so the result is
    * batching-invariant and the oracle is EXACTLY qCorpusDeltaSql. */
  def qStreamDelta(spark: SparkSession, sfDir: String): DataFrame =
    streamClassifyAbsorbDrain(spark, sfDir, absorb = false, compactEvery = 0)

  /** q_stream_absorb: the FULL production ingest loop under streaming —
    * every micro-batch CLASSIFIES against the as-of view of the bucketed
    * index (generations < its own batch id) and then ABSORBS its new
    * digests/buckets under its batch id, so later batches classify
    * against corpus ∪ everything already ingested. The gen-scoped probe
    * makes the loop deterministic even under micro-batch retry: a batch
    * re-classifying never sees its own absorbed rows.
    *
    * Determinism of the DRAIN (what makes a DuckDB oracle possible): the
    * stream file a doc lands in is DECLARED (doc_id % 4), the four files
    * are staged with strictly ascending modification times so the file
    * source processes them in that order one per trigger, and a
    * post-drain guard THROWS unless batch b's output is exactly the
    * doc_id % 4 == b slice — an order-dependent answer can never ship
    * silently. The oracle replays file membership and the strict
    * earlier-file visibility rule. */
  def qStreamAbsorb(spark: SparkSession, sfDir: String): DataFrame =
    streamClassifyAbsorbDrain(spark, sfDir, absorb = true, compactEvery = 0)

  /** q_stream_compact: the absorb loop WITH its maintenance schedule —
    * after every 2nd micro-batch the foreachBatch hook runs a size-TIERED
    * compaction pass ([[LlmOps.compactIndexTiered]]): generations holding
    * at most half the largest candidate's bytes fold, in place, into one
    * fresh file-per-bucket generation; the big compacted base is never
    * rewritten. The streaming analog of the reference's in-loop cron
    * maintenance (ChargeOverSourceTask.java:380-389 — the poll loop owns
    * its own upkeep): without scheduled compaction a 100 TB ingest stream
    * accretes small files per bucket per batch until the listing, not the
    * data, is the bottleneck — and with a FULL fold on that schedule the
    * rewrite itself becomes the bottleneck (O(index) I/O per compaction,
    * quadratic total). Tiering bounds each pass to O(recent generations)
    * and each byte to O(log N) lifetime rewrites.
    *
    * Folded rows land under a fresh NEGATIVE generation, strictly below
    * every batch id: every later batch's as-of probe (`gen < id'`) sees
    * exactly the rows it would have seen uncompacted, and — because the
    * pass never folds the in-flight batch's own `gen = id` rows — a batch
    * retried across the compaction boundary re-reads a byte-identical
    * as-of view. Compaction is semantically INVISIBLE mid-stream and the
    * oracle is EXACTLY q_stream_absorb's (the rewrite-invisibility
    * contract, third application after q_corpus_compact and q_ivf_serve).
    * StreamCompactSpec pins the cost half of the contract: folded bytes
    * strictly below kept bytes per pass, base partition untouched, and a
    * bounded generation count at drain end. */
  def qStreamCompact(spark: SparkSession, sfDir: String): DataFrame =
    streamClassifyAbsorbDrain(spark, sfDir, absorb = true, compactEvery = 2)

  /** The one classify-then-absorb drain of the dedup ingest queries.
    * Each micro-batch lands its status under `b$id`, then, if `absorb`,
    * absorbs its new keys as generation `id` ([[LlmOps.ingest]]);
    * without `absorb` (q_stream_delta) it only classifies, against the
    * standing index. `compactEvery` = 0 never compacts, k > 0 compacts
    * after batches (id+1) % k == 0; `inspectFinal` (spec hook) runs with
    * the index table name after the drain guard, before cleanup;
    * `tierLog` (spec hook) receives each compaction pass's
    * [[GenTables.TierCompaction]] report (None = the pass found nothing
    * worth folding). */
  private[graft] def streamClassifyAbsorbDrain(spark: SparkSession,
      sfDir: String, absorb: Boolean, compactEvery: Int,
      inspectFinal: Option[String => Unit] = None,
      tierLog: Option[java.util.Queue[Option[GenTables.TierCompaction]]] = None): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (what, prefix, batch) =
      if (!absorb) ("q_stream_delta", "graft_delta", LlmOps.deltaBatch(docs))
      else (if (compactEvery > 0) "q_stream_compact" else "q_stream_absorb",
        "graft_sabs", LlmOps.streamAbsorbBatch(docs))
    GenTables.scratch(spark, prefix) { (idxName, dir) =>
      val (stageDir, inDir, outDir) = (s"$dir/stage", s"$dir/in", s"$dir/out")
      LlmOps.saveBucketedIndex(spark,
        LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 8)),
        dir, idxName, gen = -1L)
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(inDir))
      val base = System.currentTimeMillis() - 3600000L
      // stage the four slice files (f = doc_id % 4, the declared
      // assignment) in ONE write job — dynamic partitioning, one file per
      // f= value — then move them under inDir with ascending mtimes
      batch.withColumn("f", pmod(col("doc_id"), lit(4)).cast("int"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("f").parquet(stageDir)
      for (i <- 0 until 4) {
        val fdir = s"$stageDir/f=$i"
        val part = new java.io.File(fdir).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
        val dst = java.nio.file.Paths.get(inDir, s"f$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      }
      val schema = spark.read.parquet(inDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      drain(stream.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          // one OVERWRITTEN subdir per batch id: a retried micro-batch
          // replaces its own output instead of appending a duplicate —
          // the idempotent foreachBatch file-sink contract
          def land(status: DataFrame): Unit =
            status.write.mode("overwrite").parquet(s"$outDir/b$id")
          if (!absorb)
            land(LlmOps.classify(LlmOps.loadBucketedIndex(spark, idxName), b).status)
          else {
            // status first, then the absorb — a retried batch re-classifies
            // against gens < id and overwrites both its b$id output and
            // its own gen = id
            LlmOps.ingest(spark, idxName, b, gen = id)(land)
            if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
              // tiered maintenance, in place: fold only the small
              // generations (never this batch's own gen = id — a retried
              // batch re-reads an identical as-of view), base untouched
              val report = LlmOps.compactIndexTiered(spark, idxName,
                currentGen = id, foldAll = false)
              tierLog.foreach(q => { q.add(report); () })
            }
          }
        }, what, minDataBatches = 2)
      // order guard: batch b's output must be exactly the doc_id % 4 == b
      // slice — anything else means the file source broke the declared
      // order and the gen-scoped classification no longer matches the
      // oracle's earlier-file rule. ONE job over all four batch dirs, the
      // batch id recovered from the file path.
      val off = spark.read.parquet((0 until 4).map(b => s"$outDir/b$b"): _*)
        .select(col("doc_id"),
          regexp_extract(input_file_name(), "/b(\\d+)/", 1).cast("int").as("b"))
        .filter(pmod(col("doc_id"), lit(4)) =!= col("b")).count()
      if (off > 0) throw new IllegalStateException(
        s"$what: $off rows landed outside their declared file slice")
      inspectFinal.foreach(f => f(idxName))
      Iterate.cut(spark.read.option("recursiveFileLookup", "true")
        .parquet(outDir).orderBy(col("doc_id")))
    }
  }

  /** The state machine's final answer in SQL: per user, the max event
    * timestamp, the max event_type among rows at that timestamp (the
    * upsert tiebreak), and the total row count. */
  val qStreamUpsertSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |agg AS (
      |  SELECT user_id, MAX(ts_us) AS last_ts_us, COUNT(*) AS n_seen
      |  FROM ev GROUP BY user_id)
      |SELECT a.user_id, a.last_ts_us,
      |  (SELECT MAX(e.event_type) FROM ev e
      |    WHERE e.user_id = a.user_id AND e.ts_us = a.last_ts_us) AS event_type,
      |  a.n_seen
      |FROM agg a ORDER BY a.user_id""".stripMargin

  // --- streaming heavy hitters (MG summary as running stream state) ------

  /** Running Misra–Gries summary: the driver-held stream state of the
    * heavy-hitters twin. O(m) regardless of stream length — the mergeable-
    * summaries property (Agarwal et al., PODS '12) is exactly what makes
    * the batch operator streamable without changing its guarantee: the
    * merged summary's error weight is the sum of the parts', so pass-2's
    * runtime exactness proof holds verbatim over a summary built from any
    * micro-batch split. foreachBatch invokes `absorb` sequentially, but
    * the sink result is read from another thread — synchronize. */
  final class RunningMg(m: Int) extends Serializable {
    private val agg = new HeavyHitters.MgAggregator(m)
    private var buf: HeavyHitters.MgBuf = agg.zero
    def absorb(b: HeavyHitters.MgBuf): Unit = synchronized { buf = agg.merge(buf, b) }
    def summary: HeavyHitters.MgBuf = synchronized(buf)
  }

  /** A streaming `text` relation's sink into a RunningMg: each micro-batch
    * computes its own DISTRIBUTED m-bounded summary (map-side partials,
    * one m-bounded row to the driver — the same pass-1 plan as the batch
    * query), and foreachBatch merges it into the running state. State is
    * O(m) on the driver; per-batch work is a full Spark aggregate, so a
    * 1000-executor stream does exactly what the batch pass does, one
    * trigger at a time. The caller [[drain]]s the writer, then reads the
    * summary for the pass-2 recount. */
  def heavyHittersStream(docTexts: DataFrame, m: Int,
      running: RunningMg): DataStreamWriter[Row] = {
    val spark = docTexts.sparkSession
    HeavyHitters.tokens(docTexts).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        running.absorb(HeavyHitters.summarize(spark, batch, m))
      }
  }
}
