package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's incremental-load control plane (SURVEY.md §2a R10-R12)
  * as PURE, deterministic functions over an explicit state value — the
  * Spark analog of ChargeOverSourceTask's per-entity EntityState
  * (Task.java:34-52), with the same two-phase semantics:
  *
  *   INITIAL_LOAD: catch-up — batches run back-to-back until the entity
  *     reaches "now", then the mode flips once (Task.java:267-291).
  *   INCREMENTAL_LOAD: steady state — a new window [last, now) opens only
  *     when the schedule fires (Task.java:178-190).
  *
  * Durability note mirrored from the reference: state persists only by
  * being emitted alongside records (offsets ride on SourceRecords,
  * Task.java:434-443; saveEntityState is a no-op log, :454-460) — so
  * `stateColumns` exposes the state as columns to write with the batch,
  * giving the same at-least-once / replay-the-window semantics.
  */
object StateMachine {

  sealed trait LoadMode { def name: String }
  case object InitialLoad extends LoadMode { val name = "INITIAL_LOAD" }
  case object IncrementalLoad extends LoadMode { val name = "INCREMENTAL_LOAD" }

  /** Per-entity stream position — field-for-field the reference's offset
    * map (Task.java:409-416): load_mode, last_processed_datetime,
    * batch_end_datetime, next_scheduled_run, current_offset,
    * is_processing_batch, retry_count. Times are epoch millis UTC. */
  final case class EntityState(
    entity: String,
    loadMode: LoadMode,
    lastProcessedMillis: Long,
    batchEndMillis: Option[Long],
    nextScheduledRunMillis: Long,
    currentOffset: Long,
    isProcessingBatch: Boolean,
    retryCount: Int)

  def initial(entity: String, startMillis: Long): EntityState =
    EntityState(entity, InitialLoad, startMillis, None, 0L, 0L,
      isProcessingBatch = false, retryCount = 0)

  /** Readiness gate (Task.java:178-190): INITIAL_LOAD is always ready
    * (catch-up), INCREMENTAL_LOAD waits for the schedule. */
  def isReady(s: EntityState, nowMillis: Long): Boolean = s.loadMode match {
    case InitialLoad     => true
    case IncrementalLoad => nowMillis >= s.nextScheduledRunMillis
  }

  /** Open a batch: capture "now" as the immutable end bound
    * (Task.java:245-262) — the half-open window is [last, now). */
  def startBatch(s: EntityState, nowMillis: Long): EntityState =
    s.copy(batchEndMillis = Some(nowMillis), currentOffset = 0L,
      isProcessingBatch = true, retryCount = 0)

  /** A page of `n` records advances the offset (Task.java:221-226). */
  def advance(s: EntityState, n: Long): EntityState =
    s.copy(currentOffset = s.currentOffset + n)

  /** Complete: last := end, mode flips INITIAL→INCREMENTAL exactly once,
    * next run comes from the schedule (Task.java:267-291). */
  def completeBatch(s: EntityState, schedule: Schedule): EntityState = {
    val end = s.batchEndMillis.getOrElse(s.lastProcessedMillis)
    s.copy(
      loadMode = IncrementalLoad,
      lastProcessedMillis = end,
      batchEndMillis = None,
      currentOffset = 0L,
      isProcessingBatch = false,
      retryCount = 0,
      nextScheduledRunMillis = schedule.nextRunAfter(end))
  }

  /** R11: when does the next incremental window open. Implementations:
    * `DailySchedule` (the fast path for the reference's default cadence)
    * and `CronSchedule` (arbitrary 6-field Quartz-subset expressions with
    * timezone, Config.java:59-68,159-169). */
  trait Schedule { def nextRunAfter(tMillis: Long): Long }

  /** The reference's default cadence: daily at a fixed UTC time (Quartz
    * `0 0 0 * * ?`, Config.java:59-63). Parse failure in the reference
    * falls back to +24 h (Task.java:386-388) — `CronSchedule.fallback`
    * mirrors that. */
  final case class DailySchedule(hourUtc: Int, minuteUtc: Int = 0) extends Schedule {
    private val dayMs = 86400000L
    private val offsetMs = (hourUtc * 3600L + minuteUtc * 60L) * 1000L
    def nextRunAfter(tMillis: Long): Long = {
      val dayStart = Math.floorDiv(tMillis, dayMs) * dayMs
      val todayFire = dayStart + offsetMs
      if (todayFire > tMillis) todayFire else todayFire + dayMs
    }
  }
  object DailySchedule {
    val midnight: DailySchedule = DailySchedule(0, 0)
  }

  /** R12: retry backoff — `min(2^attempt × 1 s + jitter, 30 s)`, the cap
    * applied AFTER the jitter exactly as the reference computes it
    * (Task.java:330-336: baseBackoffMs + jitterMs, then Math.min with
    * 30000); HTTP-429-style rate limiting waits a flat 60 s (:319-323).
    * Jitter is 0-10% of the base, passed in as a unit sample so the
    * function stays pure. Computed in double so huge attempts saturate at
    * the cap instead of overflowing. */
  def backoffMillis(attempt: Int, rateLimited: Boolean, jitterUnit: Double): Long =
    if (rateLimited) 60000L
    else {
      val base = Math.pow(2.0, attempt.toDouble) * 1000.0
      Math.min(base + Math.floor(base * 0.1 * jitterUnit), 30000.0).toLong
    }

  /** Reset after too many consecutive failures (10 polls, Task.java:356):
    * abandon the batch, reschedule via fallback. */
  def failureReset(s: EntityState, nowMillis: Long): EntityState =
    s.copy(batchEndMillis = None, currentOffset = 0L,
      isProcessingBatch = false, retryCount = 0,
      nextScheduledRunMillis = CronSchedule.fallback(nowMillis))

  /** The data-plane view of one batch: the state's half-open window applied
    * to the entity table, with the state exposed as columns (offset
    * piggybacking, Task.java:409-416). */
  def batchFrame(spark: SparkSession, sfDir: String, s: EntityState,
      tsCol: String): DataFrame = {
    val end = s.batchEndMillis.getOrElse(
      throw new IllegalStateException("batch not started"))
    Tables.load(spark, sfDir, s.entity)
      .filter(col(tsCol) >= timestamp_millis(lit(s.lastProcessedMillis)) &&
              col(tsCol) < timestamp_millis(lit(end)))
      .withColumn("_load_mode", lit(s.loadMode.name))
      .withColumn("_last_processed_datetime", lit(s.lastProcessedMillis))
      .withColumn("_batch_end_datetime", lit(end))
  }
}
