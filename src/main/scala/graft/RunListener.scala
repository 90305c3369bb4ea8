package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The engine's one SparkListener. It keeps three views of what ran:
  *
  *  - task totals since registration: executor run ms, CPU ms, shuffle
  *    read/write bytes and spill bytes. Bench reports per-query deltas of
  *    these; run ms is the contention-robust companion of a wall reading
  *    (two runs whose walls differ 2× from scheduler noise show near-equal
  *    task sums unless the code changed).
  *  - runtime exchange counts, for what actually EXECUTED rather than what
  *    the final plan tree holds. Eagerly-materialized stages (Iterate.cut,
  *    BigWindow's chunked pass, micro-batch drains) run their shuffles
  *    before the audited plan exists, so a structural walk sees a leaf.
  *    `shuffles` counts distinct ShuffleDependency ids across submitted
  *    stages (an AQE-reused exchange is a skipped stage, never resubmitted,
  *    so it counts once); `broadcasts` counts jobs tagged as a broadcast
  *    exchange (BroadcastExchangeLike.submitBroadcastJob).
  *  - per-stage and per-job records since the last `reset()`.
  *
  * Delivery is async: call `quiesce()` before reading. */
final class RunListener extends SparkListener {
  import RunListener._

  private val runMs = new AtomicLong
  private val cpuMs = new AtomicLong
  private val shRead = new AtomicLong
  private val shWrite = new AtomicLong
  private val spilled = new AtomicLong
  private val shuffleIds = ConcurrentHashMap.newKeySet[Int]()
  private val bcastJobs = new AtomicInteger
  private val stampCtr = new AtomicLong
  private val stageRecs = new ConcurrentLinkedQueue[Stage]()
  private val jobRecs = new ConcurrentHashMap[Int, Job]()

  def totals: Totals =
    Totals(runMs.get, cpuMs.get, shRead.get, shWrite.get, spilled.get)
  def shuffles: Int = shuffleIds.size
  def broadcasts: Int = bcastJobs.get
  /** Bumped by every event; `quiesce` waits for it to stop moving. */
  def stamp: Long = stampCtr.get
  def stages: Seq[Stage] = stageRecs.asScala.toSeq.sortBy(_.id)
  def jobs: Seq[Job] = jobRecs.values.asScala.toSeq.sortBy(j => (j.start, j.id))

  /** Drop the stage and job records; totals and runtime counts keep
    * accumulating (callers read deltas). */
  def reset(): Unit = { stageRecs.clear(); jobRecs.clear() }

  def quiesce(): Unit = settle(stamp)

  // StageInfo.shuffleDepId is private[spark] at compile time but public
  // in bytecode — one reflected getter, resolved once
  private val depIdGetter = classOf[StageInfo].getMethod("shuffleDepId")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuMs.addAndGet(m.executorCpuTime / 1000000L)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spilled.addAndGet(m.diskBytesSpilled)
    }
    stampCtr.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    depIdGetter.invoke(e.stageInfo).asInstanceOf[Option[Int]]
      .foreach(id => shuffleIds.add(id))
    stampCtr.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
      .getOrElse(-1L)
    stageRecs.add(Stage(si.stageId, si.name, wall, si.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled))
    stampCtr.incrementAndGet()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // Spark 4 carries the broadcast-exchange marker as a job TAG
    // (spark.job.tags), not the job description. The TAG channel matches
    // the bare word "broadcast" (case-insensitive) so a minor rewording
    // in a Spark upgrade doesn't silently zero the counter; the
    // DESCRIPTION channel is free text (setJobDescription, SQL text — a
    // /*+ BROADCAST */ hint or a *broadcast*-named call site would
    // overcount), so it requires the full "broadcast exchange" phrase.
    // The wording contract itself is pinned by PlanSpec's tight broadcast
    // self-check (rtBcast == structural > 0 on a known broadcast join),
    // which trips if the tag disappears entirely.
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val marked =
      prop("spark.job.tags").exists(_.toLowerCase.contains("broadcast")) ||
      prop("spark.job.description").exists(_.toLowerCase.contains("broadcast exchange"))
    if (marked) bcastJobs.incrementAndGet()
    // callsite: the result stage's name (SQL jobs carry no callSite.short)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
    jobRecs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageInfos.map(_.numTasks).sum, site))
    stampCtr.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobRecs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    stampCtr.incrementAndGet()
  }
}

object RunListener {
  final case class Totals(taskMs: Long, cpuMs: Long, shuffleReadB: Long,
      shuffleWriteB: Long, spillB: Long) {
    def -(o: Totals): Totals = Totals(taskMs - o.taskMs, cpuMs - o.cpuMs,
      shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
      spillB - o.spillB)
  }

  /** A completed stage; `runMs`/`cpuMs`/`gcMs` are summed over its tasks. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleReadB: Long,
      shuffleWriteB: Long, spillB: Long)

  /** A job: `start`/`end` are event times in epoch ms (`end` is -1 until
    * it finishes), `tasks` sums its stages' task counts, skipped included. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int, site: String)

  /** Wait until `stamp` stops moving: two consecutive unchanged readings
    * 100 ms apart, 3 s cap. Listener buses deliver asynchronously, so a
    * reading taken right after an action can miss its last events. */
  def settle(stamp: => Long): Unit = {
    var last = -1L; var stable = 0
    val deadline = System.nanoTime + 3000000000L
    while (stable < 2 && System.nanoTime < deadline) {
      val s = stamp
      if (s == last) stable += 1 else { stable = 0; last = s }
      Thread.sleep(100)
    }
  }
}
