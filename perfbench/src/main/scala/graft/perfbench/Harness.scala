package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.engine.{Iterate, JsonStringCast, Quantize, Streaming}

/** The JVM side of the benchmark: one process, one SparkSession, one
  * workload. Reads a JSON config written by run.py, runs an untimed check
  * pass (which dumps every op's output for the oracle compare), a fixed
  * number of untimed warm-up passes, then timed passes (a minimum count,
  * then more while the time budget lasts), and writes raw timings (plus
  * spans when tracing) as JSON. All metric
  * arithmetic happens in run.py, so it stays unit-testable.
  *
  * Every layer is timed from outside the engine:
  *  - build = the `SparkEntry.queries` function (or the CDC drain + chain);
  *  - plan  = `df.queryExecution.executedPlan`;
  *  - exec  = `toRdd.count()`, which computes every output row of the
  *    declared plan (never `df.count()`, whose pruned plan skips work).
  * With tracing on, a SparkListener and a StreamingQueryListener record
  * jobs, stages (task summaries) and micro-batches; each op's jobs carry a
  * local property naming the sample and phase that launched them, so
  * attribution does not depend on listener timing. */
object Harness {
  private val mapper = new ObjectMapper()

  // epoch nanoseconds with nanoTime resolution (run.py joins stub request
  // spans on the same clock)
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val out = mapper.createObjectNode()
    val t = new Harness(cfg, out)
    try t.run()
    finally {
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(new java.io.File(cfg.get("out").asText()), out)
    }
  }
}

final class Harness(cfg: JsonNode, out: ObjectNode) {
  import Harness.{mapper, nowNs}

  private val workload = cfg.get("workload").asText()
  private val dataDir = cfg.get("data_dir").asText()
  private val workDir = cfg.get("work_dir").asText()
  private val checkDir = cfg.get("check_dir").asText()
  private val cores = cfg.get("cores").asInt()
  private val seconds = cfg.get("seconds").asDouble()
  private val trace = cfg.get("trace").asBoolean()
  private val opTimeoutMs = cfg.get("op_timeout_s").asLong() * 1000L
  private val ops: Seq[String] = cfg.get("ops").elements().asScala.map(_.asText()).toSeq
  // ops that own a session-lifetime memo: evicted before each of their
  // samples, or a sample would read the previous one's result
  private val memoOwners = Map(
    "q_ivf_absorb" -> (() => Quantize.evictIvfMemo(dataDir, corpusTrain = true)))

  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val watchdog = Executors.newSingleThreadScheduledExecutor()
  private var sampleSeq = 0
  private var cdcSeq = 0

  def run(): Unit = {
    out.put("workload", workload)
    out.put("main_epoch_ns", nowNs())
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/ckpt")
      // keep every micro-batch's progress: landed rows are summed over them
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("spark_version", spark.version)
    out.put("session_epoch_ns", nowNs())
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streamListener)
    }
    try {
      checkPass()
      out.put("check_end_epoch_ns", nowNs())
      // a fixed number of untimed passes exactly like the timed ones: the
      // check pass leaves the JIT half warm, and a trend across timed
      // passes would make their median depend on how many passes fit. A
      // count, not a time budget, so set-up grows and shrinks with the
      // engine's speed.
      (1 to cfg.get("warm_passes").asInt()).foreach(_ => ops.foreach(op => sample(op, -1)))
      timedPasses()
      drainListenerBus()
      jvmEnd()
      if (trace) out.set[ObjectNode]("trace", tracer.toJson)
    } finally {
      watchdog.shutdownNow()
      spark.stop()
    }
  }

  /** Untimed: every distinct op once, output written for the oracle
    * compare. It is also the warmup — codegen and JIT land here rather
    * than on the first timed sample. */
  private def checkPass(): Unit = {
    val checks = mapper.createObjectNode()
    ops.distinct.foreach { op =>
      val r = mapper.createObjectNode()
      val t0 = nowNs()
      try {
        tag("check", "check")
        val df = build(op)
        df.write.mode("overwrite").parquet(s"$checkDir/$op")
        r.put("ok", true)
      } catch { case e: Throwable =>
        r.put("ok", false); r.put("error", errText(e))
      }
      r.put("ms", (nowNs() - t0) / 1e6)
      checks.set[ObjectNode](op, r)
    }
    out.set[ObjectNode]("checks", checks)
    val oracle = mapper.createObjectNode()
    ops.distinct.foreach(op => SparkEntry.oracleSql.get(op).foreach(oracle.put(op, _)))
    out.set[ObjectNode]("oracle_sql", oracle)
  }

  private def timedPasses(): Unit = {
    val samples = mapper.createArrayNode()
    val passes = mapper.createArrayNode()
    val gc0 = gcTotals()
    val fs0 = localFsWrites()
    val files0 = filesUnderWriteRoots()
    out.put("cpu_stat_start", cpuStat())
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val start = nowNs()
    out.put("timed_start_epoch_ns", start)
    val deadline = start + (seconds * 1e9).toLong
    // whole passes only, at least `min_passes` so that wall_s is a median;
    // past those another one starts while the mean pass so far still fits
    // before the deadline, so a run measures about `seconds`
    val minPasses = cfg.get("min_passes").asInt()
    var pass = 0
    while (pass < minPasses || nowNs() + (nowNs() - start) / pass <= deadline) {
      val p0 = nowNs()
      ops.foreach(op => samples.add(sample(op, pass)))
      val p = mapper.createObjectNode()
      p.put("pass", pass); p.put("start_ns", p0); p.put("end_ns", nowNs())
      passes.add(p)
      pass += 1
    }
    out.put("timed_end_epoch_ns", nowNs())
    out.put("cpu_stat_end", cpuStat())
    out.set[ArrayNode]("samples", samples)
    out.set[ArrayNode]("passes", passes)
    val gc1 = gcTotals()
    val fs1 = localFsWrites()
    out.put("gc_ms", gc1._1 - gc0._1)
    out.put("gc_count", gc1._2 - gc0._2)
    out.put("fs_bytes_written", fs1 - fs0)
    out.put("files_written", filesUnderWriteRoots() - files0)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    out.put("heap_peak_bytes", heapPeak)
  }

  /** One timed op: evict its memo if it owns one, then build, plan and
    * materialize every row. A throw or a timeout marks the sample failed;
    * run.py also fails it when its row count differs from the checked
    * output's. */
  private def sample(op: String, pass: Int): ObjectNode = {
    sampleSeq += 1
    val id = s"s$sampleSeq"
    val r = mapper.createObjectNode()
    r.put("id", id); r.put("op", op); r.put("pass", pass)
    memoOwners.get(op).foreach(_.apply())
    val timeout = watchdog.schedule(new Runnable {
      def run(): Unit = {
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      }
    }, opTimeoutMs, TimeUnit.MILLISECONDS)
    val t0 = nowNs()
    r.put("t0", t0)
    try {
      tag(id, "build")
      val df = build(op, Some(r))
      val t1 = nowNs(); r.put("t1", t1)
      tag(id, "plan")
      val plan = df.queryExecution.executedPlan
      val t2 = nowNs(); r.put("t2", t2)
      tag(id, "exec")
      val rows = df.queryExecution.toRdd.count()
      val t3 = nowNs(); r.put("t3", t3)
      r.put("rows", rows)
      r.put("ok", true)
      if (trace) {
        // after execution the adaptive plan shows its final shape
        val s = plan.treeString
        r.put("exchanges", "(?m)^\\W*(ShuffleExchange|Exchange) ".r.findAllIn(s).size)
        r.put("broadcasts", "(?m)^\\W*BroadcastExchange ".r.findAllIn(s).size)
        r.put("smj", "(?m)^\\W*SortMergeJoin".r.findAllIn(s).size)
        r.put("codegen_stages", "\\*\\((\\d+)\\)".r.findAllMatchIn(s).map(_.group(1)).toSet.size)
      }
    } catch { case e: Throwable =>
      r.put("t3", nowNs())
      r.put("ok", false); r.put("error", errText(e))
    } finally {
      timeout.cancel(false)
      tag(null, null)
    }
    r
  }

  private def build(op: String, rec: Option[ObjectNode] = None): DataFrame =
    if (op == "cdc_drain") cdcDrain(rec)
    else SparkEntry.queries(op)(spark, dataDir)

  /** The reference's CDC job against the localhost stub: AvailableNow
    * drain of the multi-entity paged stream (changelog records, daily
    * windows, one page per entity per poll), then q_cdc_pipeline's
    * StringCast → key/route → latest-wins compaction chain.
    *
    * The chain below is a copy of `Cdc.qCdcPipeline`'s (the part after its
    * drain), because the engine does not expose it as a function of the
    * landed rows; it must be kept in step with that code. */
  private def cdcDrain(rec: Option[ObjectNode]): DataFrame = {
    val c = cfg.get("cdc")
    val ents = c.get("entities").elements().asScala.map(_.asText()).toSeq
    JsonStringCast.register(spark)
    Streaming.tuneLocalCheckpointIo(spark)
    cdcSeq += 1
    val sink = s"perfbench_cdc_$cdcSeq"
    var reader = spark.readStream.format("graft.sources.PagedEntitySource")
      .option("entities", ents.mkString(","))
      .option("endpoint", c.get("endpoint").asText())
      .option("username", "perfbench").option("password", "perfbench")
      .option("pageSize", c.get("page_size").asText())
      .option("windowRows", c.get("window_rows").asText())
      .option("maxRetries", c.get("max_retries").asText())
      .option("retryBackoffScale", c.get("retry_backoff_scale").asText())
    ents.foreach(e => reader = reader.option(s"$e.rows", c.get("rows").get(e).asText()))
    val d0 = nowNs()
    val q = reader.load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$workDir/ckpt/$sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(opTimeoutMs)
      q.exception.foreach(e => throw e)
      if (q.isActive) throw new IllegalStateException("cdc drain did not terminate")
      val d1 = nowNs()
      rec.foreach { r =>
        r.put("drain_ns", d1 - d0)
        // the records the source actually delivered, not the configured ones
        r.put("landed_rows", q.recentProgress.map(_.numInputRows).sum)
      }
      val landed = spark.table(sink)
      val enriched = landed
        .withColumn("category_cast", expr("json_string_cast(category)"))
        .filter(col("id").isNotNull)
        .withColumn("key", col("id").cast("string"))
        .withColumn("topic", concat_ws(".", lit("chargeover"), col("_entity_type")))
      val w = Window.partitionBy(col("_entity_type"), col("id"))
        .orderBy(col("ts_us").desc)
      val compacted = enriched
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("topic"), col("key"), col("_entity_type"), col("id"),
          col("ts_us"), col("value"), col("category_cast"))
        .orderBy(col("_entity_type"), col("id"))
      Iterate.cut(compacted)
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView(sink)
    }
  }

  private def tag(sample: String, phase: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SampleKey, sample)
    sc.setLocalProperty(Tracer.PhaseKey, phase)
  }

  private def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)

  private def drainListenerBus(): Unit =
    if (trace) org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** Bytes written through Hadoop's local filesystem: parquet, checkpoint
    * and state-store writes all go through it, and they count even when
    * the engine deletes its temp dirs before the run ends. */
  private def localFsWrites(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Files currently under the run's private tmp, checkpoint and warehouse
    * roots. */
  private def filesUnderWriteRoots(): Long =
    Seq("tmp", "ckpt", "warehouse").map(d => java.nio.file.Paths.get(workDir, d))
      .filter(java.nio.file.Files.isDirectory(_))
      .map { root =>
        val walk = java.nio.file.Files.walk(root)
        try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      }.sum

  /** The host's cumulative CPU time line from /proc/stat (empty elsewhere):
    * run.py derives the share of CPU time other guests stole from this
    * machine during the timed window, which inflates every wall time. */
  private def cpuStat(): String =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next() finally src.close()
    }.getOrElse("")

  /** Retained heap: what is still live after full collections at the end
    * of the run (memos, cached blocks, leaked state). */
  private def jvmEnd(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    out.put("retained_heap_bytes", mem.getHeapMemoryUsage.getUsed)
    out.put("heap_max_bytes", mem.getHeapMemoryUsage.getMax)
    out.put("gc_names", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getName).mkString(","))
    out.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).mkString(" "))
  }
}

object Tracer {
  val SampleKey = "perfbench.sample"
  val PhaseKey = "perfbench.phase"
  // set by Spark's StreamExecution on every micro-batch job
  val StreamQueryKey = "sql.streaming.queryId"
}

/** Listener-side span recorder. Everything is kept in memory and written
  * once at the end of the run. Times are epoch milliseconds as Spark
  * reports them. */
final class Tracer extends SparkListener {
  import Tracer._
  private val mapper = new ObjectMapper()

  private final class JobRec(val id: Int, val sample: String, val phase: String,
      val stream: Boolean, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class StageAgg(val jobId: Int) {
    var submitted = -1L; var completed = -1L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shRead = 0L; var shWrite = 0L; var fetchWaitMs = 0L; var spill = 0L
    var peakMem = 0L
    val durs = new scala.collection.mutable.ArrayBuffer[Long]
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]
  private val batches = new ConcurrentLinkedQueue[ObjectNode]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    val rec = new JobRec(e.jobId, prop(SampleKey), prop(PhaseKey),
      prop(StreamQueryKey) != null, e.time, e.stageIds)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def agg(stageId: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((stageId, attempt),
      _ => new StageAgg(stageJob.getOrDefault(stageId, -1)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = agg(i.stageId, i.attemptNumber())
    a.synchronized {
      a.submitted = i.submissionTime.getOrElse(-1L)
      a.completed = i.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.durs += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val b = mapper.createObjectNode()
      b.put("run_id", String.valueOf(p.runId))
      b.put("batch_id", p.batchId)
      b.put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      b.put("rows", p.numInputRows)
      val d = mapper.createObjectNode()
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue()) }
      b.set[ObjectNode]("duration_ms", d)
      batches.add(b)
    }
  }

  def toJson: ObjectNode = {
    val o = mapper.createObjectNode()
    val js = o.putArray("jobs")
    jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      val n = js.addObject()
      n.put("id", j.id); n.put("sample", j.sample); n.put("phase", j.phase)
      n.put("stream", j.stream); n.put("start_ms", j.start); n.put("end_ms", j.end)
    }
    val ss = o.putArray("stages")
    stages.asScala.toSeq.sortBy(_._1).foreach { case ((sid, att), a) => a.synchronized {
      val n = ss.addObject()
      n.put("id", sid); n.put("attempt", att); n.put("job", a.jobId)
      n.put("submitted_ms", a.submitted); n.put("completed_ms", a.completed)
      n.put("tasks", a.tasks); n.put("run_ms", a.runMs); n.put("cpu_ms", a.cpuNs / 1e6)
      n.put("gc_ms", a.gcMs); n.put("shuffle_read", a.shRead)
      n.put("shuffle_write", a.shWrite); n.put("fetch_wait_ms", a.fetchWaitMs)
      n.put("spill", a.spill); n.put("peak_mem", a.peakMem)
      val d = a.durs.sorted
      n.put("max_task_ms", if (d.isEmpty) 0L else d.last)
      n.put("median_task_ms", if (d.isEmpty) 0L else d(d.size / 2))
    }}
    val bs = o.putArray("batches")
    batches.asScala.foreach(bs.add)
    o
  }
}
