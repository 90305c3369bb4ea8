package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, RunListener, Sessions, SparkEntry}

/** Profiler for any declared query at any scale factor:
  *
  *   runMain graft.tools.Profile <view> <sfDir> <q1,q2,...>
  *
  * Each named query is first warmed once on Bench's warm dir (the sf0.001
  * sibling or SPARK_GRAFT_WARM_DIR), then profiled by one view:
  *
  *  - `phase`: three samples, each split into build (the query function:
  *    DataFrame construction, schema reads, analysis, eager stages), plan
  *    (`executedPlan`: optimization, physical planning) and exec
  *    (`toRdd.count()`: scheduling, tasks, result). Sample 1 is cold in
  *    the plan caches, 2-3 are warm. Each sample also counts its Janino
  *    compiles (Spark's codegen cache misses) with their ms, and the JVM
  *    classes it loaded.
  *  - `stage`: one run's completed stages — wall, tasks, run/CPU/GC time,
  *    shuffle bytes and spill — with the stage name (operator callsite).
  *  - `job`: one run's jobs with their durations, task counts, callsites
  *    and the gaps BETWEEN jobs (driver-side planning, listing, catalog).
  *  - `plan`: the formatted physical plan after a noop-sink run, so the
  *    final AQE plan is what prints.
  *  - `time`: Bench's own sampling (`Bench.sample`: memo eviction,
  *    min-of-2/3) with its samples' task-time, CPU, shuffle and spill
  *    deltas.
  *  - `drain`: every streaming micro-batch one run starts, with its
  *    `durationMs` breakdown (triggerExecution, queryPlanning, walCommit,
  *    commitOffsets, getBatch, addBatch, latestOffset).
  *
  * Besides the declared queries, `dedup_pairs_kernel` names the
  * sparse-Jaccard posting-pairs kernel as q_dedup_groups invokes it: its
  * consumers' declared frames are materialized cut leaves, so the kernel
  * has to be profiled directly. */
object Profile {

  type Query = (SparkSession, String) => DataFrame

  def resolve(name: String): Query = name match {
    case "dedup_pairs_kernel" => (spark, sfDir) =>
      graft.engine.LlmOps.sparseJaccardPairs(
        graft.engine.Tables.documents(spark, sfDir)
          .select(lit("all").as("source"), col("doc_id"), col("text")))._1
    case q => SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query: $q"))
  }

  /** One sample's phase seconds, plus what it cost the JVM: Janino
    * compiles (codegen cache misses), their compile ms and the classes
    * loaded, all deltas over the whole sample. */
  final case class Phase(buildS: Double, planS: Double, execS: Double,
      compiles: Long, compileMs: Double, classesLoaded: Long)

  private def jvmCounters(): (Long, Long, Long) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  def phases(spark: SparkSession, fn: Query, sfDir: String): Seq[Phase] =
    (1 to 3).map { _ =>
      val (c0, ns0, cl0) = jvmCounters()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      val (c1, ns1, cl1) = jvmCounters()
      Phase((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        c1 - c0, (ns1 - ns0) / 1e6, cl1 - cl0)
    }

  /** Wall seconds of one run, with `rl`'s stage and job records reset
    * before it and settled after it. */
  def traced(spark: SparkSession, rl: RunListener, fn: Query, sfDir: String): Double = {
    rl.quiesce()
    rl.reset()
    val t0 = System.nanoTime()
    fn(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    rl.quiesce()
    wall
  }

  def plan(spark: SparkSession, fn: Query, sfDir: String): String = {
    val df = fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.explainString(FormattedMode)
  }

  final case class Batch(query: String, id: Long, rows: Long,
      durationMs: Map[String, Long])

  /** The micro-batches of every streaming query one run starts, in
    * progress-event order. Queries already running in the session are
    * left out: a query's start event precedes its progress events. */
  def drain(spark: SparkSession, fn: Query, sfDir: String): Seq[Batch] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (started.contains(p.runId))
          batches.add(Batch(Option(p.name).getOrElse("-"), p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
    spark.streams.addListener(l)
    try {
      fn(spark, sfDir).queryExecution.toRdd.count()
      RunListener.settle(batches.size.toLong)
    } finally spark.streams.removeListener(l)
    batches.asScala.toSeq
  }

  val views = Seq("phase", "stage", "job", "plan", "time", "drain")

  private def mb(b: Long): String = "%.2fMB".formatLocal(java.util.Locale.ROOT, b / 1e6)

  def main(args: Array[String]): Unit = {
    val (view, sfDir, names) = args match {
      case Array(v, s, qs) if views.contains(v) =>
        (v, s, qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ =>
        System.err.println(s"usage: Profile <${views.mkString("|")}> <sfDir> <q1,q2,...>")
        sys.exit(2)
    }
    val spark = Sessions.local(Sessions.cpus, logLevel = "ERROR")
    val rl = new RunListener
    spark.sparkContext.addSparkListener(rl)
    val warmSf = Bench.warmDir(sfDir)
    names.foreach { name =>
      val fn = resolve(name)
      Bench.warm(spark, name, fn, warmSf)
      view match {
        case "phase" =>
          phases(spark, fn, sfDir).zipWithIndex.foreach { case (p, i) =>
            println(f"[profile] phase $name%-22s s${i + 1}  build=${p.buildS}%6.3f  " +
              f"plan=${p.planS}%6.3f  exec=${p.execS}%6.3f  " +
              f"total=${p.buildS + p.planS + p.execS}%6.3f  compiles=${p.compiles}%4d  " +
              f"compileMs=${p.compileMs}%8.1f  classes=${p.classesLoaded}%5d")
          }
        case "stage" =>
          val wall = traced(spark, rl, fn, sfDir)
          rl.stages.foreach { s =>
            println(f"[profile] stage $name stage=${s.id}%4d wall=${s.wallMs / 1000.0}%7.3f " +
              f"tasks=${s.tasks}%4d run=${s.runMs / 1000.0}%7.3f cpu=${s.cpuMs / 1000.0}%7.3f " +
              f"gc=${s.gcMs / 1000.0}%6.3f shR=${mb(s.shuffleReadB)} shW=${mb(s.shuffleWriteB)} " +
              s"spill=${mb(s.spillB)}  ${s.name.take(110)}")
          }
          println(f"[profile] stage $name TOTAL wall=$wall%.3f s  stages=${rl.stages.size}  " +
            f"run=${rl.stages.map(_.runMs).sum / 1000.0}%.3f s")
        case "job" =>
          val wall = traced(spark, rl, fn, sfDir)
          val jobs = rl.jobs
          var prevEnd = jobs.headOption.map(_.start).getOrElse(0L)
          jobs.foreach { j =>
            val dur = (j.end - j.start) / 1000.0
            println(f"[profile] job $name job=${j.id}%4d gapBefore=${(j.start - prevEnd) / 1000.0}%7.3f " +
              f"dur=$dur%7.3f tasks=${j.tasks}%4d  ${j.site}")
            prevEnd = math.max(prevEnd, j.end)
          }
          val jobSum = jobs.map(j => math.max(j.end - j.start, 0L)).sum / 1000.0
          println(f"[profile] job $name TOTAL wall=$wall%.3f s  jobs=${jobs.size}  " +
            f"jobTimeSum=$jobSum%.3f s")
        case "plan" =>
          println(s"[profile] plan $name")
          println(plan(spark, fn, sfDir))
        case "time" =>
          rl.quiesce()
          val m0 = rl.totals
          val (t, n) = Bench.sample(spark, name, fn, sfDir)
          rl.quiesce()
          val d = rl.totals - m0
          println(f"[profile] time $name%-22s $t%8.3f s  samples=$n  " +
            f"taskMs=${d.taskMs}  cpuMs=${d.cpuMs}  shuffleRead=${mb(d.shuffleReadB)}  spill=${mb(d.spillB)}")
        case "drain" =>
          val bs = drain(spark, fn, sfDir)
          bs.foreach { b =>
            println(s"[profile] drain $name ${b.query} batch=${b.id} rows=${b.rows} " +
              s"durationMs=${b.durationMs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")}")
          }
          println(s"[profile] drain $name TOTAL batches=${bs.size}")
      }
    }
    spark.stop()
  }
}
