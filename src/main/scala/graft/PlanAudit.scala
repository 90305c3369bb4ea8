package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Plan audit main: walks the final (post-AQE) physical plan of every
  * declared query and summarizes exchanges, scans, broadcasts, codegen
  * spans, and pushdown into PLANS.md — the ".explain and iterate" loop
  * (builder prompt / SURVEY §7 bench hardening) made reviewable.
  *
  * Counts are structural, not string matches: the walker recurses into
  * AQE query stages and reused exchanges (counted once) and stops at
  * InMemoryTableScan leaves — a cached relation's build plan ran once at
  * materialization, so counting its nodes per consumer (as a toString
  * scan does) overstates iterative queries ~10×. Run:
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 PLANS.md"
  */
object PlanAudit {

  final case class Tally(
      var shuffles: Int = 0, var broadcasts: Int = 0, var scans: Int = 0,
      var sorts: Int = 0, var codegen: Int = 0, var pushed: Boolean = false)

  /** Walk the physical plan counting structural features. Recurses into
    * query stages and subqueries; ReusedExchange subtrees executed once —
    * skipped. */
  def tally(plan: SparkPlan, t: Tally, seen: java.util.IdentityHashMap[SparkPlan, Unit]): Unit = {
    if (seen.containsKey(plan)) return
    seen.put(plan, ())
    plan match {
      case a: AdaptiveSparkPlanExec => tally(a.executedPlan, t, seen); return
      case q: QueryStageExec        => tally(q.plan, t, seen); return
      case _: ReusedExchangeExec    => return // ran once elsewhere
      case s: ShuffleExchangeLike   => t.shuffles += 1; tally(s.child, t, seen); return
      case b: BroadcastExchangeLike => t.broadcasts += 1; tally(b.child, t, seen); return
      case w: WholeStageCodegenExec => t.codegen += 1; tally(w.child, t, seen); return
      case _: SortExec              => t.sorts += 1
      case _: InMemoryTableScanExec => t.scans += 1; return // cached: built once
      case f: FileSourceScanExec =>
        t.scans += 1
        if (f.metadata.get("PushedFilters").exists(v => v != "[]" && v.nonEmpty)) t.pushed = true
      case s: BatchScanExec =>
        t.scans += 1
        if (s.scan.description().contains("lo=") || s.scan.description().contains("Pushed")) t.pushed = true
      case _: RDDScanExec | _: RowDataSourceScanExec | _: LocalTableScanExec => t.scans += 1
      case _ =>
    }
    plan.children.foreach(tally(_, t, seen))
    plan.subqueries.foreach(tally(_, t, seen))
  }

  def audit(df: DataFrame): Tally = {
    df.collect() // materialize on the SAME QueryExecution so AQE finalizes
    val t = Tally()
    tally(df.queryExecution.executedPlan, t, new java.util.IdentityHashMap)
    t
  }

  /** Audit a query INCLUDING its construction-time work: snapshots the
    * listener's runtime counts around `build` + materialization, so eager
    * stages are attributed to the query that ran them. Returns the
    * structural tally plus (runtime shuffles, runtime broadcasts). */
  def auditRuntime(rl: RunListener)(build: => DataFrame): (Tally, Int, Int) = {
    rl.quiesce() // flush stragglers from the previous query
    val sh0 = rl.shuffles; val bc0 = rl.broadcasts
    val df = build
    val t = audit(df)
    rl.quiesce()
    (t, rl.shuffles - sh0, rl.broadcasts - bc0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(Sessions.cpus, logLevel = "ERROR")
    val rl = new RunListener
    spark.sparkContext.addSparkListener(rl)

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val (t, rtSh, rtBc) = auditRuntime(rl)(fn(spark, sfDir))
        val pushed = if (t.pushed) "yes" else "-"
        f"| $name%-22s | ${t.shuffles}%2d | ${t.broadcasts}%2d | $rtSh%2d | $rtBc%2d | ${t.scans}%2d | ${t.sorts}%2d | ${t.codegen}%2d | $pushed |"
      } catch {
        case e: Throwable => f"| $name%-22s | plan failed: ${e.getMessage.take(60)} |"
      }
    }
    val header =
      """# PLANS — physical-plan audit of every declared query (sf0.01)
        |
        |Generated by `graft.PlanAudit`. `shfl`/`bcast` are the STRUCTURAL
        |walk of the post-AQE executed plan (cached/reused subtrees counted
        |once); `rtShfl`/`rtBcast` are RUNTIME counts from a SparkListener
        |around construction + materialization — distinct shuffle
        |dependencies whose map stages actually ran, and broadcast-exchange
        |jobs actually submitted. Eagerly-materialized queries (Iterate.cut,
        |BigWindow, micro-batch drains) show their true totals in the
        |runtime columns even though their declared frame is a leaf scan.
        |Runtime > structural ⇒ eager/cached work; runtime < structural ⇒
        |AQE reused an exchange across the tree. Remaining columns: scans,
        |sorts, whole-stage-codegen spans, filter pushdown reached a scan.
        |
        || query | shfl | bcast | rtShfl | rtBcast | scans | sorts | codegen | pushdown |
        ||---|---|---|---|---|---|---|---|---|""".stripMargin
    Files.writeString(Paths.get(outFile), (header +: rows).mkString("\n") + "\n")
    println(s"[plan-audit] wrote ${rows.size} rows to $outFile")
    spark.stop()
  }
}
