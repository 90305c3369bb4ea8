package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.engine.{Funnel, Streaming, Tables}
import graft.engine.Streaming.FunnelState

/** Streaming funnel: the per-user greedy-earliest (t1, t2, t3) machine,
  * carried as 24 bytes of state, must equal the batch conditional-min
  * windows after a time-ordered multi-micro-batch replay. */
class FunnelStreamSpec extends SparkSpec {

  test("streamed funnel stage times == batch userStages across micro-batches") {
    val raw = Tables.eventsRaw(spark, sf)
    val cut = lit(raw.selectExpr("percentile_approx(ts, 0.5) AS c").head().get(0))
    val dir = tempDir("graft_fun_mb")
    raw.filter(col("ts") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    raw.filter(col("ts") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val flat = tempDir("graft_fun_flat")
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
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(flat))
    val out = Streaming.funnelStream(Streaming.funnelEvents(stream)).toDF()
    // each slot is write-once, so max over a user's emissions == the
    // final state (null while unset, then constant)
    val streamed = Streaming.drainToMemory(out, "update", "funnel stream")(identity)
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
    val batch = Funnel.userStages(spark, sf)
    assert(streamed.count() == batch.count(), "one state row per funnel user")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed stage times must equal the batch window formulation")
    // the declared query's stage counts agree with the streamed state
    val counts = Funnel.qFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("1_view") == streamed.filter(col("t1").isNotNull).count())
    assert(counts("2_click") == streamed.filter(col("t2").isNotNull).count())
    assert(counts("3_purchase") == streamed.filter(col("t3").isNotNull).count())
  }

  test("funnelStep law: ordered fold == batch windows, invariant to batch splits") {
    val clickWin = 8L * 3600 * 1000000L
    val buyWin = 24L * 3600 * 1000000L
    // batch semantics in plain Scala: three chained conditional mins
    def batch(ev: Seq[(Long, String)]): (Long, Long, Long) = {
      def minOr(xs: Seq[Long]): Long = if (xs.isEmpty) -1L else xs.min
      val t1 = minOr(ev.collect { case (ts, "view") => ts })
      val t2 = if (t1 < 0) -1L else minOr(ev.collect {
        case (ts, "click") if ts > t1 && ts <= t1 + clickWin => ts })
      val t3 = if (t2 < 0) -1L else minOr(ev.collect {
        case (ts, "purchase") if ts > t2 && ts <= t2 + buyWin => ts })
      (t1, t2, t3)
    }
    // small ts domain forces same-ts ties; windows exercised via hour gaps
    val genEv = for {
      ts <- Gen.chooseNum(0L, 40L).map(_ * 3600000000L)
      ty <- Gen.oneOf("view", "click", "purchase")
    } yield (ts, ty)
    val p = Prop.forAll(Gen.listOf(genEv), Gen.chooseNum(1, 5)) { (ev, nb) =>
      val sorted = ev.sortBy(identity) // (ts, type) — the operator's order
      // split the ORDERED sequence into nb contiguous batches (the
      // time-ordered replay contract), fold each batch through the step
      val per = math.max(1, (sorted.size + nb - 1) / nb)
      val folded = sorted.grouped(per).foldLeft(FunnelState(-1L, -1L, -1L)) {
        (s, b) => b.foldLeft(s)((s2, e) => Streaming.funnelStep(s2, e._1, e._2))
      }
      val (t1, t2, t3) = batch(ev)
      (folded.t1, folded.t2, folded.t3) == ((t1, t2, t3))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.toString)
  }
}
