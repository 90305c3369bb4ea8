package graft

import graft.tools.Profile

/** tools.Profile's views on the shared session at sf0.001: the phase
  * split and its compile counters (also of the dedup pair kernel),
  * stage records that account for every task the listener saw, and
  * the drain view's micro-batch count. */
class ProfileSpec extends SparkSpec {

  test("phase view: three samples, each with build, plan and exec > 0") {
    val ps = Profile.phases(spark, Profile.resolve("q_join_multiway"), sf)
    assert(ps.size == 3)
    ps.foreach(p => assert(p.buildS > 0 && p.planS > 0 && p.execS > 0, p))
    // the first sample fills the codegen cache; the warm ones hit it
    assert(ps.drop(1).forall(_.compiles == 0), ps)
    ps.foreach(p => assert((p.compileMs == 0) == (p.compiles == 0), p))
  }

  test("phase view of dedup_pairs_kernel runs the posting-pair kernel") {
    val kernel = Profile.resolve("dedup_pairs_kernel")
    val ps = Profile.phases(spark, kernel, sf)
    assert(ps.size == 3)
    ps.foreach(p => assert(p.buildS > 0 && p.planS > 0 && p.execS > 0, p))
    // the kernel's capped-list count is an observed metric of its plan
    val df = kernel(spark, sf)
    assert(df.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    assert(df.queryExecution.executedPlan.toString.contains("CollectMetrics"))
  }

  test("stage view: summed stage run ms == the listener's task total") {
    // the totals are session-wide: a stream left running by another
    // suite would add tasks the query's stage records do not hold
    assert(spark.streams.active.isEmpty,
      s"streams still running: ${spark.streams.active.map(_.name).mkString(", ")}")
    val rl = new RunListener
    spark.sparkContext.addSparkListener(rl)
    try {
      rl.quiesce()
      val m0 = rl.totals
      Profile.traced(spark, rl, Profile.resolve("q_join_multiway"), sf)
      val d = rl.totals - m0
      assert(rl.stages.nonEmpty)
      assert(rl.stages.map(_.runMs).sum == d.taskMs,
        s"stages=${rl.stages.map(_.runMs)} taskMs=${d.taskMs}")
      assert(rl.jobs.nonEmpty && rl.jobs.forall(j => j.end >= j.start))
    } finally spark.sparkContext.removeSparkListener(rl)
  }

  test("drain view: an AvailableNow drain of q_paged_stream is 1 micro-batch") {
    val bs = Profile.drain(spark, Profile.resolve("q_paged_stream"), sf)
    assert(bs.size == 1, bs.mkString("\n"))
    assert(bs.head.rows > 0)
    assert(Set("addBatch", "latestOffset", "triggerExecution")
      .subsetOf(bs.head.durationMs.keySet), bs.head.durationMs)
  }
}
