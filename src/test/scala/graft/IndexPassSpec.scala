package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{LlmOps, Tables}

/** One index pass per ingest batch: the batch's classification is the
  * only read of each index table (its matches give the status, its
  * misses are the absorb set), and the absorb REPLACES its generation
  * rather than adding to it. */
class IndexPassSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("a streaming ingest batch scans each index table exactly once") {
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = new java.util.concurrent.atomic.AtomicLong
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .flatMap(_.tableIdentifier).foreach(t => scans.add(t.table))
        seen.incrementAndGet(); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the drain starts, so the stream's cloned session
    // carries it into every micro-batch
    spark.listenerManager.register(listener)
    try {
      assert(SparkEntry.queries("q_stream_absorb")(spark, sf).count() > 0)
      RunListener.settle(seen.get)
    } finally spark.listenerManager.unregister(listener)
    val perTable = scans.asScala.toSeq
      .collect { case t if t.matches("graft_sabs_\\d+_(digests|buckets)") =>
        t.substring(t.lastIndexOf('_') + 1) }
      .groupBy(identity).map { case (t, s) => t -> s.size }
    // the drain stages four files, one micro-batch each
    assert(perTable == Map("digests" -> 4, "buckets" -> 4),
      s"index-table scans over 4 ingest batches: $perTable")
  }

  test("absorbInto replaces its generation: a second batch under the same gen keeps only its own new keys") {
    val docs = Tables.documents(spark, sf)
    def slice(m: Int) = docs.filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text"))
    def keys(idx: LlmOps.CorpusIndex): (Set[String], Set[(Int, Long)]) =
      (idx.digests.collect().map(_.getString(0)).toSet,
        idx.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
    def gen0(suffix: String): DataFrame =
      spark.table(s"graft_spec_regen_$suffix").filter(col("gen") === 0L).drop("gen")
    val name = "graft_spec_regen"
    try {
      LlmOps.saveBucketedIndex(spark,
        LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 6)),
        tempDir("graft_regen"), name, gen = -1L)
      val base = keys(LlmOps.loadBucketedIndex(spark, name))
      LlmOps.absorbInto(spark, name, slice(6), gen = 0L)
      LlmOps.absorbInto(spark, name, slice(7), gen = 0L)
      val (b1, b2) = (keys(LlmOps.buildCorpusIndex(slice(6))),
        keys(LlmOps.buildCorpusIndex(slice(7))))
      val got = keys(LlmOps.CorpusIndex(gen0("digests"), gen0("buckets")))
      val want = (b2._1 -- base._1, b2._2 -- base._2)
      // set differences, not the sets: a failure names counts, not keys
      val stray = ((got._1 -- want._1).size, (got._2 -- want._2).size)
      val missing = ((want._1 -- got._1).size, (want._2 -- got._2).size)
      assert(stray == ((0, 0)) && missing == ((0, 0)),
        "generation 0 must hold exactly the second batch's keys the base lacks")
      assert((b1._1 -- base._1 -- b2._1).nonEmpty,
        "the first batch must have had keys of its own, or this test shows nothing")
    } finally LlmOps.dropBucketedIndex(spark, name)
  }
}
