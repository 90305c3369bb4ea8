package graft

import org.apache.spark.sql.functions._
import graft.engine.LlmOps

/** Crash-and-retry audit of the non-atomic absorb pass the round-12
  * verdict named alongside the tiered fold (directive 4):
  * [[LlmOps.absorbInto]]'s digests/buckets appends are not atomic as a
  * pair, but each append REPLACES its generation, so a RETRY is
  * self-healing: a lost second append or a torn partial commit is
  * re-derived from the batch and rewritten whole. These tests crash the
  * pass both ways and pin retry == clean twin. (The compaction's crash
  * points are TierIdempotencySpec's.) */
class AbsorbIdempotencySpec extends SparkSpec {

  private val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
    TestSession.spark.sessionState.newHadoopConf())

  private def docs = engine.Tables.documents(spark, sf)
  private def corpus = docs.filter(col("doc_id") % 10 < 6)
  private def batch = docs.filter(col("doc_id") % 10 >= 6)
    .select(col("doc_id"), col("text"))

  private def contentOf(name: String): (Set[String], Set[(Int, Long)]) = {
    val v = LlmOps.loadBucketedIndex(spark, name)
    (v.digests.collect().map(_.getString(0)).toSet,
      v.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
  }

  test("absorbInto retried after a crash between the pair's appends converges") {
    val dirA = tempDir("graft_absA")
    val dirB = tempDir("graft_absB")
    val (a, b) = ("graft_spec_abs_a", "graft_spec_abs_b")
    try {
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirA, a)
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirB, b)

      // simulate the crash: the digests append committed, the buckets
      // append never ran — rewind buckets to its pre-absorb state
      LlmOps.absorbInto(spark, a, batch, gen = 1L)
      spark.sql(s"ALTER TABLE ${a}_buckets DROP IF EXISTS PARTITION (gen=1)")
      val bloc = new org.apache.hadoop.fs.Path(s"$dirA/buckets/gen=1")
      hfs.delete(bloc, true)
      spark.catalog.refreshTable(s"${a}_buckets")

      // the replayed batch re-runs the SAME absorb: both generations are
      // rewritten, buckets regains what the crash lost
      LlmOps.absorbInto(spark, a, batch, gen = 1L)
      LlmOps.absorbInto(spark, b, batch, gen = 1L)
      assert(contentOf(a) == contentOf(b),
        "retried absorb must equal the uninterrupted twin row-for-row")
    } finally {
      LlmOps.dropBucketedIndex(spark, a); LlmOps.dropBucketedIndex(spark, b)
    }
  }

  test("absorbInto retried after a TORN digests append back-fills the lost rows") {
    val dirA = tempDir("graft_absTA")
    val dirB = tempDir("graft_absTB")
    val (a, b) = ("graft_spec_abst_a", "graft_spec_abst_b")
    try {
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirA, a)
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirB, b)

      // torn dynamic-partition commit: one of the digests gen=1 files is
      // lost mid-commit — the partition LOOKS present but is missing rows
      LlmOps.absorbInto(spark, a, batch, gen = 1L)
      val gdir = new org.apache.hadoop.fs.Path(s"$dirA/digests/gen=1")
      val part = hfs.listStatus(gdir)
        .filter(_.getPath.getName.startsWith("part-")).head.getPath
      hfs.delete(part, false)
      spark.catalog.refreshTable(s"${a}_digests")
      val torn = contentOf(a)

      LlmOps.absorbInto(spark, a, batch, gen = 1L)
      LlmOps.absorbInto(spark, b, batch, gen = 1L)
      assert(contentOf(a) == contentOf(b),
        "the retry must re-derive exactly the lost digests from the batch")
      assert(torn._1.subsetOf(contentOf(a)._1) && torn._1 != contentOf(a)._1,
        "the torn state must have been missing rows for this test to mean anything")
    } finally {
      LlmOps.dropBucketedIndex(spark, a); LlmOps.dropBucketedIndex(spark, b)
    }
  }

  test("probe∥absorb: a batch whose absorb committed but whose probe was lost retries to the clean twin") {
    val dirA = tempDir("graft_paA")
    val dirB = tempDir("graft_paB")
    val (a, b) = ("graft_spec_pa_a", "graft_spec_pa_b")
    def rows(status: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      status.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def probe(name: String, asOf: Option[Long]): Seq[(Long, String)] =
      rows(LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name, asOf), batch))
    try {
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirA, a, gen = -1L)
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dirB, b, gen = -1L)

      // batch 0 on `a`: the absorb committed gen 0, the status output was
      // lost
      LlmOps.absorbInto(spark, a, batch, gen = 0L)
      // the retried batch 0: the fused step classifies the as-of view,
      // lands the status, absorbs again
      var retried = Seq.empty[(Long, String)]
      LlmOps.ingest(spark, a, batch, gen = 0L)(st => retried = rows(st))
      // the clean twin runs batch 0 once
      var clean = Seq.empty[(Long, String)]
      LlmOps.ingest(spark, b, batch, gen = 0L)(st => clean = rows(st))

      assert(retried == clean, "the retried probe must equal the clean probe row for row")
      assert(contentOf(a) == contentOf(b), "the retried index must equal the clean twin")
      // the as-of fence is what held: unfenced, the retry sees its own rows
      assert(probe(a, None) != clean,
        "an unfenced probe must differ, or this test shows nothing")
    } finally {
      LlmOps.dropBucketedIndex(spark, a); LlmOps.dropBucketedIndex(spark, b)
    }
  }
}
