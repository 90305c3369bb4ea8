package graft

import org.apache.spark.sql.functions._
import graft.engine.{GenTables, LlmOps}

/** Crash-and-retry contract of the tiered maintenance pass (round-12
  * ADVICE medium): the digests fold and the buckets fold are two
  * non-atomic table mutations, so a crash between them (or between any
  * append and its partition drops) leaves the index pair inconsistent.
  * The replayed streaming batch re-runs the SAME pass — it must FINISH
  * the interrupted fold (manifest-pinned plan, per-table target-exists
  * skip, idempotent drops) and converge to the uninterrupted layout, and
  * a retry AFTER a fully completed pass must be a no-op rather than the
  * old require-crash loop. The two crash tests run each plan, tiered and
  * fold-all (q_corpus_compact's), over the same fixture. */
class TierIdempotencySpec extends SparkSpec {

  private val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
    TestSession.spark.sessionState.newHadoopConf())

  private def buildIndex(dir: String, name: String): Unit = {
    val docs = engine.Tables.documents(spark, sf)
    LlmOps.saveBucketedIndex(spark,
      LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 6)),
      dir, name, gen = -1L)
    for (g <- 0L to 2L)
      LlmOps.absorbInto(spark, name,
        docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8
          && col("doc_id") % 3 === g)
          .select(col("doc_id"), col("text")), gen = g)
  }

  /** The gens each plan folds over [[buildIndex]]'s layout at currentGen
    * 3: the tiered plan keeps the base (-1), fold-all takes it too. */
  private def foldOf(foldAll: Boolean): Seq[Long] =
    if (foldAll) Seq(-1L, 0L, 1L, 2L) else Seq(0L, 1L, 2L)

  private def contentOf(name: String): (Set[String], Set[(Int, Long)]) = {
    val v = LlmOps.loadBucketedIndex(spark, name)
    (v.digests.collect().map(_.getString(0)).toSet,
      v.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
  }

  private def gensOf(dir: String, table: String): Set[Long] =
    hfs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toLong).toSet

  test("a pass crashed between the pair's folds resumes to the uninterrupted layout") {
    Seq(false, true).foreach { foldAll =>
      val dirA = tempDir("graft_tierA")
      val dirB = tempDir("graft_tierB")
      val (a, b) = ("graft_spec_tier_a", "graft_spec_tier_b")
      try {
        buildIndex(dirA, a)
        buildIndex(dirB, b)

        // crash the pass after table 1 of 2 (digests folded + dropped,
        // buckets untouched) — the exact between-tables window the advisory
        // names
        val boom = intercept[IllegalStateException] {
          GenTables.compactTieredTables(spark, a, LlmOps.indexTables,
            currentGen = 3L, foldAll = foldAll, crashAfterTables = 1)
        }
        assert(boom.getMessage.contains("injected"), boom.getMessage)

        // the torn state is REAL: digests already on the fold target with
        // sources gone; buckets still on the original generations; the
        // published plan manifest still in place
        assert(gensOf(dirA, "digests") == Set(-1L, -5L) -- foldOf(foldAll),
          s"digests after crash: ${gensOf(dirA, "digests")}")
        assert(gensOf(dirA, "buckets") == Set(-1L, 0L, 1L, 2L),
          s"buckets after crash: ${gensOf(dirA, "buckets")}")
        assert(hfs.exists(new org.apache.hadoop.fs.Path(
          s"$dirA/digests/_tier_plan_gen_3.json")),
          "the fold-plan manifest must survive the crash")

        // the replayed batch re-runs the pass: it must resume the pinned
        // plan and finish, not require-crash on the existing target gen
        val resumed = LlmOps.compactIndexTiered(spark, a, currentGen = 3L, foldAll = foldAll)
          .getOrElse(fail("the resumed pass must complete the fold"))
        assert(resumed.foldedGens == foldOf(foldAll) && resumed.targetGen == -5L)

        // uninterrupted twin for the equality pin
        val clean = LlmOps.compactIndexTiered(spark, b, currentGen = 3L, foldAll = foldAll)
          .getOrElse(fail("the twin pass must fold"))
        assert(clean.foldedGens == foldOf(foldAll) && clean.targetGen == -5L)

        // converged: same generation layout, same index content, manifest
        // cleaned up
        Seq("digests", "buckets").foreach { t =>
          assert(gensOf(dirA, t) == gensOf(dirB, t),
            s"$t: resumed gens ${gensOf(dirA, t)} != clean ${gensOf(dirB, t)}")
        }
        assert(contentOf(a) == contentOf(b),
          "the resumed index must equal the uninterrupted twin row-for-row")
        assert(!hfs.exists(new org.apache.hadoop.fs.Path(
          s"$dirA/digests/_tier_plan_gen_3.json")),
          "a completed pass must remove its manifest")

        // the OTHER failure the advisory names: a batch retried after its
        // pass fully COMPLETED (manifest gone, target present) — a no-op,
        // not a crash loop
        assert(LlmOps.compactIndexTiered(spark, a, currentGen = 3L, foldAll = foldAll).isEmpty,
          "a retry after a completed pass must be a no-op")
      } finally {
        LlmOps.dropBucketedIndex(spark, a)
        LlmOps.dropBucketedIndex(spark, b)
      }
    }
  }

  test("a TORN append (crash mid-job-commit, partial target partition) resumes losslessly") {
    Seq(false, true).foreach { foldAll =>
      val dirA = tempDir("graft_tierTA")
      val dirB = tempDir("graft_tierTB")
      val (a, b) = ("graft_spec_torn_a", "graft_spec_torn_b")
      try {
        buildIndex(dirA, a)
        buildIndex(dirB, b)

        // crash DURING table 0's fold: the append's files land under
        // gen=-5, then one part file vanishes (the torn dynamic-partition
        // commit) and the process dies before the commit marker — the
        // round-12 residual window where "target dir exists" lied
        val boom = intercept[IllegalStateException] {
          GenTables.compactTieredTables(spark, a, LlmOps.indexTables,
            currentGen = 3L, foldAll = foldAll, tornAppendAt = 0)
        }
        assert(boom.getMessage.contains("torn append"), boom.getMessage)

        // the torn state is REAL: the target dir exists on disk (looks
        // committed) but is missing rows; the old existence check would
        // have skipped the append and dropped the sources — silent loss
        assert(gensOf(dirA, "digests").contains(-5L),
          "the partial target partition must exist — that is the trap")
        assert(hfs.exists(new org.apache.hadoop.fs.Path(
          s"$dirA/digests/_tier_plan_gen_3.json")))
        assert(!hfs.exists(new org.apache.hadoop.fs.Path(
          s"$dirA/digests/_tier_done_gen_3_0")),
          "no commit marker may exist for the torn table")

        // the replayed batch must detect the missing marker, discard the
        // partial partition, and redo the append from the (still-present)
        // fold generations
        val resumed = LlmOps.compactIndexTiered(spark, a, currentGen = 3L, foldAll = foldAll)
          .getOrElse(fail("the resumed pass must complete the fold"))
        assert(resumed.foldedGens == foldOf(foldAll) && resumed.targetGen == -5L)

        val clean = LlmOps.compactIndexTiered(spark, b, currentGen = 3L, foldAll = foldAll)
          .getOrElse(fail("the twin pass must fold"))
        assert(clean.foldedGens == foldOf(foldAll) && clean.targetGen == -5L)

        Seq("digests", "buckets").foreach { t =>
          assert(gensOf(dirA, t) == gensOf(dirB, t),
            s"$t: resumed gens ${gensOf(dirA, t)} != clean ${gensOf(dirB, t)}")
        }
        assert(contentOf(a) == contentOf(b),
          "the resumed index must equal the uninterrupted twin row-for-row " +
            "— every row of the torn partition recovered")
        assert(LlmOps.compactIndexTiered(spark, a, currentGen = 3L, foldAll = foldAll).isEmpty)
      } finally {
        LlmOps.dropBucketedIndex(spark, a)
        LlmOps.dropBucketedIndex(spark, b)
      }
    }
  }

  test("a stale manifest from an abandoned run is discarded, not resumed") {
    val dirA = tempDir("graft_tierSM")
    val a = "graft_spec_stale_m"
    try {
      buildIndex(dirA, a)
      // an abandoned run (fresh checkpoint restarted batch ids) left a
      // plan naming generations that no longer exist; resuming it would
      // fold nothing and swallow this batch's real maintenance
      val stale = new org.apache.hadoop.fs.Path(
        s"$dirA/digests/_tier_plan_gen_3.json")
      val out = hfs.create(stale, true)
      try out.write("""{"target":-5,"fold":[90,91]}""".getBytes("UTF-8"))
      finally out.close()

      val res = LlmOps.compactIndexTiered(spark, a, currentGen = 3L, foldAll = false)
        .getOrElse(fail("fresh planning must proceed past the stale manifest"))
      assert(res.foldedGens == Seq(0L, 1L, 2L) && res.targetGen == -5L,
        s"expected the LIVE generations folded, got $res")
      assert(gensOf(dirA, "digests") == Set(-1L, -5L))
      assert(!hfs.exists(stale), "the completed pass must leave no manifest")
    } finally {
      LlmOps.dropBucketedIndex(spark, a)
    }
  }
}
