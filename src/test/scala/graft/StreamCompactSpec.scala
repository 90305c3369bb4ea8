package graft

import org.apache.spark.sql.functions._
import graft.engine.{GenTables, LlmOps}

/** The streaming-compaction contract (round-11: size-TIERED schedule): a
  * drain with compaction interleaved after every 2nd micro-batch must
  * answer row-for-row like the uncompacted q_stream_absorb drain
  * (compaction is semantically invisible MID-STREAM, not just between
  * sessions), and the schedule's COST must be bounded — each pass folds
  * strictly fewer bytes than it keeps (the big base never rewrites, the
  * in-flight batch's own generation never folds), and the drain ends on
  * a bounded generation count with the folded generation at one file per
  * bucket. The same pass with `foldAll` is q_corpus_compact's OFFLINE
  * full fold; the tiered schedule is what a 100 TB ingest loop can
  * actually afford. */
class StreamCompactSpec extends SparkSpec {

  private def genOf(path: String): Long = {
    val m = "/gen=(-?\\d+)/".r.findFirstMatchIn(path)
    assert(m.isDefined, s"index file outside a gen partition: $path")
    m.get.group(1).toLong
  }

  private def bucketOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val m = "_(\\d{5})\\.".r.findFirstMatchIn(base)
    assert(m.isDefined, s"unexpected bucketed file name $base")
    m.get.group(1)
  }

  test("tiered compaction mid-stream: row-equal to q_stream_absorb; bounded rewrite; bounded end state") {
    val tierLog =
      new java.util.concurrent.ConcurrentLinkedQueue[Option[GenTables.TierCompaction]]()
    var digestFiles: Array[String] = null
    var bucketFiles: Array[String] = null
    val compacted = engine.Streaming.streamClassifyAbsorbDrain(
      spark, sf, absorb = true, compactEvery = 2,
      inspectFinal = Some { name =>
        digestFiles = spark.table(s"${name}_digests").inputFiles
        bucketFiles = spark.table(s"${name}_buckets").inputFiles
      },
      tierLog = Some(tierLog)).collect().toSeq
    val plain = engine.Streaming.qStreamAbsorb(spark, sf).collect().toSeq
    assert(compacted == plain,
      s"compacted drain diverged: ${compacted.size} vs ${plain.size} rows")

    // the schedule fired after batches 1 and 3
    val reports = tierLog.toArray(Array.empty[Option[GenTables.TierCompaction]]).toSeq
    assert(reports.size == 2, s"expected 2 maintenance passes, got ${reports.size}")
    // pass 1 (after batch 1): candidates are only {base, gen 0} — one
    // small generation is not worth a rewrite, the pass is a no-op
    assert(reports.head.isEmpty,
      s"pass 1 should skip (a single small gen), got ${reports.head}")
    // pass 2 (after batch 3): gens 0..2 fold into the fresh negative gen;
    // the base and the in-flight batch's own generation are KEPT
    val r = reports(1).getOrElse(fail("pass 2 should fold the three small gens"))
    assert(r.foldedGens == Seq(0L, 1L, 2L), s"folded ${r.foldedGens}")
    assert(r.targetGen == -5L, s"target ${r.targetGen}")
    assert(r.keptGens == Seq(-1L, 3L), s"kept ${r.keptGens}")
    assert(r.foldedBytes > 0L && r.foldedBytes < r.keptBytes,
      s"rewrite must be bounded by what it keeps: folded ${r.foldedBytes}B vs kept ${r.keptBytes}B")

    // end state: exactly {base, fold target, last batch} generations, and
    // the folded generation holds ONE file per bucket per table
    Seq("digests" -> digestFiles, "buckets" -> bucketFiles).foreach {
      case (which, files) =>
        assert(files != null && files.nonEmpty, s"$which: no files captured")
        val gens = files.map(genOf).toSet
        assert(gens == Set(-1L, -5L, 3L), s"$which: end-state gens $gens")
        val foldIds = files.filter(genOf(_) == -5L).map(bucketOf).toSeq
        assert(foldIds.distinct.size == foldIds.size,
          s"$which: folded gen holds >1 file in a bucket: $foldIds")
    }
  }

  test("replay contract: batch id's as-of view is row-identical across a compaction at id") {
    val docs = engine.Tables.documents(spark, sf)
    val dir = tempDir("graft_ridx")
    val name = "graft_spec_ridx"
    def asOf2(): (Set[String], Set[(Int, Long)]) = {
      val v = LlmOps.loadBucketedIndex(spark, name, maxGenExclusive = Some(2L))
      (v.digests.collect().map(_.getString(0)).toSet,
        v.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
    }
    try {
      LlmOps.saveBucketedIndex(spark,
        LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 6)),
        dir, name, gen = -1L)
      for (g <- 0L to 2L)
        LlmOps.absorbInto(spark, name,
          docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8
            && col("doc_id") % 3 === g)
            .select(col("doc_id"), col("text")), gen = g)
      // what a RETRIED batch 2 re-reads: generations < 2
      val before = asOf2()
      assert(before._1.nonEmpty && before._2.nonEmpty)
      // the in-loop pass at batch 2 folds gens {0, 1} but never gen 2 —
      // the replay-determinism half of the contract
      val rep = LlmOps.compactIndexTiered(spark, name, currentGen = 2L, foldAll = false)
        .getOrElse(fail("two small gens below the cut must fold"))
      assert(rep.foldedGens == Seq(0L, 1L) && !rep.foldedGens.contains(2L))
      assert(asOf2() == before,
        "a replayed batch must re-read a row-identical as-of view across the compaction")
      // and gen 2's own rows stayed OUT of the view both times: the full
      // index is strictly larger than the as-of cut
      val full = LlmOps.loadBucketedIndex(spark, name)
        .digests.collect().map(_.getString(0)).toSet
      assert(before._1.subsetOf(full) && (full -- before._1).nonEmpty,
        "gen 2's own absorbed rows must exist outside the as-of view")
    } finally {
      LlmOps.dropBucketedIndex(spark, name)
    }
  }

  test("compactIndexTiered: base partition byte-untouched, folded dirs gone, probe-invisible") {
    val docs = engine.Tables.documents(spark, sf)
    val dir = tempDir("graft_tidx")
    val name = "graft_spec_tidx"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def baseStatus(table: String): Seq[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table/gen=-1"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq.sorted
    try {
      LlmOps.saveBucketedIndex(spark,
        LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 6)),
        dir, name, gen = -1L)
      for (g <- 0L to 2L)
        LlmOps.absorbInto(spark, name,
          docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8
            && col("doc_id") % 3 === g)
            .select(col("doc_id"), col("text")), gen = g)
      val batch = LlmOps.deltaBatch(docs)
      val before = LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name), batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val baseBefore = Seq("digests", "buckets").map(baseStatus)

      val rep = LlmOps.compactIndexTiered(spark, name, currentGen = 3L, foldAll = false)
        .getOrElse(fail("three small gens against a big base must fold"))
      assert(rep.foldedGens == Seq(0L, 1L, 2L) && rep.targetGen == -5L)

      // the base generation's files: same names, lengths, mtimes — the
      // pass never opened them for writing
      assert(Seq("digests", "buckets").map(baseStatus) == baseBefore,
        "base partition must be byte-untouched by tiered compaction")
      // folded partition dirs are gone from disk and catalog
      Seq("digests", "buckets").foreach { t =>
        for (g <- 0L to 2L)
          assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$t/gen=$g")),
            s"$t gen=$g must be deleted after the fold")
      }
      // probe answers unchanged — compaction is semantically invisible
      val after = LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name), batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(after == before, "tiered compaction must be probe-invisible")
      // a second pass right away finds one small gen (the fold output)
      // against the base — nothing left worth folding
      assert(LlmOps.compactIndexTiered(spark, name, currentGen = 3L, foldAll = false).isEmpty,
        "re-running the pass immediately must be a no-op")

      // the live-generation backstop: pile up gens past MaxLiveGens and
      // the pass majors — folds EVERYTHING, bounded listing in every
      // ingest regime (size-tiering alone can strand graduated tiers
      // when batches are large relative to the base)
      for (g <- 10L to 14L)
        LlmOps.absorbInto(spark, name,
          docs.filter(col("doc_id") % 10 >= 8 &&
              expr("(doc_id DIV 10) % 5") === (g - 10L))
            .select(col("doc_id"), col("text")), gen = g)
      val major = LlmOps.compactIndexTiered(spark, name, currentGen = 15L, foldAll = false)
        .getOrElse(fail("over-cap generation count must trigger the major fold"))
      assert(major.keptGens.isEmpty,
        s"major compaction must fold every candidate, kept ${major.keptGens}")
      val liveGens = spark.table(s"${name}_digests")
        .select(col("gen")).distinct().collect().map(_.getLong(0)).toSet
      assert(liveGens == Set(major.targetGen),
        s"after the major fold exactly one generation lives, got $liveGens")
      val afterMajor = LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name), batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // the probe CHANGED vs `before` (5 more gens were absorbed) — pin
      // against a fresh-built index over the same accumulated corpus
      val freshIdx = LlmOps.buildCorpusIndex(
        docs.filter(col("doc_id") % 10 < 8)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 10 >= 8)
            .select(col("doc_id"), col("text"))))
      val fresh = LlmOps.probeDelta(freshIdx, batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(afterMajor == fresh,
        "major compaction must be probe-equal to a fresh index over the same corpus")
    } finally {
      LlmOps.dropBucketedIndex(spark, name)
    }
  }
}
