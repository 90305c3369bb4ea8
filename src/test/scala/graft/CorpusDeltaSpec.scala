package graft

import org.apache.spark.sql.functions._
import graft.engine.LlmOps

/** Incremental (cross-snapshot) dedup + span scrub: the branches the
  * sf0.01 driver gate cannot exercise (the synthetic corpus has zero
  * exact duplicates across the %10 split at that scale) pinned on
  * hand-built fixtures — exact-before-near precedence, band-bucket
  * ground truth for the near test, and token-exact scrub reconstruction
  * including overlapping span occurrences. */
class CorpusDeltaSpec extends SparkSpec {

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("corpusDelta: exact_dup wins over near_dup; near matches the band buckets") {
    import spark.implicits._
    val boiler = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, boiler),
      (2L, s"$boiler extra trailing words"),
      (3L, "totally different unrelated corpus content over here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, boiler),                 // identical text: exact AND near — exact must win
      (102L, s"$boiler changed"),     // high-overlap: near iff a band bucket collides
      (103L, "zebra quokka xylophone never seen before anywhere at all")
    ).toDF("doc_id", "text")
    val got = LlmOps.corpusDelta(corpus, batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(101L) == "exact_dup", s"precedence: got ${got(101L)}")
    // the DECLARED near test is LSH band-bucket collision, not jaccard —
    // assert against the actual buckets, not against hope
    val corpusBuckets = LlmOps.bandKeys(corpus)
      .select(col("band"), col("band_key")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    def expected(id: Long): String = {
      val b = LlmOps.bandKeys(batch.filter(col("doc_id") === id))
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
      if (b.exists(corpusBuckets)) "near_dup" else "new"
    }
    assert(got(102L) == expected(102L), s"102: got ${got(102L)}")
    assert(got(103L) == expected(103L), s"103: got ${got(103L)}")
    assert(got.keySet == Set(101L, 102L, 103L), "one row per batch doc")
  }

  test("q_stream_delta == q_corpus_delta: per-batch index probe loses nothing") {
    val batch = LlmOps.qCorpusDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val stream = graft.engine.Streaming.qStreamDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(stream == batch,
      s"stream/batch divergence: ${stream.diff(batch).take(5)} vs ${batch.diff(stream).take(5)}")
  }

  test("absorb invariant: classify after absorb == classify against the union index") {
    import spark.implicits._
    val boiler = (1 to 40).map(i => s"base$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"gen$i").mkString(" ")
    val corpus = Seq((1L, boiler), (2L, "plain corpus prose nothing shared"))
      .toDF("doc_id", "text")
    val batch1 = Seq((11L, fresh), (12L, s"$fresh with a twist"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (21L, fresh),                       // batch1-only content, re-sent
      (22L, boiler),                      // corpus content, re-sent
      (23L, s"$fresh slightly changed"),  // near batch1 iff buckets collide
      (24L, "never seen anywhere content entirely novel")
    ).toDF("doc_id", "text")
    val absorbed = LlmOps.absorb(LlmOps.buildCorpusIndex(corpus), batch1)
    val viaAbsorb = LlmOps.probeDelta(absorbed, batch2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val viaUnion = LlmOps.probeDelta(
      LlmOps.buildCorpusIndex(corpus.unionByName(batch1)), batch2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(viaAbsorb == viaUnion, "absorb(index, b1) must be probe-equal to index(C ∪ b1)")
    // the absorb is OBSERVABLE: batch1-only content is exact_dup only
    // because generation 1 happened — the un-absorbed index calls it new
    val got = viaAbsorb.toMap
    assert(got(21L) == "exact_dup" && got(22L) == "exact_dup")
    val unabsorbed = LlmOps.probeDelta(LlmOps.buildCorpusIndex(corpus), batch2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(unabsorbed(21L) == "new",
      s"without absorb, batch1-only content must read new, got ${unabsorbed(21L)}")
    assert(unabsorbed(22L) == "exact_dup")
  }

  test("bucketed index: absorbInto == DataFrame absorb; probe reads the index exchange-free") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 < 6)
    val batch1 = docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8)
      .select(col("doc_id"), col("text"))
    val dir = tempDir("graft_bidx")
    val name = "graft_spec_bidx"
    try {
      LlmOps.saveBucketedIndex(spark, LlmOps.buildCorpusIndex(corpus), dir, name)
      LlmOps.absorbInto(spark, name, batch1)
      val onDisk = LlmOps.loadBucketedIndex(spark, name)
      val inMem = LlmOps.absorb(LlmOps.buildCorpusIndex(corpus), batch1)
      assert(onDisk.digests.collect().map(_.getString(0)).toSet ==
        inMem.digests.collect().map(_.getString(0)).toSet)
      assert(onDisk.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
        inMem.buckets.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
      // the scale contract: the probe semi-join must NOT reshuffle the
      // index side — its bucketBy layout satisfies the join distribution,
      // so the only exchange in the plan is the probe side's
      val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val probe = docs.filter(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), sha2(col("text"), 256).as("dg"))
          .join(onDisk.digests, Seq("dg"), "left_semi")
        val smjs = probe.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }
        assert(smjs.nonEmpty, "expected SMJ with broadcast off")
        val idxSide = smjs.head.right
        assert(idxSide.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"index side must not reshuffle:\n$idxSide")
        assert(idxSide.toString.contains("Bucketed: true"),
          s"index side must scan the bucketed table:\n$idxSide")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
        spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      }
    } finally {
      LlmOps.dropBucketedIndex(spark, name)
    }
  }

  test("bloom probe: row-for-row equal to the exact probe; pruning filter in the plan") {
    val exact = LlmOps.qCorpusDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val bloomed = LlmOps.qCorpusBloom(spark, sf)
    val got = bloomed.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == exact, "the bloom prefilter must be semantically invisible")
    assert(bloomed.queryExecution.executedPlan.toString
      .contains("bloom_might_contain"),
      "the digest probe must carry the bloom pruning filter")
  }

  test("q_stream_absorb: late re-sent docs are exact_dup ONLY via the per-batch absorb") {
    val out = graft.engine.Streaming.qStreamAbsorb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // ResendLate copies (doc_id >= 2e8) duplicate file-0 batch docs whose
    // text exists nowhere in the corpus — exact_dup proves file 0 was
    // absorbed before file 3 classified
    val late = out.filter(_._1 >= LlmOps.ResendLate)
    assert(late.nonEmpty, "fixture must stage late re-sent docs")
    assert(late.forall(_._2 == "exact_dup"),
      s"late re-sends must read exact_dup via the absorb loop, got ${late.take(5).toSeq}")
    // and the un-absorbed classifier (standing corpus only) calls the
    // SAME docs near/new — the loop is observable, not vacuously true
    val docs = graft.engine.Tables.documents(spark, sf)
    val probe = LlmOps.probeDelta(
      LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 8)),
      LlmOps.streamAbsorbBatch(docs)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 >= LlmOps.ResendLate)
    assert(probe.exists(_._2 != "exact_dup"),
      "every late re-send is already a corpus dup — fixture can't witness the absorb")
  }

  test("compaction: collapses generations and small files, probe-invisible") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val dir = tempDir("graft_cidx")
    val name = "graft_spec_cidx"
    // recursive: table data now lives under per-generation partition dirs
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(d))
    }
    try {
      LlmOps.saveBucketedIndex(spark,
        LlmOps.buildCorpusIndex(docs.filter(col("doc_id") % 10 < 6)),
        s"$dir/g", name, gen = 0L)
      LlmOps.absorbInto(spark, name,
        docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8)
          .select(col("doc_id"), col("text")), gen = 1L)
      val batch = LlmOps.deltaBatch(docs)
      val before = LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name), batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val filesBefore = parquetFiles(s"$dir/g/digests")
      val rep = LlmOps.compactIndexTiered(spark, name, currentGen = 2L, foldAll = true)
        .getOrElse(fail("the fold-all pass must fold gens 0 and 1"))
      val after = LlmOps.probeDelta(LlmOps.loadBucketedIndex(spark, name), batch)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(after == before, "compaction must be probe-invisible")
      // the small-files problem is actually fixed: the absorb left >1
      // file in at least one bucket; the folded table is one file per
      // bucket, its source generations' files gone
      val filesAfter = parquetFiles(s"$dir/g/digests")
      assert(filesBefore > 8, s"fixture must show multi-file buckets, got $filesBefore")
      assert(filesAfter <= 8, s"compacted table must be one file per bucket, got $filesAfter")
      // and the generation column collapsed onto the fold target
      val gens = spark.table(s"${name}_digests").select(col("gen")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(rep.targetGen == -4L && gens == Set(-4L),
        s"compacted index must be single-generation, got $gens")
    } finally {
      LlmOps.dropBucketedIndex(spark, name)
    }
  }

  test("q_corpus_delta at the sf0.01 gate exercises all three statuses") {
    val statuses = LlmOps.qCorpusDelta(spark, "/root/testdata/sf0.01")
      .groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("exact_dup", "near_dup", "new").subsetOf(statuses.keySet),
      s"driver-gate fixture must be three-status-complete, got $statuses")
  }

  test("spanScrub: exact token removal, empty/overlapping/untouched docs") {
    import spark.implicits._
    val span = "a b c d e f g h"
    val docs = Seq(
      (1L, s"x $span y"),                 // 10 tokens, middle 8 removed
      (2L, s"$span $span"),               // two disjoint occurrences: all 16 removed
      (3L, "no boilerplate here at all friends"), // untouched
      (4L, "a a a a a a a a a")           // 9 tokens, OVERLAPPING matches of
    ).toDF("doc_id", "text")              // "a a a a a a a a" cover all 9
    val got = LlmOps.spanScrub(docs, Seq(span, "a a a a a a a a"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((10L, 8L, sha256Hex("x y"))))
    assert(got(2L) == ((16L, 16L, sha256Hex(""))))
    assert(got(3L) == ((6L, 0L, sha256Hex("no boilerplate here at all friends"))))
    assert(got(4L) == ((9L, 9L, sha256Hex(""))))
  }
}
