package graft

import org.apache.spark.sql.functions._
import graft.engine.{GenTables, LlmOps, Tables}

/** The maintained lexical (BM25) index lifecycle — the last index family
  * that was still rebuilt per query (VERDICT r12 "what's missing" #2).
  * Contracts pinned here: the docs fence makes a re-absorbed batch a
  * no-op; the merged index's top-k equals the from-scratch rebuild
  * bit-for-bit (the oracle also replays this on the differential); and a
  * tiered fold over the three tables preserves every answer while
  * collapsing the generation layout — including the identical-(term, df)
  * collision the tdf `src` column exists to survive. */
class Bm25IndexSpec extends SparkSpec {

  private val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
    TestSession.spark.sessionState.newHadoopConf())

  private def gensOf(dir: String, table: String): Set[Long] =
    hfs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toLong).toSet

  test("re-absorb is a no-op; merged top-k == rebuild; tiered fold preserves answers") {
    val docs = Tables.documents(spark, sf)
    // 80/10/10: the two batch generations must each sit at or below HALF
    // the base generation's bytes, or the size-tiered rule (correctly)
    // declines to fold them
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val b1 = docs.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("text"))
    val dir = tempDir("graft_bm25ix")
    val name = "graft_spec_bm25"
    try {
      LlmOps.saveBm25Index(spark, corpus, dir, name)
      LlmOps.absorbIntoBm25(spark, name, b1, gen = 1L)
      LlmOps.absorbIntoBm25(spark, name, b2, gen = 2L)

      def counts(): Seq[Long] = Seq("bm_docs", "bm_postings", "bm_tdf")
        .map(t => spark.table(s"${name}_$t").count())
      val before = counts()

      // the fence: re-absorbing an already-ingested batch appends nothing
      LlmOps.absorbIntoBm25(spark, name, b1, gen = 3L)
      assert(counts() == before,
        s"re-absorb must be a no-op: $before -> ${counts()}")

      val topk = LlmOps.bm25TopkFromIndex(spark, name)
      val merged = topk.collect().map(_.toSeq).toSeq
      val rebuilt = LlmOps.qBm25Topk(spark, sf).collect().map(_.toSeq).toSeq
      assert(merged == rebuilt,
        "merged-index top-k must equal the from-scratch rebuild bit-for-bit")

      // the scale property the term-bucketed layout buys: the postings
      // scan is bucket-PRUNED to the query vocabulary's buckets at plan
      // time (at 8 spec buckets the prune is shallow; at production
      // bucket counts it is the difference between O(vocab) and O(index))
      val plan = topk.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning on the postings scan:\n${plan.take(4000)}")

      // maintenance: one tiered pass folds the small generations of all
      // three tables; answers must be byte-identical after
      val folded = GenTables.compactTieredTables(spark, name,
        LlmOps.bm25IndexTables, currentGen = 4L)
        .getOrElse(fail("the tiered pass must fold the small generations"))
      assert(folded.foldedGens.size >= 2, s"unexpected fold: $folded")
      Seq("bm_docs", "bm_postings", "bm_tdf").foreach { t =>
        assert(gensOf(dir, t).contains(folded.targetGen) ||
          !gensOf(dir, t).exists(folded.foldedGens.contains),
          s"$t: fold gens still live after compaction: ${gensOf(dir, t)}")
      }
      val after = LlmOps.bm25TopkFromIndex(spark, name)
        .collect().map(_.toSeq).toSeq
      assert(after == rebuilt,
        "the tiered fold must not change a single answer")
    } finally {
      LlmOps.dropBm25Index(spark, name)
    }
  }

  test("the tdf src column survives an identical-(term, df) collision across gens") {
    import spark.implicits._
    // two small batch generations engineered so the term "apple" lands
    // the SAME df (= 2) in both — without src, the fold's distinct()
    // would collapse the two tdf rows and halve the merged df. A bulky
    // filler corpus keeps the base generation above the fold threshold so
    // the tiered rule folds exactly the two colliding gens.
    val corpus = ((1L to 40L).map(i => (i, s"filler$i pad pad pad pad")) ++
      Seq((41L, "apple zebra"), (42L, "apple zebra"))).toDF("doc_id", "text")
    val batch1 = Seq((101L, "apple plum"), (102L, "apple plum")).toDF("doc_id", "text")
    val batch2 = Seq((201L, "apple grape"), (202L, "apple grape")).toDF("doc_id", "text")
    val dir = tempDir("graft_bm25col")
    val name = "graft_spec_bm25col"
    try {
      LlmOps.saveBm25Index(spark, corpus, dir, name)
      LlmOps.absorbIntoBm25(spark, name, batch1, gen = 1L)
      LlmOps.absorbIntoBm25(spark, name, batch2, gen = 2L)
      def mergedDf(): Map[String, Long] = spark.table(s"${name}_bm_tdf")
        .filter(col("term").isin("apple", "plum", "grape"))
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val before = mergedDf()
      assert(before == Map("apple" -> 6L, "plum" -> 2L, "grape" -> 2L), s"$before")
      val folded = GenTables.compactTieredTables(spark, name, LlmOps.bm25IndexTables,
        currentGen = 3L)
        .getOrElse(fail("the pass must fold the two batch generations"))
      assert(folded.foldedGens == Seq(1L, 2L), s"unexpected fold: $folded")
      assert(mergedDf() == before,
        s"fold collapsed colliding tdf rows: $before -> ${mergedDf()}")
    } finally {
      LlmOps.dropBm25Index(spark, name)
    }
  }
}
