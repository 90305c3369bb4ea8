package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.engine.{LlmOps, Memo, Quantize, Tables}

/** The session memo serves an entry only while the files it was computed
  * from are unchanged, and `Memo.evict(owner)` makes exactly the owner's
  * next build pay the compute. */
class MemoSpec extends SparkSpec {

  /** Jobs `f` runs, counted by a RunListener. */
  private def jobs(f: => Any): Int = {
    val rl = new RunListener
    spark.sparkContext.addSparkListener(rl)
    try { f; rl.quiesce(); rl.jobs.size }
    finally spark.sparkContext.removeSparkListener(rl)
  }

  test("a table rewritten at its path is loaded with its new schema") {
    import spark.implicits._
    val dir = tempDir("graft_memo")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 3)).toDF("id", "s", "n")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "s", "n"))
    assert(again.select(col("n")).as[Int].collect().toSeq == Seq(3))
  }

  test("q_span_dedup on a rewritten documents table is not served stale") {
    val dir = tempDir("graft_memo")
    val docs = s"$dir/documents.parquet"
    Files.copy(Paths.get(s"$sf/documents.parquet"), Paths.get(docs))
    def top20() = LlmOps.qSpanDedup(spark, dir).collect().map(_.toString).toSeq
    val before = top20()
    // every document twice: every span's n_docs doubles
    val orig = spark.read.parquet(docs)
    orig.unionByName(orig.withColumn("doc_id", col("doc_id") + 1000000L))
      .write.parquet(s"$dir/next.parquet")
    Files.delete(Paths.get(docs))
    Files.move(Paths.get(s"$dir/next.parquet"), Paths.get(docs))
    val after = top20()
    assert(after != before, "the memo served the pre-rewrite top-20")
    Memo.evict("q_span_dedup")
    assert(after == top20(), "the recomputed top-20 differs from a cold one")
  }

  test("evict(owner) recomputes the owner's entry; its consumer reads warm") {
    val dedup = SparkEntry.queries("q_span_dedup")
    val scrub = SparkEntry.queries("q_span_scrub")
    dedup(spark, sf)
    val ownerWarm = jobs(dedup(spark, sf))
    Memo.evict("q_span_dedup")
    val ownerCold = jobs(dedup(spark, sf))
    assert(ownerCold > ownerWarm,
      s"evicted owner build ran $ownerCold jobs, warm $ownerWarm")
    val scrubWarm = jobs(scrub(spark, sf))
    // the consumer owns nothing: evicting by its name keeps the entry
    Memo.evict("q_span_scrub")
    assert(jobs(scrub(spark, sf)) == scrubWarm)
    Memo.evict("q_span_dedup")
    assert(jobs(scrub(spark, sf)) > scrubWarm,
      "the consumer's build after eviction must pay the compute")
  }

  test("every memo owner is a declared query") {
    LlmOps.qSpanDedup(spark, sf)
    LlmOps.qBpeMerges(spark, sf)
    Quantize.qSimIvfQuant(spark, sf)
    Quantize.qIvfAbsorb(spark, sf)
    val owners = Memo.owners
    assert(owners.size == 4, s"expected the four result memos' owners, got $owners")
    assert(owners.subsetOf(SparkEntry.queries.keySet),
      s"owners that are not declared queries: ${owners -- SparkEntry.queries.keySet}")
  }
}
