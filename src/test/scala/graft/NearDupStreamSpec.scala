package graft

import org.apache.spark.sql.functions._
import graft.engine.Streaming

/** Streaming near-dup detection: banded SimHash buckets as keyed
  * ListState — planted near-duplicates arriving in LATER micro-batches
  * must be flagged against the earlier doc; unrelated docs must not. */
class NearDupStreamSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  test("near-dup arriving in a later micro-batch is flagged against the stored doc") {
    import spark.implicits._
    val saved = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch 1: base corpus; batch 2: one near-dup (single-token edit,
      // hamming-close simhash) + one unrelated doc
      val base = Seq.tabulate(60)(i => s"word$i").mkString(" ")
      val others = (0 until 10).map(i =>
        (10L + i, Seq.tabulate(40)(j => s"tok${i}_$j").mkString(" ")))
      val b1 = (Seq((1L, base)) ++ others).toDF("doc_id", "text")
      val b2 = Seq(
        (100L, base.replace("word30", "changed")), // near-dup of doc 1
        (101L, Seq.tabulate(50)(j => s"fresh_$j").mkString(" "))
      ).toDF("doc_id", "text")
      val dir = tempDir("graft_nd")
      b1.coalesce(1).write.parquet(s"$dir/f1")
      b2.coalesce(1).write.parquet(s"$dir/f2")
      val flat = tempDir("graft_nd_flat")
      var idx = 0
      for (sub <- Seq("f1", "f2"); f <- new java.io.File(s"$dir/$sub").listFiles()
           if f.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Paths.get(f"$flat/part_$idx%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        // FileStreamSource orders micro-batches by mtime — same-ms copies
        // tie and can replay out of order; pin explicit distinct mtimes
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + idx * 60000L))
        idx += 1
      }
      val stream = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(flat)
      val out = Streaming.nearDupStream(stream).toDF()
      val hits = Streaming.drainToMemory(out, "update", "near-dup stream")(
          _.select(col("doc_id"), col("dup_of")).distinct())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((100L, 1L)),
        s"near-dup 100 must be flagged against stored doc 1; got $hits")
      assert(!hits.exists(h => h._1 == 101L || h._2 == 101L),
        s"unrelated doc 101 must not be flagged; got $hits")
    } finally saved match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("redelivered doc_id is a state no-op: output identical with and without the replay") {
    import spark.implicits._
    val saved = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // at-least-once sources redeliver: replaying the near-dup batch must
      // neither re-emit its hits nor grow the bucket state (the processor
      // membership-checks doc_id before appending)
      val base = Seq.tabulate(60)(i => s"word$i").mkString(" ")
      val b1 = Seq((1L, base)).toDF("doc_id", "text")
      val dup = Seq((100L, base.replace("word30", "changed"))).toDF("doc_id", "text")
      def run(name: String, batches: Seq[org.apache.spark.sql.DataFrame]): Seq[(Long, Long, Int)] = {
        val flat = tempDir(name)
        batches.zipWithIndex.foreach { case (b, i) =>
          val tmp = tempDir(s"${name}_w")
          b.coalesce(1).write.mode("overwrite").parquet(tmp)
          val src = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = java.nio.file.Paths.get(f"$flat/part_$i%02d.parquet")
          java.nio.file.Files.copy(src.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
        }
        val stream = spark.readStream.schema(b1.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat)
        Streaming.drainToMemory(Streaming.nearDupStream(stream).toDF(),
          "update", name)(identity).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
      }
      val without = run("nd_noreplay", Seq(b1, dup))
      val withReplay = run("nd_replay", Seq(b1, dup, dup))
      assert(without.exists(h => h._1 == 100L && h._2 == 1L),
        s"near-dup must be flagged once: $without")
      assert(withReplay == without,
        s"replay changed the output: $withReplay vs $without")
      // an UPDATED doc (same id, new content ⇒ new simhash) is NOT a
      // replay: doc 100 v2 rewritten into a near-dup of doc 1's text must
      // be checked and flagged — the guard keys on (doc_id, simhash)
      val v2 = Seq((100L, base.replace("word31", "altered")))
        .toDF("doc_id", "text")
      val withUpdate = run("nd_update", Seq(b1, dup, v2))
      assert(withUpdate.count(h => h._1 == 100L && h._2 == 1L) >
             without.count(h => h._1 == 100L && h._2 == 1L),
        s"updated doc 100 must produce new hits: $withUpdate")
    } finally saved match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }
}
