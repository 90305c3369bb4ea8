package graft

import org.apache.spark.sql.functions._
import graft.engine.{Envelope, Multimodal}

class EnvelopeSpec extends SparkSpec {

  test("keyed drops null-id records and stringifies the key (R7)") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(3L)).toDF("id")
    val out = Envelope.keyed(df, "id")
    assert(out.count() == 2)
    assert(out.select(col("key")).collect().map(_.getString(0)).toSet == Set("1", "3"))
  }

  test("enrich + route adds the three metadata fields and the topic (R8/R9)") {
    import spark.implicits._
    val df = Seq(1L).toDF("id")
    val out = Envelope.routed(
      Envelope.enriched(df, "customer", "INITIAL_LOAD", 1730476800000L), "chargeover")
    val r = out.collect()(0)
    assert(r.getAs[String]("_entity_type") == "customer")
    assert(r.getAs[Long]("_ingestion_timestamp") == 1730476800000L)
    assert(r.getAs[String]("_load_mode") == "INITIAL_LOAD")
    assert(r.getAs[String]("topic") == "chargeover.customer")
  }

  test("flagship composition yields enveloped rows (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    val cols = df.columns.toSet
    assert(Set("key", "_entity_type", "_ingestion_timestamp", "_load_mode", "topic").subsetOf(cols))
  }

  test("multimodal decode stub: n_bytes equals payload byte length") {
    val out = Multimodal.qMultimodalMeta(spark, sf)
    val bad = out.join(
      graft.engine.Tables.documents(spark, sf),
      Seq("doc_id"))
      .filter(col("n_bytes") =!= length(col("text")).cast("long"))
    assert(bad.count() == 0)
  }

  test("encoder batching: fixed batch shape, per-row result batch-invariant") {
    import graft.engine.Multimodal.{encodeBatches, MediaRecord}
    val rows = (0L until 70L).map(i =>
      MediaRecord(i, "img", s"payload text $i".getBytes("UTF-8")))
    // batch shape: grouped(32) over 70 rows → batches of 32, 32, 6
    val sizes = rows.iterator.grouped(32).map(_.size).toSeq
    assert(sizes == Seq(32, 32, 6))
    // per-row embeddings must not depend on where batch boundaries fall
    val b32 = encodeBatches(rows.iterator, 32).toSeq
    val b7 = encodeBatches(rows.iterator, 7).toSeq
    assert(b32 == b7, "embedding must be batch-size-invariant per row")
    assert(b32.forall(e => math.abs(e.embedding.sum - 1.0f) < 1e-4),
      "histogram embedding must be L1-normalized")
  }

  test("embed: empty payload emits one zero-histogram row, not zero rows") {
    import graft.engine.Multimodal.{encodeBatches, MediaRecord}
    val rows = Seq(MediaRecord(1L, "img", Array.emptyByteArray),
      MediaRecord(2L, "img", "abc".getBytes("UTF-8")))
    val out = encodeBatches(rows.iterator, 32).toSeq
    assert(out.length == 2)
    val e = out.find(_.doc_id == 1L).get
    assert(e.n_bytes == 0L && e.embedding.forall(_ == 0f))
  }

  test("embed e2e: empty document survives the rendered query (oracle LEFT JOIN convention)") {
    import spark.implicits._
    val dir = tempDir("graft_mm")
    Seq((1L, ""), (2L, "hello world")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.qMultimodalEmbed(spark, dir).orderBy(col("doc_id")).collect()
    assert(out.length == 2, "empty doc must not be dropped")
    val empty = out(0)
    assert(empty.getLong(empty.fieldIndex("n_bytes")) == 0L)
    assert(empty.getString(empty.fieldIndex("histogram")) == "0,0,0,0,0,0,0,0")
  }

  test("frame hash: engine fold equals the oracle's unsigned byte algebra on non-ASCII payloads") {
    import spark.implicits._
    val dir = tempDir("graft_mmf")
    // multi-byte UTF-8 throughout: 2-byte (ü), 3-byte (— / 漢), 4-byte (🎬)
    // chars land >= 0x80 payload bytes at varied frame offsets
    val texts = Seq(
      (1L, "héllo wörld — ünïcode płayload ß¢€ 漢字テスト"),
      (2L, "ASCII only control row for signed/unsigned parity"),
      (3L, "züm 🎬 emoji ünd ü bytes über àll ôffsets wrapped " * 3))
    texts.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = Multimodal.qMultimodalFrames(spark, dir).collect()
    assert(out.nonEmpty)
    // the oracle's HUGEINT algebra replayed bit-exactly: unsigned bytes,
    // rotl5 as (acc*32 mod 2^64) + acc/2^59, signed back at the end
    val M = BigInt(1) << 64
    val byId = texts.toMap
    out.foreach { r =>
      val id = r.getLong(0); val idx = r.getLong(1)
      val off = r.getLong(2); val got = r.getLong(3)
      val bytes = byId(id).getBytes("UTF-8")
      val n = bytes.length.toLong
      val frames = 1L + id % 8L
      assert(off == (if (frames == 1L) 0L else idx * (n / frames)))
      val end = math.min(n, off + 16).toInt
      var acc = BigInt(1125899906842597L)
      var j = off.toInt
      while (j < end) {
        acc = ((acc * 32).mod(M) + acc / (BigInt(1) << 59)) ^ BigInt(bytes(j) & 0xFF)
        j += 1
      }
      val signed = if (acc >= (BigInt(1) << 63)) acc - M else acc
      assert(signed.toLong == got, s"doc $id frame $idx: engine/oracle fold diverged")
    }
  }

  test("resize stub: target dims fit the 224 box and preserve aspect ordering") {
    val out = Multimodal.qMultimodalResize(spark, sf)
    val bad = out.filter(
      col("target_w") > 224 || col("target_h") > 224 ||
      (col("width") >= col("height")) =!= (col("target_w") >= col("target_h")))
    assert(out.count() > 0 && bad.count() == 0)
  }
}
