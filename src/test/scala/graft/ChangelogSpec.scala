package graft

import org.apache.spark.sql.functions._

import graft.sources.PagedEntitySource

/** Upsert-changelog mode (`update_every=k`): the reference's true stream
  * shape — re-modified entities re-appear in later windows with later
  * timestamps (ChargeOverSourceTask.java:431-432) and consumers keep the
  * latest by key. Pins the closed-form position→record mapping, stream ==
  * batch over the changelog, latest-wins compaction, cross-window update
  * placement, and the id-pushdown gate (id is no longer the position). */
class ChangelogSpec extends SparkSpec {

  private val N = 4000L
  private val K = 4

  private def batchDf = spark.read.format("graft.sources.PagedEntitySource")
    .option("rows", N.toString).option("pageSize", "500")
    .option("updatesEveryN", K.toString)
    .load()

  test("closed-form mapping: counts, versions, and ts ordering") {
    val rows = batchDf.select(col("id"), col("ts_us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == N)
    // positions ≡ K-1 (mod K) are updates: N/K of them; the rest are new ids
    val newCount = N - N / K
    assert(rows.map(_._1).distinct.length == newCount)
    // replay the mapping independently
    rows.zipWithIndex.foreach { case ((id, ts, v), i) =>
      val p = i.toLong // collect order == position order (single scan, ordered pages)
      val expectId = PagedEntitySource.recordId(p, K)
      val ver = PagedEntitySource.recordVer(p, K)
      assert(id == expectId && ts == PagedEntitySource.tsOf(p))
      assert(v == ((id * 7919 + ver * 1000003L) % 100000) / 100.0)
      if (ver == 1) assert(id < p - p / K, "updates must target an earlier id")
    }
  }

  test("stream == batch over the changelog; updates land in later windows than their originals") {
    val ckpt = tempDir("graft_cl_ck")
    graft.engine.Streaming.drain(spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", N.toString).option("pageSize", "500")
      .option("windowRows", "1000")
      .option("updatesEveryN", K.toString)
      .load()
      .writeStream.format("memory").queryName("changelog_stream")
      .outputMode("append").option("checkpointLocation", ckpt), "changelog stream")
    val got = spark.table("changelog_stream")
      .orderBy(col("ts_us")).collect().map(_.toSeq).toSeq
    val batch = batchDf.orderBy(col("ts_us")).collect().map(_.toSeq).toSeq
    assert(got == batch, "changelog stream must equal the batch changelog")

    // an update at position p targets id(p) first emitted at an earlier
    // position; for p >= 2·windowRows the original lies in a STRICTLY
    // earlier window — the §2a re-appearance quirk
    val windowOf = (p: Long) => p / 1000L
    var crossWindow = 0
    for (p <- 0L until N; if PagedEntitySource.recordVer(p, K) == 1) {
      val id = PagedEntitySource.recordId(p, K)
      // the original position of id: the p' with newIdx(p') == id, i.e.
      // smallest p' >= id with p' - p'/K == id
      val orig = Iterator.from(id.toInt).map(_.toLong)
        .find(q => q % K != K - 1 && q - q / K == id).get
      assert(orig < p)
      if (windowOf(orig) < windowOf(p)) crossWindow += 1
    }
    assert(crossWindow > N.toInt / K / 2,
      s"most updates should cross windows, got $crossWindow of ${N / K}")
  }

  test("dedup-latest compaction keeps exactly the newest version per id") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("ts_us").desc)
    val compacted = batchDf
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // replay: latest position per id wins
    val lastPos = (0L until N).groupBy(p => PagedEntitySource.recordId(p, K))
      .view.mapValues(_.max).toMap
    assert(compacted.size == lastPos.size)
    lastPos.foreach { case (id, p) =>
      val ver = PagedEntitySource.recordVer(p, K)
      assert(compacted(id) == ((id * 7919 + ver * 1000003L) % 100000) / 100.0,
        s"id $id must carry the version from its latest position $p")
    }
    // and updated ids really do differ from their original values
    val updated = (0L until N).filter(p => PagedEntitySource.recordVer(p, K) == 1)
      .map(p => PagedEntitySource.recordId(p, K))
    assert(updated.forall(id =>
      lastPos(id) % K == K - 1 && compacted(id) != ((id * 7919) % 100000) / 100.0))
  }

  test("ts pushdown still narrows the page plan; id pushdown is declined") {
    // ts is linear in position in both modes: a ts window must prune pages
    val tsNarrow = batchDf
      .filter(col("ts_us") >= PagedEntitySource.tsOf(1000) &&
              col("ts_us") < PagedEntitySource.tsOf(2000))
    assert(tsNarrow.rdd.getNumPartitions == 2, // 1000 positions / 500-page
      s"ts filter must prune pages, got ${tsNarrow.rdd.getNumPartitions} partitions")
    // id is NOT the position: an id predicate must stay a residual — the
    // scan keeps all pages and Spark filters, so every version survives
    val idFiltered = batchDf.filter(col("id") < 10)
    assert(idFiltered.rdd.getNumPartitions == (N / 500).toInt,
      "id filter must not narrow the page plan in changelog mode")
    val expect = (0L until N)
      .filter(p => PagedEntitySource.recordId(p, K) < 10)
      .map(p => (PagedEntitySource.recordId(p, K), PagedEntitySource.tsOf(p)))
    val got = idFiltered.select(col("id"), col("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == expect.sorted)
    // plain mode still pushes id ranges (unchanged behavior)
    val plain = spark.read.format("graft.sources.PagedEntitySource")
      .option("rows", N.toString).option("pageSize", "500").load()
      .filter(col("id") >= 1000 && col("id") < 2000)
    assert(plain.rdd.getNumPartitions == 2)
  }

  test("update_every validates and composes per entity") {
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.PagedEntitySource")
        .option("updatesEveryN", "1").load().collect()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.PagedEntitySource")
        .option("entities", "a").option("a.params", "update_every=-2")
        .load().collect()
    }
    // per-entity override: `a` is a changelog, `b` stays id-dense
    val df = spark.read.format("graft.sources.PagedEntitySource")
      .option("entities", "a,b").option("a.rows", "400").option("b.rows", "300")
      .option("a.params", "update_every=2").option("pageSize", "500")
      .load()
    val a = df.filter(col("_entity_type") === "a").select(col("id"))
      .collect().map(_.getLong(0))
    val b = df.filter(col("_entity_type") === "b").select(col("id"))
      .collect().map(_.getLong(0))
    assert(a.length == 400 && a.distinct.length == 200) // k=2: half are updates
    assert(b.sorted.toSeq == (0L until 300L))
  }
}
