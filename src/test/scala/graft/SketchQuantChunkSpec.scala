package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{NumExprs, Sketches, VectorExprs}

/** KMV distinct sketch, int8 quantization, and document chunking. */
class SketchQuantChunkSpec extends SparkSpec {

  test("KMV aggregator == exact k-smallest-distinct-hash window formulation") {
    import spark.implicits._
    // keys with heavy duplication across 3 groups, including singleton and
    // below-k groups
    val rows = (0 until 5000).map(i => (s"g${i % 3}", (i % 700).toLong)) ++
      Seq(("tiny", 1L), ("tiny", 1L), ("tiny", 2L))
    val df = rows.toDF("grp", "key")
      .select(col("grp"),
        shiftrightunsigned(NumExprs.xorshiftMix(col("key")), 1).as("uh"))

    val kmv = udaf(new Sketches.KmvAggregator(64))
    val got = df.groupBy(col("grp")).agg(kmv(col("uh")).as("kmin"))
      .select(col("grp"), explode(col("kmin")).as("uh"))

    val w = Window.partitionBy(col("grp")).orderBy(col("uh"))
    val expected = df.distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 64)
      .select(col("grp"), col("uh"))

    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "aggregator buffer must equal the exact 64 smallest distinct hashes")
    // below-k group: buffer is the full distinct hash set
    val tiny = got.filter(col("grp") === "tiny").count()
    assert(tiny == 2, s"tiny group should keep its 2 distinct hashes, got $tiny")
  }

  test("KMV estimate is within the sketch's error envelope on the events table") {
    val out = Sketches.qAggKmv(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("est_distinct")
      // k=64 → σ ≈ 12.7%; 4σ envelope keeps the test deterministic-safe
      assert(math.abs(est - exact) / exact < 0.51,
        s"${r.getAs[String]("event_type")}: est $est vs exact $exact")
    }
  }

  test("quantize_u8: exact codes on a known vector, constant-vector zero path") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 1.0f, 2.0f, 4.0f)),   // lo=0 hi=4 → codes 0,64,128,255 (63.75→64 rounds up)
      (2L, Seq(3.5f, 3.5f, 3.5f))          // constant → all zero
    ).toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).as("qz"))
      .select(col("vec_id"), col("qz.lo"), col("qz.hi"), col("qz.q")).collect()
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getDouble(1) == 0.0 && r1.getDouble(2) == 4.0)
    assert(r1.getSeq[Int](3) == Seq(0, 64, 128, 255),
      s"got ${r1.getSeq[Int](3)}")
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.getDouble(1) == 3.5 && r2.getDouble(2) == 3.5)
    assert(r2.getSeq[Int](3) == Seq(0, 0, 0))
  }

  test("quantize_u8: degenerate vectors (empty, null/NaN element) yield NULL, not garbage") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq[Option[Float]](Some(1.0f), Some(2.0f)))),
      (2L, Some(Seq[Option[Float]]())),                     // empty
      (3L, Some(Seq[Option[Float]](Some(1.0f), None))),     // null element
      (4L, Some(Seq[Option[Float]](Some(1.0f), Some(Float.NaN)))) // NaN
    ).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).as("qz"))
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true), s"got $got")
  }

  test("nearest-centroid k-loops reject empty and mismatched centroid sets") {
    // an empty set used to assign cid 0 to every row
    for ((cids, n) <- Seq((Seq.empty[Int], 0), (Seq(0, 1), 1), (Seq(0), 2))) {
      val cents = Seq.fill(n)(Seq(1.0f, 0.0f))
      intercept[IllegalArgumentException] {
        VectorExprs.nearestCentroidCos(col("embedding"), cids, cents)
      }
      intercept[IllegalArgumentException] {
        VectorExprs.nearestCentroidSq(col("qv"), cids.map(_.toLong),
          cents.map(_.map(_.toInt)))
      }
    }
    // a well-formed set still assigns
    val one = spark.range(1).select(array(lit(1.0f), lit(0.0f)).as("embedding"))
      .select(VectorExprs.nearestCentroidCos(col("embedding"), Seq(7),
        Seq(Seq(1.0f, 0.0f))).getField("cid")).head().getInt(0)
    assert(one == 7)
  }

  test("quantize_u8 on the corpus: codes in [0,255], dequant error bounded") {
    val qz = graft.engine.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"),
        VectorExprs.quantizeU8(col("embedding")).as("qz"))
    val bad = qz.select(explode(col("qz.q")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count()
    assert(bad == 0, s"$bad codes out of [0,255]")
    // reconstruction error ≤ half a quantization step
    val err = qz.select(max(expr(
      """aggregate(zip_with(v, qz.q, (x, c) ->
        |  abs(x - (qz.lo + CAST(c AS DOUBLE) * (qz.hi - qz.lo) / 255.0))),
        |0.0D, (a, e) -> greatest(a, e))""".stripMargin)).as("e"))
      .head().getDouble(0)
    val maxStep = qz.select(max((col("qz.hi") - col("qz.lo")) / 255.0)).head().getDouble(0)
    assert(err <= maxStep * 0.5000001, s"max dequant error $err > half-step ${maxStep / 2}")
  }

  test("quantized IVF: ranked output is sane and fully integer-deterministic") {
    val out = graft.engine.Quantize.qSimIvfQuant(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // per query: ranks are 1..k, distances non-decreasing, no self-matches
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val ds = sorted.map(_.getAs[Long]("sqdist")).toSeq
      assert(ds == ds.sorted, s"qid $qid distances not monotone: $ds")
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == qid))
    }
    // determinism: a second run yields the identical result set
    val again = graft.engine.Quantize.qSimIvfQuant(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("q_ivf_absorb: frozen-quantizer absorb is observable and query-complete") {
    import org.apache.spark.sql.functions._
    val out = graft.engine.Quantize.qIvfAbsorb(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // absorbed-generation vectors must be REACHABLE as neighbors — an
    // absorb that silently dropped the batch postings would still produce
    // well-formed output from the corpus generation alone
    assert(rows.exists(_.getAs[Long]("neighbor_id") % 10 >= 8),
      "no batch-generation (vec_id % 10 >= 8) neighbor anywhere in the " +
      "output — the assign-only absorb lost the batch postings")
    // queries span both generations (vec_id < 10 includes 8 and 9), and
    // every query must answer
    val qids = rows.map(_.getAs[Long]("qid")).toSet
    assert(qids.exists(_ % 10 >= 8), "batch-generation queries missing")
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == qid))
    }
  }

  test("q_ivf_gc: takedown vectors never returned; retained answers match the filtered absorb") {
    val rows = graft.engine.Quantize.qIvfGc(spark, sf).collect()
    assert(rows.nonEmpty)
    // under-delete witness: no forgotten vector may appear as a neighbor
    assert(!rows.exists(_.getAs[Long]("neighbor_id") % 30 == 0),
      "a takedown vector survived GC as a neighbor")
    // over-delete witness: result == absorb output with forgotten
    // neighbors filtered and ranks recomputed (per-vector-independent
    // assignment means GC must change NOTHING else)
    val absorb = graft.engine.Quantize.qIvfAbsorb(spark, sf).collect()
      .filter(_.getAs[Long]("neighbor_id") % 30 != 0)
      .groupBy(_.getAs[Long]("qid")).toSeq
      .flatMap { case (qid, rs) =>
        rs.sortBy(r => (r.getAs[Long]("sqdist"), r.getAs[Long]("neighbor_id")))
          .take(3).zipWithIndex.map { case (r, i) =>
            (qid, r.getAs[Long]("neighbor_id"), r.getAs[Long]("sqdist"), i + 1L) }
      }.toSet
    // absorb emits top-3 pre-filter, so a qid with >0 forgotten neighbors
    // in its top-3 has <3 survivors here — compare only the shared prefix
    val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"),
      r.getAs[Long]("sqdist"), r.getAs[Long]("rank"))).toSet
    assert(absorb.subsetOf(got),
      s"retained prefix diverged: missing ${absorb.diff(got).take(3)}")
  }

  test("q_ivf_serve: bucketed storage + pruning are invisible — output == q_ivf_absorb") {
    val serve = graft.engine.Quantize.qIvfServe(spark, sf).collect().map(_.toString).sorted.toSeq
    val absorb = graft.engine.Quantize.qIvfAbsorb(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(serve == absorb, "serving table changed an answer")
  }

  test("servePruned: the literal cell filter prunes unprobed buckets at plan time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val posting = (0L until 64L).map(i => (i % 8, i, Array.fill(4)((i % 100).toInt)))
      .toDF("cid", "vec_id", "qv")
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_spec").toString
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pruned = graft.engine.Quantize.servePruned(
        spark, posting, Seq(1L, 3L), dir, "graft_serve_spec_t")
      assert(pruned.count() == 16, "filter must keep exactly cells 1 and 3")
      val scan = pruned.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(scan)
      assert(m.isDefined, s"no bucket pruning in plan:\n$scan")
      val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
      assert(tot == 8 && sel <= 2,
        s"expected <=2 of 8 buckets read, got $sel of $tot")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS graft_serve_spec_t")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("embeddings corpus holds the qSimIvfQuant oracle precondition: no degenerate vectors") {
    import org.apache.spark.sql.functions._
    // qSimIvfQuantSql does NOT mirror QuantizeU8's degenerate→NULL rule
    // (NULL codes through two Lloyd rounds diverge on NULL-ordering
    // conventions) — it relies on this corpus invariant instead
    val bad = graft.engine.Tables.embeddings(spark, sf)
      .filter(col("embedding").isNull || size(col("embedding")) === 0 ||
        exists(col("embedding"), x => x.isNull || isnan(x)))
      .count()
    assert(bad == 0, s"$bad degenerate embedding vectors break the IVF oracle")
  }

  test("chunking: boundaries, overlap, and edge cases") {
    import spark.implicits._
    def toks(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, ""),          // empty → no chunks
      (2L, "solo"),      // 1 token → 1 chunk
      (3L, toks(48)),    // exactly one stride → 1 chunk (starts 0 only)
      (4L, toks(49)),    // one past stride → 2 chunks, second has 1 token
      (5L, toks(150))    // starts 0,48,96,144 → 4 chunks: 64,64,54,6
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    docs.write.mode("overwrite").parquet("/tmp/graft_chunk_docs/documents.parquet")
    // the other tables aren't read by qChunkDocs; point at the planted dir
    val out = graft.engine.Curation.qChunkDocs(spark, "/tmp/graft_chunk_docs")
      .select(col("doc_id"), col("chunk_id"), col("start_token"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val expected = Seq(
      (2L, 0L, 0L, 1L),
      (3L, 0L, 0L, 48L),
      (4L, 0L, 0L, 49L), (4L, 1L, 48L, 1L),
      (5L, 0L, 0L, 64L), (5L, 1L, 48L, 64L), (5L, 2L, 96L, 54L), (5L, 3L, 144L, 6L))
    assert(out.toSeq == expected, s"got ${out.mkString(";")}")
  }

  test("chunk text content: overlap region repeats, concatenation covers the doc") {
    import spark.implicits._
    val text = (0 until 100).map(i => s"w$i").mkString(" ")
    Seq((7L, text)).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet("/tmp/graft_chunk_one/documents.parquet")
    val chunks = graft.engine.Curation.qChunkDocs(spark, "/tmp/graft_chunk_one")
      .orderBy(col("chunk_id")).select(col("chunk_text")).as[String].collect()
    assert(chunks.length == 3) // starts 0, 48, 96
    val c0 = chunks(0).split(" "); val c1 = chunks(1).split(" ")
    assert(c0.length == 64 && c1.length == 52)
    // 16-token overlap: chunk1 starts at token 48, chunk0 ends at 63
    assert(c0.drop(48).toSeq == c1.take(16).toSeq)
    assert(chunks(2).split(" ").head == "w96")
  }

  test("q_ann_recall: metric arithmetic exact; hits recomputed independently") {
    val out = graft.engine.Quantize.qAnnRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 10 && out.map(_._1).toSeq == (0L to 9L))
    // recall_bp is exactly hits*10000 div 3, hits within [0, 3]
    assert(out.forall { case (_, h, bp) => h >= 0 && h <= 3 && bp == h * 10000 / 3 })
    // independent recomputation of the intersection: both top-3 sets via
    // collect + Scala set ops (different join path than the query's semi)
    val ivf = graft.engine.Quantize.qSimIvfQuant(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).toSet }
    val q8 = graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        VectorExprs.quantizeU8(col("embedding")).getField("q").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
    val queries = q8.filter(_._1 < 10)
    def d2(a: Array[Int], b: Array[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    val exact = queries.map { case (qid, qq) =>
      qid -> q8.filter(_._1 != qid)
        .map { case (v, qv) => (d2(qq, qv), v) }.sorted.take(3).map(_._2).toSet
    }.toMap
    out.foreach { case (qid, h, _) =>
      assert(h == (exact(qid) intersect ivf.getOrElse(qid, Set.empty)).size,
        s"hits mismatch for query $qid")
    }
  }

  test("q_ivf_curve: anchors to q_ann_recall at nprobe=2, exhaustive at 16, monotone") {
    val curve = graft.engine.Quantize.qIvfCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    val nq = curve.head._2
    assert(curve.forall(_._2 == nq) && nq == 10)
    // nprobe = NProbe (2) must reproduce q_ann_recall's total hits — the
    // curve and the scalar metric are the same measurement
    val annHits = graft.engine.Quantize.qAnnRecall(spark, sf).collect()
      .map(_.getLong(1)).sum
    val r2 = curve.find(_._1 == 2).get
    assert(r2._3 == annHits, s"nprobe=2 hits ${r2._3} != q_ann_recall total $annHits")
    // nprobe = NCells is exhaustive search: recall must be exactly 10000
    val r16 = curve.find(_._1 == 16).get
    assert(r16._4 == 10000L, s"exhaustive recall_bp ${r16._4} != 10000")
    // hits and scan cost are monotone non-decreasing in nprobe; recall_bp
    // arithmetic holds on every row
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3 && a._5 <= b._5, s"non-monotone: $a -> $b") }
    curve.foreach { case (_, n, h, bp, _) =>
      assert(bp == h * 10000 / (n * 3)) }
  }

  test("ivf tune: picks the cheapest qualifying nprobe off its own curve") {
    val curve = graft.engine.Quantize.qIvfCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(3), r.getLong(4))) // (nprobe, recall_bp, cand_scanned)
    val pick = graft.engine.Quantize.qIvfTune(spark, sf).collect()
    assert(pick.length == 1)
    val (nprobe, recall, scanned, met) =
      (pick.head.getInt(0), pick.head.getLong(3), pick.head.getLong(4),
        pick.head.getLong(5))
    assert(curve.contains((nprobe, recall, scanned)), s"pick $nprobe not on the curve")
    val t = graft.engine.Quantize.IvfRecallTargetBp
    // the exhaustive row guarantees a qualifying config exists
    assert(met == 1L && recall >= t,
      s"tune must qualify (exhaustive row is 10000 bp), got recall=$recall")
    val qualifying = curve.filter(_._2 >= t)
    assert(!qualifying.exists(q => q._3 < scanned ||
      (q._3 == scanned && q._1 < nprobe)),
      s"a cheaper qualifying nprobe exists: $qualifying vs picked ($nprobe, $scanned)")
  }
}
