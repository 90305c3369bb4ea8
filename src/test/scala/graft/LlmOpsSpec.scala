package graft

import org.apache.spark.sql.functions._
import graft.engine.LlmOps

/** MinHash-LSH recall on synthetic near-duplicates + cosine sanity. */
class LlmOpsSpec extends SparkSpec {

  test("minhash LSH surfaces a planted near-duplicate pair") {
    import spark.implicits._
    // 60 distinct tokens, one edited → shingle Jaccard ≈ 0.93, which the
    // 4x4 LSH bands detect with p ≈ 0.996 (a marginal ~0.6 pair is a coin
    // flip by design — b bands of r rows fire with 1-(1-j^r)^b)
    val base = Seq.tabulate(60)(i => s"word$i").mkString(" ")
    val nearDup = base.replace("word30", "changed")
    val others = (0 until 20).map(i =>
      s"completely different document number $i with words " +
        Seq.fill(40)(s"tok${i}_${scala.util.Random.nextInt(5)}").mkString(" "))
    val docs = (Seq((0L, base), (1L, nearDup)) ++
      others.zipWithIndex.map { case (t, i) => ((i + 2).toLong, t) })
      .toDF("doc_id", "text")
    val pairs = LlmOps.minhashCandidatePairs(docs)._1
      .filter(col("jaccard") > 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      s"expected (0,1) pair, got ${pairs.mkString(",")}")
  }

  test("minhash bucket cap bounds membership BEFORE aggregation, deterministically") {
    import spark.implicits._
    val text = Seq.tabulate(40)(j => s"tok$j").mkString(" ")
    val docs = (0L until 5L).map(i => (i, text)).toDF("doc_id", "text")
    // identical docs share every band bucket: full run emits all C(5,2) pairs
    val (full, fullCapped) = LlmOps.minhashCandidatePairs(docs)
    assert(full.count() == 10 && fullCapped == 0L)
    // cap=2 keeps the 2 smallest doc_ids per bucket → exactly the (0,1) pair;
    // a degenerate bucket degrades to cap² work instead of n²
    val (capped, nCapped) = LlmOps.minhashCandidatePairs(docs, cap = 2)
    val kept = capped.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(kept == Set((0L, 1L)), s"got $kept")
    // all four band buckets hold the five docs, so all four overflow cap=2
    assert(nCapped == 4L, s"capped buckets: $nCapped")
  }

  test("explodeSortedPairs emits every i < j pair, or each list's lex-first k") {
    import spark.implicits._
    // disjoint member ranges, so the pair multiset names its list; 14 and
    // 15 members straddle k = 100 (C(14,2) = 91, C(15,2) = 105)
    val lists = Seq(0, 1, 2, 14, 15, 101).zipWithIndex.map { case (n, l) =>
      Seq.tabulate(n)(i => l * 1000L + i)
    }
    def reference(k: Int): Seq[(Long, Long)] = lists.flatMap { m =>
      (for (i <- m.indices; j <- m.indices if i < j) yield (m(i), m(j))).take(k)
    }.sorted
    val grouped = lists.toDF("m")
    for (k <- Seq(None, Some(100))) {
      val got = LlmOps.explodeSortedPairs(grouped, "m", k)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == reference(k.getOrElse(Int.MaxValue)), s"firstK=$k")
    }
  }

  test("minhash does not pair unrelated documents above threshold") {
    import spark.implicits._
    val docs = (0 until 10).map(i =>
      (i.toLong, Seq.tabulate(50)(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")
    val pairs = LlmOps.minhashCandidatePairs(docs)._1.filter(col("jaccard") > 0.5)
    assert(pairs.count() == 0)
  }

  test("dedup groups: transitive chain a~b~c collapses to one component, one keeper") {
    import spark.implicits._
    val base = Seq.tabulate(80)(i => s"tok$i").mkString(" ")
    val b = base.replace("tok10", "x")        // a~b close
    val c = b.replace("tok70", "y")           // b~c close, a~c less so
    val others = (0 until 10).map(i => ((i + 3).toLong,
      Seq.tabulate(60)(j => s"u${i}v$j").mkString(" ")))
    val docs = (Seq((0L, base), (1L, b), (2L, c)) ++ others).toDF("doc_id", "text")
    val out = LlmOps.dedupGroups(docs, 0.7).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L)._1 == out(1L)._1 && out(1L)._1 == out(2L)._1,
      "chain must share one component (transitive closure)")
    assert(out(0L)._2 && !out(1L)._2 && !out(2L)._2, "min doc_id is the keeper")
    assert(out(5L)._2, "singletons keep themselves")
  }

  test("connectedComponents handles multi-hop chains and isolated nodes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val comp = LlmOps.connectedComponents(edges, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(comp).distinct == Seq(1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(12L) == 12L)
  }

  test("cosine top-k: rank 1 neighbor has the highest similarity, self excluded") {
    val topk = LlmOps.qSimTopk(spark, sf)
    val rows = topk.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self must be excluded")
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.forall { case (_, rs) => rs.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L) })
  }

  test("k-means training improves (or holds) mean best-centroid similarity") {
    val vecs = graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val init = graft.engine.KMeans.train(vecs, 8, 0)
    val trained = graft.engine.KMeans.train(vecs, 8, 2)
    val s0 = graft.engine.KMeans.meanBestSim(vecs, init)
    val s2 = graft.engine.KMeans.meanBestSim(vecs, trained)
    assert(s2 >= s0 - 1e-9, s"training must not degrade quantization: $s0 -> $s2")
    assert(trained.count() == 8)
    // centroids keep the embedding dimensionality
    assert(trained.select(size(col("ce"))).collect().forall(_.getInt(0) == 64))
  }

  test("simhash of identical docs is identical; one-token edit stays hamming-close") {
    import spark.implicits._
    val a = Seq.tabulate(60)(i => s"word$i").mkString(" ")
    val b = a.replace("word30", "other")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val out = graft.engine.LlmOps.qDedupSimhash(spark, sf) // smoke the declared one
    assert(out.columns.contains("simhash"))
    val toks = filter(split(lower(col("text")), " "), t => t =!= lit(""))
    val hashes = docs.select(col("doc_id"),
        graft.engine.TextExprs.simhash64(toks).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    val ham = java.lang.Long.bitCount(hashes(1L) ^ hashes(3L))
    assert(ham <= 16, s"hamming distance $ham too large for a near-dup")
  }

  test("native ShingleHashes expression is bit-identical to a plain-Scala fold") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("text"))
      // short-text fallback paths: 0, 1, 2, 3 tokens
      .unionByName(Seq("", "one", "two words", "three word text").toDF("text"))
    val toks = filter(split(lower(col("text")), " "), t => t =!= lit(""))
    val rows = docs.select(col("text"),
      graft.engine.TextExprs.shingleHashes(toks).as("native")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = shingleModel(r.getString(0)).toSeq
      assert(r.getSeq[Long](1) == expect,
        s"shingle hashes mismatch on: ${r.getString(0).take(60)}")
    }
  }

  test("native SimHash64 expression is bit-identical to a plain-Scala model") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val both = docs.select(col("text"),
      graft.engine.TextExprs.simhash64(
        filter(split(lower(col("text")), " "), t => t =!= lit(""))).as("native"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == simhashModel(r.getString(0)),
        s"simhash mismatch on: ${r.getString(0).take(60)}")
    }
    // and it must actually run inside whole-stage codegen
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected a codegen stage:\n${plan.take(600)}")
  }

  test("dedup-first ngram-jaccard equals the naive all-postings top-100 on a dup-heavy corpus") {
    import spark.implicits._
    // 3 exact-dup clusters (sizes 30/20/2), one near-dup pair across
    // clusters, and unique noise docs — the workload where the naive
    // formulation goes quadratic and the cluster algebra must not drift
    val a = Seq.tabulate(40)(i => s"alpha$i").mkString(" ")
    val b = a.replace("alpha7", "beta7") // near-dup of a
    val c = Seq.tabulate(40)(i => s"gamma$i").mkString(" ")
    val noise = (0 until 15).map(i =>
      (1000L + i, s"s${i % 2}", Seq.tabulate(35)(j => s"n${i}_$j").mkString(" ")))
    val rows = (0 until 30).map(i => (i.toLong, "s0", a)) ++
      (100 until 120).map(i => (i.toLong, "s0", b)) ++
      Seq((200L, "s0", c), (201L, "s0", c)) ++
      (300 until 305).map(i => (i.toLong, "s1", c)) ++ noise
    val docs = rows.toDF("doc_id", "source", "text")
    val fast = graft.engine.LlmOps.ngramJaccardTop100(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val naive = graft.engine.LlmOps.sparseJaccardPairs(docs)._1
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fast == naive, s"first diff: ${fast.zip(naive).find(p => p._1 != p._2)}")
    assert(fast.length == 100)
  }

  test("binding posting cap on declared-exact queries fails fast instead of silently truncating") {
    import spark.implicits._
    // six DISTINCT docs all sharing the shingle "x y z": with cap=3 the
    // posting list for that shingle overflows, shared-shingle counts
    // would under-count, and both exact queries must raise — not return
    // wrong rows with only a log line standing in the way
    val docs = (0 until 6).map(i => (i.toLong, "s0", s"x y z w$i"))
      .toDF("doc_id", "source", "text")
    val e1 = intercept[IllegalStateException] {
      graft.engine.LlmOps.dedupGroups(docs, 0.1, cap = 3)
    }
    assert(e1.getMessage.contains("q_dedup_groups") && e1.getMessage.contains("cap=3"))
    assert(e1.getMessage.contains(" 1 posting list(s)"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      graft.engine.LlmOps.ngramJaccardTop100(docs, cap = 3)
    }
    assert(e2.getMessage.contains("q_ngram_jaccard"))
    // the sparse caller counts exactly the lists longer than its cap: only
    // "x y z" (6 docs) is longer than 3, and no list is longer than 6
    Seq(3 -> 1L, 6 -> 0L).foreach { case (cap, lists) =>
      val (pairs, capped) = graft.engine.LlmOps.sparseJaccardPairs(docs, cap)
      pairs.count()
      assert(capped() == lists, s"cap=$cap")
    }
    // no shared shingle: the pair stage is empty, AQE prunes the observed
    // subtree, and the count still reads 0
    val apart = Seq((0L, "s0", "a b c"), (1L, "s0", "d e f"))
      .toDF("doc_id", "source", "text")
    val (none, noneCapped) = graft.engine.LlmOps.sparseJaccardPairs(apart)
    assert(none.count() == 0 && noneCapped() == 0L)
    // the same corpus under an adequate cap runs to completion
    assert(graft.engine.LlmOps.dedupGroups(docs, 0.1).count() == 6)
    assert(graft.engine.LlmOps.ngramJaccardTop100(docs).count() > 0)
  }

  test("sparse jaccard spawns no per-call warner threads, even when the plan never runs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // the regression being guarded: a detached thread parked forever in
    // Observation.get for every call whose plan never ran. Stack-based
    // detection is deterministic where Thread.activeCount deltas are not
    // (Spark spawns unrelated pool threads at will).
    def parkedInObservation: Int = Thread.getAllStackTraces.asScala.count {
      case (_, st) => st.exists(_.getClassName.contains("sql.Observation"))
    }
    val docs = Seq((1L, "s", "a b c d"), (2L, "s", "a b c e"))
      .toDF("doc_id", "source", "text")
    (0 until 8).foreach(_ => graft.engine.LlmOps.sparseJaccardPairs(docs))
    assert(parkedInObservation == 0,
      "threads parked in Observation after 8 unmaterialized calls")
  }

  test("bm25 top-k ranks are contiguous, scores non-increasing, hits contain a query term") {
    val out = graft.engine.LlmOps.qBm25Topk(spark, sf).collect()
    assert(out.nonEmpty)
    val terms = Map(
      1L -> Set("hash", "join"), 2L -> Set("agg", "stream", "window"),
      3L -> Set("scan", "vector"), 4L -> Set("fast", "query", "spark"))
    val text = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1L to byRank.length).toSeq,
        s"query $qid ranks not contiguous")
      val scores = byRank.map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse, s"query $qid scores not descending")
      byRank.foreach { r =>
        val toks = text(r.getLong(1)).toLowerCase.split(" ").toSet
        assert(terms(qid).exists(toks.contains),
          s"query $qid rank ${r.getLong(3)} doc has no query term")
      }
    }
  }

  test("native MinHashBands keys match the plain-Scala model through the declared query") {
    val out = graft.engine.LlmOps.qDedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    assert(out.size == docs.length * graft.engine.MinHashBands.Bands)
    docs.foreach { r =>
      val keys = minhashBandsModel(shingleModel(r.getString(1)))
      keys.zipWithIndex.foreach { case (k, b) =>
        assert(out((r.getLong(0), b)) == k,
          s"band $b key mismatch for doc ${r.getLong(0)}")
      }
    }
  }

  test("TokenCounts scan equals the regex/split formulation") {
    import spark.implicits._
    // real corpus + adversarial edges: multibyte runs, digits glued to
    // letters, leading/trailing/multiple spaces, empty, punctuation runs
    val edges = Seq("", " ", "  a  ", "abc123def", "¡héllo, wörld! 世界123",
      "a!b?c", "...", "1 22 333", "ÁÉÍ", "tab\tnl\nmix 7x", "ζζ zz 99")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val docs = engine.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(edges.select(col("doc_id"), col("text")))
    val cmp = docs
      .withColumn("_tc", engine.TextExprs.tokenCounts(lower(col("text"))))
      .select(
        size(filter(split(lower(col("text")), " "), t => t =!= lit("")))
          .cast("long").as("ws_ref"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast("long").as("sub_ref"),
        (length(lower(col("text"))) -
          length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")))
          .cast("long").as("alnum_ref"),
        col("_tc").getField("ws").as("ws"),
        col("_tc").getField("sub").as("sub"),
        col("_tc").getField("alnum").as("alnum"))
      .filter(col("ws") =!= col("ws_ref") || col("sub") =!= col("sub_ref") ||
        col("alnum") =!= col("alnum_ref"))
    assert(cmp.count() == 0, cmp.collect().take(5).mkString("; "))
  }

  test("Tokens expression is element-exact to the filter(split(lower)) HOF chain") {
    // the codegen'd tokenizer replaced the interpreted HOF chain on every
    // text pipeline's first projection — any divergence (empty handling,
    // consecutive/leading/trailing spaces, lowercase behavior) moves the
    // shingle sets and with them every dedup/LSH/BM25 oracle
    val docs = engine.Tables.documents(spark, sf)
    val hof = filter(split(lower(col("text")), " "), t => t =!= lit(""))
    val diverged = docs
      .select(engine.TextExprs.tokensOf(col("text")).as("native"), hof.as("ref"))
      .filter(not(col("native") <=> col("ref")))
    assert(diverged.count() == 0,
      diverged.collect().take(3).mkString("; "))
    // edge cases the corpus may not cover: empty, all-space, leading/
    // trailing/consecutive spaces, null
    import spark.implicits._
    val edges = Seq("", " ", "   ", " a", "a ", "a  b", "  A Bc  D ",
      null.asInstanceOf[String]).toDF("text")
    val edgeDiverged = edges
      .select(engine.TextExprs.tokensOf(col("text")).as("native"),
        filter(split(lower(col("text")), " "), t => t =!= lit("")).as("ref"))
      .filter(not(col("native") <=> col("ref")))
    assert(edgeDiverged.count() == 0,
      edgeDiverged.collect().mkString("; "))
  }

  test("RollingFingerprint is bit-identical to a plain-Scala reference fold") {
    val docs = engine.Tables.documents(spark, sf)
    val toks = filter(split(lower(col("text")), " "), t => t =!= lit(""))
    def fnv(tok: String): Long = {
      var h = engine.RollingFingerprint.FnvBasis
      tok.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xFFL)) * engine.RollingFingerprint.FnvPrime)
      h
    }
    val rows = docs.select(col("text"),
      engine.TextExprs.rollingFingerprint(toks).as("native")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = r.getString(0).toLowerCase.split(" ").filter(_.nonEmpty)
        .foldLeft(0L)((acc, t) => java.lang.Long.rotateLeft(acc, 5) ^ fnv(t))
      assert(r.getLong(1) == expect, s"fingerprint mismatch on: ${r.getString(0).take(60)}")
    }
    // empty token array folds to the zero seed
    import spark.implicits._
    val empty = Seq("").toDF("text")
      .select(engine.TextExprs.rollingFingerprint(
        filter(split(col("text"), " "), t => t =!= lit(""))))
      .collect()(0).getLong(0)
    assert(empty == 0L)
  }

  // --- plain-Scala reference models of the FNV hash family ---------------
  // (independent of both the Catalyst expressions and the DuckDB oracles;
  // same tokenization convention as LlmOps.tokens)

  private def fnvModel(tok: String): Long = {
    var h = engine.RollingFingerprint.FnvBasis
    tok.getBytes("UTF-8").foreach(b =>
      h = (h ^ (b & 0xFFL)) * engine.RollingFingerprint.FnvPrime)
    h
  }

  private def tokensModel(text: String): Array[String] =
    text.toLowerCase.split(" ", -1).filter(_.nonEmpty)

  private def shingleModel(text: String): Array[Long] = {
    def mix(a: Long, b: Long): Long =
      (java.lang.Long.rotateLeft(a, 5) ^ b) * engine.RollingFingerprint.FnvPrime
    val th = tokensModel(text).map(fnvModel)
    if (th.length >= 3)
      Array.tabulate(th.length - 2)(i => mix(mix(th(i), th(i + 1)), th(i + 2)))
    else Array(fnvModel(tokensModel(text).mkString(" ")))
  }

  private def simhashModel(text: String): Long = {
    val counts = new Array[Int](64)
    tokensModel(text).map(fnvModel).foreach { h =>
      (0 until 64).foreach(i =>
        counts(i) += (if (((h >>> i) & 1L) != 0L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((acc, i) =>
      if (counts(i) > 0) acc | (1L << i) else acc)
  }

  private def minhashBandsModel(shl: Array[Long]): Array[Long] = {
    val mh = Array.fill(engine.MinHashBands.Seeds)(Long.MaxValue)
    for (h <- shl; j <- 0 until engine.MinHashBands.Seeds) {
      val p = h * engine.MinHashBands.Ks(j) + engine.MinHashBands.Bs(j)
      if (p < mh(j)) mh(j) = p
    }
    Array.tabulate(engine.MinHashBands.Bands) { b =>
      var k = (engine.RollingFingerprint.FnvBasis ^ b.toLong) *
        engine.RollingFingerprint.FnvPrime
      (0 until engine.MinHashBands.Rows).foreach(r =>
        k = (k ^ mh(b * engine.MinHashBands.Rows + r)) *
          engine.RollingFingerprint.FnvPrime)
      k
    }
  }
  test("bpe merges: hand-computed fixture, lexicographic tiebreak, forward-scan application") {
    import spark.implicits._
    // vocab: low x3, lower x2, lowest x1 — the classic BPE walkthrough
    val docs = Seq(
      (1L, "low lower lowest low"),
      (2L, "low lower")
    ).toDF("doc_id", "text")
    val got = engine.LlmOps.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // round 1: (l,o) and (o,w) tie at 6 — lexicographic picks (l,o);
    // then (lo,w) 6, (low,e) 3, (lowe,r) 2
    assert(got == Seq((1, "l", "o", 6L), (2, "lo", "w", 6L),
      (3, "low", "e", 3L), (4, "lowe", "r", 2L)), s"got $got")
  }

  test("bpe merges: overlap counting vs non-overlap application ('aaa' class)") {
    import spark.implicits._
    // 'aaaa': pairs (a,a) counted at every adjacent position (3 per word),
    // but application is left-to-right non-overlapping: aaaa -> [aa, aa]
    val docs = Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text")
    val got = engine.LlmOps.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // round 1: (a,a) = 3+3 = 6; after: aa|aa x2
    // round 2: (aa,aa) = 2; after: aaaa x2 — no pairs left
    assert(got.take(2) == Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)), s"got $got")
    // rounds 3-4 still emit the argmax of whatever pairs remain (none
    // from 'aaaa'; 'b' is single-symbol) — the fixture has exactly 2 rows
    assert(got.length == 2, s"expected the loop to stop emitting, got $got")
  }

  test("bpe merges: no cross-symbol-boundary bleed (the es/st/best fixture)") {
    import spark.implicits._
    // Round 1 merges (e,s); "best" becomes [b, es, t]. Round 2 merges
    // (s,t): an unanchored replace of "s␁t" would match the SUFFIX of the
    // symbol "es" followed by "t" and fabricate the bogus symbol "est"
    // (the round-9 advisor finding); the anchored double-separator
    // encoding must leave [b, es, t] untouched, so rounds 3-4 merge
    // (b,es) then (bes,t).
    val docs = Seq((1L,
      Seq.fill(10)("es").mkString(" ") + " " +
      Seq.fill(8)("st").mkString(" ") + " best")).toDF("doc_id", "text")
    val got = engine.LlmOps.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: (e,s) = 10 + 1 (best) = 11 beats (s,t) = 8 + 1 = 9
    // r2: (s,t) = 8 (st only — best's s is inside the merged "es")
    // r3: best = [b, es, t] -> (b,es) 1 ties (es,t) 1, lexicographic
    // r4: best = [bes, t] -> (bes,t) 1
    assert(got == Seq((1, "e", "s", 11L), (2, "s", "t", 8L),
      (3, "b", "es", 1L), (4, "bes", "t", 1L)), s"got $got")
    // encoding under the learned merges: es x10 (+1 word best -> [best])
    val enc = engine.LlmOps.bpeEncode(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(enc == Seq(("es", 10L), ("st", 8L), ("best", 1L)), s"enc $enc")
  }

  test("bpe merges: adjacent same-pair occurrences both merge ('abab' anchor survival)") {
    import spark.implicits._
    // With leading+trailing single separators consumed whole, the second
    // (a,b) in "abab" would lose its left anchor and stay unmerged; the
    // double-separator encoding must realize [ab, ab].
    val docs = Seq((1L, ("abab " * 5).trim + " c")).toDF("doc_id", "text")
    val got = engine.LlmOps.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: pairs of "abab": (a,b) 2x5=10, (b,a) 5 -> (a,b) wins; abab -> [ab, ab]
    // r2: (ab,ab) = 5; abab -> [abab] — nothing left, loop stops
    assert(got == Seq((1, "a", "b", 10L), (2, "ab", "ab", 5L)), s"got $got")
  }

  test("lsh recall: hits recomputed independently from the band keys") {
    import org.apache.spark.sql.functions._
    val out = engine.LlmOps.qLshRecall(spark, sf).collect()
    assert(out.length == 1)
    val (pairs, hits, bp) = (out(0).getLong(0), out(0).getLong(1), out(0).getLong(2))
    // independent recomputation: ground-truth pairs + per-doc bucket sets
    val top = engine.LlmOps.qNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val buckets = engine.LlmOps.bandKeys(engine.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val expectHits = top.count { case (a, b) =>
      buckets.getOrElse(a, Set.empty).exists(buckets.getOrElse(b, Set.empty))
    }
    assert(pairs == top.length.toLong, s"pairs $pairs != ${top.length}")
    assert(hits == expectHits.toLong, s"hits $hits != $expectHits")
    assert(bp == hits * 10000 / pairs, s"recall_bp $bp arithmetic")
    assert(hits > 0, "fixture should catch at least the identical-text pairs")
  }

  test("minhash bands sweep: 4x4 slice bit-identical to MinHashBands, structure complete") {
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Long](12345L, -987654321L, 42L, 7L, Long.MinValue, Long.MaxValue))
    val sweep = engine.MinHashBandsSweep.compute(arr)
    val base = engine.MinHashBands.compute(arr)
    assert(sweep.numElements() == 31) // 1+2+4+8+16
    val rows = (0 until 31).map(i => sweep.getStruct(i, 3))
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // every config emits band ids 0..bands-1 in order
    Seq(1, 2, 4, 8, 16).foreach { b =>
      assert(rows.filter(_._1 == b).map(_._2) == (0 until b), s"bands=$b ids") }
    // the 4x4 regrouping IS the production banding, bit for bit
    assert(rows.filter(_._1 == 4).map(_._3) ==
      (0 until 4).map(base.getLong), "4x4 slice != MinHashBands")
  }

  test("lsh curve: 4-band row reproduces q_lsh_recall; candidates recomputed from buckets") {
    val curve = engine.LlmOps.qLshCurve(spark, sf).collect()
    assert(curve.length == 5)
    val recall = engine.LlmOps.qLshRecall(spark, sf).collect().head
    val r4 = curve.find(_.getInt(0) == 4).get
    assert(r4.getLong(2) == recall.getLong(0), "pairs mismatch vs q_lsh_recall")
    assert(r4.getLong(3) == recall.getLong(1), "hits mismatch vs q_lsh_recall")
    // candidate count for the production banding, recomputed from the
    // declared q_dedup_minhash bucket sizes
    val expCand = engine.LlmOps.qDedupMinhash(spark, sf)
      .groupBy("band", "band_key").count().collect()
      .map(r => { val n = r.getLong(2); n * (n - 1) / 2 }).sum
    assert(r4.getLong(5) == expCand, s"cand_pairs ${r4.getLong(5)} != $expCand")
  }

  test("lsh tune: picks the cheapest qualifying banding off its own curve, fallback is max recall") {
    val curve = engine.LlmOps.qLshCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(4), r.getLong(5))) // (bands, recall_bp, cand_pairs)
    val pick = engine.LlmOps.qLshTune(spark, sf).collect()
    assert(pick.length == 1)
    val (bands, recall, cand, met) =
      (pick.head.getInt(0), pick.head.getLong(4), pick.head.getLong(5),
        pick.head.getLong(6))
    // the chosen row is ON the curve
    assert(curve.contains((bands, recall, cand)), s"pick $bands not on the curve")
    val t = engine.LlmOps.LshRecallTargetBp
    val qualifying = curve.filter(_._2 >= t)
    if (qualifying.nonEmpty) {
      assert(met == 1L && recall >= t)
      // argmin: no qualifying config is strictly cheaper (or equal-cost
      // with fewer bands)
      assert(!qualifying.exists(q => q._3 < cand ||
        (q._3 == cand && q._1 < bands)),
        s"a cheaper qualifying banding exists: $qualifying vs picked ($bands, $cand)")
    } else {
      assert(met == 0L)
      assert(recall == curve.map(_._2).max, "fallback must be max recall")
    }
  }

  test("dedup keep-best: one keeper per component, and it is the declared-best member") {
    val comp = engine.LlmOps.qDedupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qual = engine.LlmOps.qTextQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(6), r.getLong(2)))).toMap
    val out = engine.LlmOps.qDedupKeepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // same component map as q_dedup_groups, exactly one keeper each
    assert(out.map(t => t._1 -> t._2).toMap == comp, "component map must match q_dedup_groups")
    out.groupBy(_._2).foreach { case (c, members) =>
      val keepers = members.filter(_._3).map(_._1)
      assert(keepers.length == 1, s"component $c: ${keepers.length} keepers")
      // the keeper is max by (passes, n_tokens, -doc_id) — recomputed
      // independently from q_text_quality
      val best = members.map(_._1).maxBy { d =>
        val (p, n) = qual(d); (p, n, -d)
      }
      assert(keepers.head == best, s"component $c: kept ${keepers.head}, best is $best")
    }
    // the decision is OBSERVABLE vs min-id keep: on a fixture where the
    // min-id member fails the gate, keep_best must diverge
    import spark.implicits._
    val boiler = (1 to 40).map(i => s"the tok$i of and").mkString(" ")
    val fx = Seq(
      (1L, "short"),                       // min id, fails the gate
      (2L, s"$boiler extra tail words here"),
      (3L, boiler)
    ).toDF("doc_id", "text")
    // doc 1 is its own component (no shared shingles); docs 2,3 cluster
    val comp2 = engine.LlmOps.dedupGroups(fx, 0.7)
    val got = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("passes").desc, col("n_tokens").desc, col("doc_id").asc)
      comp2.select(col("doc_id"), col("component"))
        .join(engine.LlmOps.textQualityOf(fx), "doc_id")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    assert(got.contains(2L) && !got.contains(3L),
      s"the longer passing member (2) must win its cluster, got $got")
  }

  test("hybrid rrf: fusion replays both channels' ranks; scores recomputed independently") {
    val out = engine.LlmOps.qHybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty && out.map(_._1).distinct.length == 10, "10 query docs")
    // per query: fused ranks are 1..n dense, and the fused ORDER matches
    // an independent RRF recompute from the emitted channel ranks
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to rows.length).toSeq, s"q$qid ranks dense")
      def score(rt: Long, rv: Long): Double =
        (if (rt > 0) 1.0 / (60 + rt) else 0.0) + (if (rv > 0) 1.0 / (60 + rv) else 0.0)
      val rescored = rows.sortBy(t => (-score(t._3, t._4), t._2)).map(_._2).toSeq
      assert(sorted.map(_._2).toSeq == rescored,
        s"q$qid fused order must equal the RRF recompute")
      // a candidate in both channels must outrank one with only the
      // deeper single-channel rank — the point of fusion
      assert(rows.forall(t => t._3 > 0 || t._4 > 0), "every candidate came from a channel")
    }
    // the vector channel's emitted ranks agree with q_sim_topk where
    // depths overlap (same plan, same tiebreaks)
    val topk = engine.LlmOps.qSimTopk(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val fromFusion = out.filter(t => t._4 > 0 && t._4 <= 5)
      .map(t => ((t._1, t._2), t._4)).toMap
    fromFusion.foreach { case (k, rv) =>
      topk.get(k).foreach(rk => assert(rk == rv, s"$k: vec rank $rv != q_sim_topk $rk"))
    }
  }

  test("bpe encode: learned merges applied to the vocab, counts weighted by word frequency") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low lower lowest low"),
      (2L, "low lower")
    ).toDF("doc_id", "text")
    val got = engine.LlmOps.bpeEncode(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // merges: l+o, lo+w, low+e, lowe+r -> low x3, lower x2, lowe|s|t x1
    assert(got == Seq(("low", 3L), ("lower", 2L), ("lowe", 1L),
      ("s", 1L), ("t", 1L)), s"got $got")
  }

  test("bpe doc tokens: counts match an independent list-based left-to-right merge") {
    import org.apache.spark.sql.functions._
    // canonical LTR non-overlapping merge on symbol LISTS — independent
    // of the engine's anchored-replace string encoding
    def applyMerge(syms: List[String], a: String, b: String): List[String] =
      syms match {
        case x :: y :: rest if x == a && y == b => (a + b) :: applyMerge(rest, a, b)
        case x :: rest => x :: applyMerge(rest, a, b)
        case Nil => Nil
      }
    val merges = engine.LlmOps.qBpeMerges(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = engine.LlmOps.qBpeDocTokens(spark, sf)
      .limit(25).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val texts = engine.Tables.documents(spark, sf)
      .filter(col("doc_id").isin(out.keys.toSeq: _*))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts.keySet == out.keySet)
    texts.foreach { case (id, text) =>
      val words = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val expWs = words.length.toLong
      val expBpe = words.map { w =>
        merges.foldLeft(w.map(_.toString).toList) {
          case (syms, (a, b)) => applyMerge(syms, a, b)
        }.length.toLong
      }.sum
      assert(out(id) == ((expWs, expBpe)),
        s"doc $id: got ${out(id)}, expected ($expWs, $expBpe)")
    }
  }

  test("pack bpe: weights equal q_bpe_doc_tokens; greedy packing arithmetic replayed") {
    val pack = engine.LlmOps.qPackBpe(spark, sf).collect()
    val tok = engine.LlmOps.qBpeDocTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pack.length == tok.size)
    pack.foreach { r =>
      assert(r.getLong(2) == tok(r.getLong(0)),
        s"doc ${r.getLong(0)}: pack weight ${r.getLong(2)} != bpe_tokens ${tok(r.getLong(0))}") }
    // the distributed prefix sum replayed sequentially in shuffle order
    var cum = 0L
    pack.sortBy(r => (r.getString(1), r.getLong(0))).foreach { r =>
      assert(r.getLong(3) == cum / 2048 && r.getLong(4) == cum % 2048,
        s"doc ${r.getLong(0)}: seq ${r.getLong(3)}/${r.getLong(4)} vs cum $cum")
      cum += r.getLong(2)
    }
  }

  test("bpe precondition: no corpus token contains the U+0001 symbol separator") {
    import org.apache.spark.sql.functions._
    val bad = engine.Tables.documents(spark, sf)
      .filter(col("text").contains(engine.LlmOps.BpeSep)).count()
    assert(bad == 0, s"$bad documents contain U+0001 — symbol encoding unsound")
  }

}
