package graft.engine

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact distributed top-k frequent items in two bounded passes — the
  * canonical heavy-hitters shape for a corpus that does not fit one
  * machine.
  *
  * A naive exact top-k tokens is `explode → groupBy(token) → count →
  * orderBy limit k`: ONE shuffle carrying the ENTIRE token multiset
  * (at 100 TB, the shuffle is the corpus). This operator instead runs:
  *
  *  - PASS 1 — a Misra–Gries summary (Misra & Gries 1982; merge rule from
  *    Agarwal et al., "Mergeable Summaries", PODS '12) as a typed
  *    `Aggregator`: O(m) counters per partial, combined map-side, so the
  *    shuffle carries ≤ m (token, count) pairs per map task and the driver
  *    receives ONE m-bounded row. The summary guarantees every token with
  *    true count > maxErr survives, where maxErr ≤ n/(m+1) is tracked
  *    EXACTLY (total decrement weight), not bounded after the fact.
  *  - PASS 2 — exact recount of only the ≤ m surviving candidates
  *    (broadcast membership filter pushed into the scan), then top-k by
  *    (count desc, token asc).
  *
  * Exactness is PROVEN at runtime, not assumed: any token absent from the
  * summary has true count ≤ maxErr, so if the k-th recounted candidate
  * exceeds maxErr the top-k is provably the global exact top-k — and if it
  * does not (adversarially flat distribution vs too-small m), the query
  * FAILS FAST like the other exact-semantics operators (LlmOps
  * requireUncapped) instead of returning a silently unverifiable answer.
  *
  * Reference scope: the reference engine has no frequency operator — this
  * is part of the beyond-reference LLM-pipeline surface (vocabulary
  * pruning, boilerplate detection, stop-token mining).
  */
object HeavyHitters {

  /** Misra–Gries buffer: parallel arrays sorted by key (binary-search
    * membership), plus the exact total decrement weight. Product-encodable.
    */
  final case class MgBuf(keys: Array[String], counts: Array[Long], maxErr: Long)

  final class MgAggregator(m: Int) extends Aggregator[String, MgBuf, MgBuf] {

    override def zero: MgBuf = MgBuf(Array.empty, Array.empty, 0L)

    /** Fast paths mutate in place: present → counts(i) += 1 (the
      * steady-state op on a skewed stream); absent with room → O(size)
      * insert; absent and full → the MG decrement round (all counters −1,
      * zeros evicted, newcomer NOT inserted), which is what bounds the
      * state at m forever. */
    override def reduce(b: MgBuf, tok: String): MgBuf = {
      val i = java.util.Arrays.binarySearch(b.keys.asInstanceOf[Array[AnyRef]],
        tok, StringOrd)
      if (i >= 0) { b.counts(i) += 1; b }
      else if (b.keys.length < m) {
        val at = -i - 1
        val ks = new Array[String](b.keys.length + 1)
        val cs = new Array[Long](b.counts.length + 1)
        System.arraycopy(b.keys, 0, ks, 0, at)
        System.arraycopy(b.counts, 0, cs, 0, at)
        ks(at) = tok; cs(at) = 1L
        System.arraycopy(b.keys, at, ks, at + 1, b.keys.length - at)
        System.arraycopy(b.counts, at, cs, at + 1, b.counts.length - at)
        MgBuf(ks, cs, b.maxErr)
      } else subtract(b, 1L, b.maxErr + 1L)
    }

    /** Mergeable-summaries rule: sum counters keyed by token; if more than
      * m survive, subtract the (m+1)-th largest combined count from all
      * and evict non-positives. The subtracted threshold adds to the exact
      * error weight. */
    override def merge(a: MgBuf, b: MgBuf): MgBuf = {
      if (a.keys.isEmpty) return MgBuf(b.keys, b.counts, a.maxErr + b.maxErr)
      if (b.keys.isEmpty) return MgBuf(a.keys, a.counts, a.maxErr + b.maxErr)
      val n = a.keys.length + b.keys.length
      val ks = new Array[String](n); val cs = new Array[Long](n)
      var i = 0; var j = 0; var o = 0
      while (i < a.keys.length || j < b.keys.length) {
        val cmp =
          if (i >= a.keys.length) 1
          else if (j >= b.keys.length) -1
          else a.keys(i).compareTo(b.keys(j))
        if (cmp < 0) { ks(o) = a.keys(i); cs(o) = a.counts(i); i += 1 }
        else if (cmp > 0) { ks(o) = b.keys(j); cs(o) = b.counts(j); j += 1 }
        else { ks(o) = a.keys(i); cs(o) = a.counts(i) + b.counts(j); i += 1; j += 1 }
        o += 1
      }
      val merged = MgBuf(java.util.Arrays.copyOf(ks, o),
        java.util.Arrays.copyOf(cs, o), a.maxErr + b.maxErr)
      if (o <= m) merged
      else {
        // (m+1)-th largest count = the subtraction threshold t >= 1
        val sorted = java.util.Arrays.copyOf(merged.counts, o)
        java.util.Arrays.sort(sorted)
        val t = sorted(o - 1 - m)
        subtract(merged, t, merged.maxErr + t)
      }
    }

    /** Subtract `t` from every counter, evict non-positives, set the new
      * error weight. Preserves key order, so the result stays sorted. */
    private def subtract(b: MgBuf, t: Long, newErr: Long): MgBuf = {
      var keep = 0
      var i = 0
      while (i < b.counts.length) { if (b.counts(i) > t) keep += 1; i += 1 }
      val ks = new Array[String](keep); val cs = new Array[Long](keep)
      i = 0; var o = 0
      while (i < b.counts.length) {
        if (b.counts(i) > t) { ks(o) = b.keys(i); cs(o) = b.counts(i) - t; o += 1 }
        i += 1
      }
      MgBuf(ks, cs, newErr)
    }

    override def finish(b: MgBuf): MgBuf = b
    override def bufferEncoder: Encoder[MgBuf] = ExpressionEncoder[MgBuf]()
    override def outputEncoder: Encoder[MgBuf] = ExpressionEncoder[MgBuf]()
  }

  private object StringOrd extends java.util.Comparator[AnyRef] {
    def compare(a: AnyRef, b: AnyRef): Int =
      a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
  }

  /** Summary capacity. 4096 counters ≈ a few hundred KB per partial —
    * negligible executor state, and maxErr ≤ n/4097 keeps the exactness
    * proof comfortable even on heavy-tailed vocabularies. */
  private val M = 4096

  /** Top-k size for q_heavy_hitters. */
  private val K = 10

  /** The corpus tokenization both the batch query and the streaming twin
    * share: lowercased whitespace tokens, empties dropped. */
  private[graft] def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(TextExprs.tokensOf(col("text"))).as("token"))

  /** q_heavy_hitters: exact top-10 most frequent whitespace tokens in the
    * document corpus, via the two-pass MG plan above. The whole result is
    * DuckDB-replayable (plain counting), so unlike the sketch-output
    * queries this one is hash-oracled end to end — the oracle checks the
    * EXACTNESS CLAIM, not just the sketch plumbing. */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    // loader already rebalances the corpus scan
    val toks = tokens(Tables.documents(spark, sfDir))
    topKExact(spark, toks, M, K)
  }

  /** PASS 1 as a reusable piece: one m-bounded summary row on the driver
    * (precedent: the ncells-bounded centroid collect in IvfIndex). Also
    * the per-micro-batch step of the streaming twin. */
  private[graft] def summarize(spark: SparkSession, toksDf: DataFrame,
      m: Int): MgBuf = {
    import spark.implicits._
    toksDf.select(col("token").as[String])
      .select(new MgAggregator(m).toColumn).head()
  }

  /** The two-pass plan over any single-column `token` relation; `m` and
    * `k` parameterized so the spec can force the eviction path and the
    * fail-fast guard at small scale. */
  private[graft] def topKExact(spark: SparkSession, toksDf: DataFrame,
      m: Int, k: Int): DataFrame = {
    val toks = toksDf.select(col("token"))
    recountTopK(spark, toks, summarize(spark, toks, m), m, k)
  }

  /** PASS 2: exact recount of the summary's candidates plus the runtime
    * exactness proof — shared by the batch plan (summary from one global
    * aggregate) and the streaming twin (summary merged across
    * micro-batches; the MG merge rule makes both summaries carry the same
    * guarantee, so the proof is batching-invariant even though the
    * candidate SET may differ). */
  private[graft] def recountTopK(spark: SparkSession, toksDf: DataFrame,
      mg: MgBuf, m: Int, k: Int): DataFrame = {
    val toks = toksDf.select(col("token"))
    val candidates = mg.keys.toSeq
    val maxErr = mg.maxErr
    // pass 2: exact recount of candidates only — the membership filter is
    // a broadcast-able literal set pushed below the one k-bounded shuffle
    val top = toks.filter(col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("token").asc)))
      .select(col("rank").cast("long").as("rank"), col("token"), col("cnt"))
    val rows = top.collect()
    // the runtime exactness proof: every token OUTSIDE the summary has
    // true count <= maxErr, so kth > maxErr ⟹ no absent token can displace
    // the k-th entry ⟹ provably the exact global top-k
    if (rows.length == k) {
      val kth = rows.last.getLong(2)
      if (kth <= maxErr) throw new IllegalStateException(
        s"q_heavy_hitters: exactness unprovable — k-th count $kth <= summary " +
        s"error bound $maxErr; raise m (= $m) for this vocabulary")
    } else if (maxErr > 0) throw new IllegalStateException(
      // fewer candidates than k AND decrements happened: evicted tokens
      // (count <= maxErr) might belong in the output — unprovable
      s"q_heavy_hitters: only ${rows.length} candidates for k=$k with " +
      s"nonzero error bound $maxErr; raise m (= $m)")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), top.schema)
  }

  /** q_stream_heavy: the heavy-hitters STREAMING twin, declared — the
    * corpus text arrives as a file-source stream in multiple micro-batches
    * (staged as 4 parquet files, maxFilesPerTrigger=1), each batch's
    * distributed MG summary is merged into O(m) driver state
    * (Streaming.heavyHittersStream), and pass 2 recounts the merged
    * candidates over the static corpus under the same runtime exactness
    * proof. The oracle is the SAME SQL as q_heavy_hitters: the exact
    * top-10 is batching-invariant, so a hash match proves the per-batch
    * summarize → merge → recount path loses nothing across triggers. */
  def qStreamHeavy(spark: SparkSession, sfDir: String): DataFrame = {
    GenTables.scratch(spark, "graft_hh_stream") { (_, dir) =>
      Tables.documents(spark, sfDir).select(col("text"))
        .repartition(4).write.mode("overwrite").parquet(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val running = new Streaming.RunningMg(M)
      Streaming.drain(Streaming.heavyHittersStream(stream, M, running),
        "q_stream_heavy", minDataBatches = 2)
      recountTopK(spark, tokens(Tables.documents(spark, sfDir)),
        running.summary, M, K)
      // safe to delete here: the returned frame reads sfDir + the driver-
      // held summary, never the staged stream dir — keep it that way
    }
  }

  /** The claim in SQL: plain exact top-k with the same tiebreak. */
  val qHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
      |  FROM documents
      |), counted AS (
      |  SELECT token, count(*) AS cnt FROM toks GROUP BY token
      |)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
      |  token, cnt
      |FROM counted
      |ORDER BY cnt DESC, token
      |LIMIT 10""".stripMargin
}
