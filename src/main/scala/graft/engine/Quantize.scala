package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding compression for the similarity stack: int8 scalar
  * quantization (per-vector min/max affine codes) — the standard first
  * step when a 100 TB embedding corpus must fit an ANN serving tier
  * (4× smaller than float32, dequantization error ≤ (hi−lo)/510).
  *
  * Quantization is pure affine double arithmetic with a fixed
  * parenthesization (see [[QuantizeU8]]), so unlike the float *training*
  * paths (q_sim_ivf's k-means), the codes are cross-engine deterministic
  * and the whole operator is DuckDB-oracle-checked.
  */
object Quantize {

  /** q_quantize_embed: per-vector int8 codes + the (lo, hi) dequant range.
    * One codegen'd pass per vector (QuantizeU8 — min/max fold and the
    * quantize loop run once; a HOF-lambda formulation would re-evaluate
    * array_min per element after CollapseProject inlines it). Narrow,
    * shuffle-free; codes render as a comma string so the differential
    * check pins every component exactly. */
  def qQuantizeEmbed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).as("qz"))
      .select(col("vec_id"),
        col("qz.lo").as("lo"),
        col("qz.hi").as("hi"),
        array_join(col("qz.q").cast("array<string>"), ",").as("q_str"))

  /** The quantizer replayed in DuckDB: identical expression tree
    * (floor(((x − lo) · 255.0) / (hi − lo) + 0.5)) over the float-exact
    * doubles — every op IEEE-correctly-rounded in both engines, so the
    * codes match bit-for-bit. floor-then-cast (not a bare CAST: DuckDB
    * rounds double→int, Spark truncates — floor makes the value integral
    * first so both casts are exact). The engine's degenerate rule is
    * mirrored too: a null/empty vector or one containing a null/NaN
    * element yields NULL lo/hi/q_str (QuantizeU8.compute returns null),
    * so the differential holds even if the corpus ever carries such a
    * vector. */
  val qQuantizeEmbedSql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (
      |  SELECT vec_id, v,
      |    (v IS NULL OR len(v) = 0
      |     OR len(list_filter(v, x -> x IS NULL OR isnan(x))) > 0) AS degen,
      |    list_min(v) AS lo, list_max(v) AS hi
      |  FROM v)
      |SELECT vec_id,
      |  CASE WHEN degen THEN NULL ELSE lo END AS lo,
      |  CASE WHEN degen THEN NULL ELSE hi END AS hi,
      |  CASE WHEN degen THEN NULL
      |       WHEN hi = lo THEN array_to_string([0 for x in v], ',')
      |       ELSE array_to_string(
      |         [CAST(floor(((x - lo) * 255.0) / (hi - lo) + 0.5) AS INT)
      |          for x in v], ',')
      |  END AS q_str
      |FROM m ORDER BY vec_id""".stripMargin

  // --- quantized IVF ANN ----------------------------------------------------

  private val NCells = 16
  private val Rounds = 2
  private val NProbe = 2
  private val TopK = 3

  private def sqd(a: Column, b: Column): Column = VectorExprs.intSqDist(a, b)

  /** q_sim_ivf_quant: IVF ANN over the int8 CODES — k-means in pure
    * integer arithmetic, so the ENTIRE pipeline (training included) is
    * cross-engine deterministic and DuckDB-oracle-checked, unlike the
    * float-trained q_sim_ivf where summation order makes centroids
    * implementation-defined. This is also how a 100 TB ANN tier actually
    * runs (FAISS-style IVF over scalar-quantized codes): 4× less to scan,
    * integer distance kernels.
    *
    * Deterministic by construction: init = codes of vec_id 0..15;
    * assignment = argmin squared-L2 with cell-id tiebreak; update =
    * per-dimension floor(sum/count) (exact integer division); 2 Lloyd
    * rounds; queries probe their 2 nearest cells; top-3 by (distance,
    * neighbor id). Every comparison is on longs — no floats anywhere.
    *
    * Scale shape mirrors q_sim_ivf: centroids broadcast (≤16 rows);
    * assignment is a narrow pass + argmin partial-agg on vec_id; the
    * centroid update's posexplode collapses map-side to ≤ cells×dims
    * rows per task before the shuffle; probing scans only the 2 matched
    * cells' postings. */
  def qSimIvfQuant(spark: SparkSession, sfDir: String): DataFrame =
    ivfQuant(spark, sfDir, corpusTrain = false)

  /** q_ivf_absorb: the vector-index INGEST contract (the ANN analog of
    * q_corpus_absorb). The coarse quantizer trains on the standing corpus
    * ONLY (vec_id % 10 < 8; init = the NCells smallest corpus ids; same
    * 2 integer-exact Lloyd rounds) and is then FROZEN; the incoming batch
    * (% 10 >= 8) is absorbed ASSIGN-ONLY into the postings — the
    * production cadence: assignment runs per ingest (a narrow broadcast
    * pass, linear in |batch|), retraining runs rarely and offline.
    * Queries (vec_id < 10 — spanning both generations) probe the union
    * postings. Assignment is per-vector independent, so absorb-then-probe
    * equals assign-everything-then-probe — the invariant the oracle
    * replays; the two-generation structure is the declared plan shape. */
  def qIvfAbsorb(spark: SparkSession, sfDir: String): DataFrame =
    ivfQuant(spark, sfDir, corpusTrain = true)

  /** q_ivf_gc: vector-index DELETION (the ANN analog of q_corpus_gc).
    * Takedown removes vectors from SERVING, not from the model: the
    * coarse quantizer stays FROZEN (it trained before the takedown
    * arrived; retraining is the rare offline cycle, exactly as in
    * q_ivf_absorb), and the forget set (vec_id % 30 == 0, takedown-sized)
    * is anti-joined out of the postings via BROADCAST — linear in
    * |postings|, zero retraining, zero corpus rescan. Unlike the text
    * index, postings carry vec_id, so no refcount is needed — deletion
    * is direct. Invariant the oracle replays: postings ∖ F under a
    * frozen quantizer == assign-everything-then-filter, because
    * assignment is per-vector independent. Forgotten vectors may still
    * QUERY (the query set is external input); they must simply never be
    * RETURNED — the oracle's candidate set excludes them, so any
    * under-delete (a forgotten vec surviving as a neighbor) or
    * over-delete (a retained neighbor displaced) hash-diverges. */
  def qIvfGc(spark: SparkSession, sfDir: String): DataFrame =
    ivfQuant(spark, sfDir, corpusTrain = true, gc = true)

  /** q_ivf_serve: the ON-DISK ANN serving posture — the absorb-state
    * postings persisted as a cid-BUCKETED table, probed through Spark's
    * bucket pruning. The probe's matched cells (≤ |queries| × NProbe
    * ids, the same k-bound as the broadcast query set) become a LITERAL
    * IN on the bucket column, so the scan opens ONLY the probed cells'
    * buckets (`SelectedBucketsCount m out of n` in the plan, pinned by
    * spec). That is what makes disk-resident IVF work at 100 TB: a
    * query batch reads nprobe cells' files; the other thousands of
    * buckets are never opened. Storage and pruning are semantically
    * INVISIBLE — output equals q_ivf_absorb row for row, so the oracle
    * is exactly qIvfAbsorbSql (the q_skew_join rewrite-invisibility
    * contract applied to ANN serving). */
  def qIvfServe(spark: SparkSession, sfDir: String): DataFrame =
    ivfQuant(spark, sfDir, corpusTrain = true, serve = true)

  private val ServeBuckets = 8
  private val ivfServeRuns = new java.util.concurrent.atomic.AtomicInteger

  /** The IVF quantizer's owner per training scope: its timed samples pay
    * the Lloyd rounds; gc/serve/recall read the quantizer warm. */
  private def ivfOwner(corpusTrain: Boolean): String =
    if (corpusTrain) "q_ivf_absorb" else "q_sim_ivf_quant"

  /** Kept for the benchmark harness, which evicts before each sample. */
  private[graft] def evictIvfMemo(sfDir: String, corpusTrain: Boolean): Unit =
    Memo.evict(ivfOwner(corpusTrain))

  /** Persist postings bucketed by cell id and return the bucket-pruned
    * scan for the probed cells (literal IN on the bucket column →
    * FileSourceScan prunes unprobed buckets at plan time). Exposed for
    * the spec that pins SelectedBucketsCount < total. */
  private[graft] def servePruned(spark: SparkSession, posting: DataFrame,
      probedCids: Seq[Long], dir: String, name: String): DataFrame = {
    posting.repartition(ServeBuckets, col("cid"))
      .write.format("parquet").mode("overwrite")
      .bucketBy(ServeBuckets, "cid").sortBy("cid")
      .option("path", s"$dir/postings").saveAsTable(name)
    spark.table(name).filter(col("cid").isin(probedCids: _*))
  }

  private def ivfQuant(spark: SparkSession, sfDir: String,
      corpusTrain: Boolean, gc: Boolean = false,
      serve: Boolean = false): DataFrame =
    if (serve) {
      // Per-plan conf scope (round-9 advisor finding): the serve read
      // needs autoBucketedScan pinned OFF (DisableUnnecessaryBucketedScan
      // would strip the bucketed scan — and BUCKET PRUNING with it —
      // because the broadcast-tiny probe side never "consumes" the
      // bucketing). Mutating the caller's session conf would leak the
      // override to concurrent queries, so the whole serve pipeline runs
      // on its OWN session carrying the pin (newSession + runtime-conf
      // copy — cloneSession is private in Spark 4; static confs throw on
      // set and are already shared via the context). Iterate.cut
      // materializes inside, so every scan executes under this session's
      // conf and the caller's session is never touched.
      val s = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        try s.conf.set(k, v)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      ivfQuantImpl(s, sfDir, corpusTrain, gc, serve)
    } else ivfQuantImpl(spark, sfDir, corpusTrain, gc, serve)

  /** Nearest-cell assignment: argmin exact squared L2 with the lowest-cid
    * tiebreak, computed by the codegen'd NearestCentroidSqI k-loop over
    * the centroid literals — value-identical to the former
    * broadcast-join + min_by(cid, struct(d, cid)) but with NO n·k join
    * rows, NO argmin aggregation, and the code vector riding along (so
    * posting builders pay no re-attach join either). Output: vecs plus
    * `cid`. */
  private def assignTo(cents: Seq[(Long, Seq[Int])], vecs: DataFrame): DataFrame =
    vecs.withColumn("cid", VectorExprs.nearestCentroidSq(
      col("qv"), cents.map(_._1), cents.map(_._2)).getField("cid"))

  /** Per-dimension integer mean: posexplode partial-aggregates to
    * ≤ cells×dims rows map-side; floor division is exact. The assignment
    * rides the posexplode's own scan — no corpus join. */
  private def updateWith(cents: Seq[(Long, Seq[Int])], train: DataFrame): DataFrame =
    assignTo(cents, train)
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv_i", expr("CAST(s div n AS INT)"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
        x => x.getField("cv_i")).as("cv"))

  /** k-bounded centroid collect: ≤ NCells rows of (cid, dims ints) —
    * the same driver hop the former broadcast(cents) build paid. */
  private def collectCents(c: DataFrame): Seq[(Long, Seq[Int])] =
    c.collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq.sortBy(_._1)

  /** Trained centroids, memoized ([[Memo]]) per training scope because
    * the six IVF queries share at most two trainings; the value is
    * ≤ NCells (cid, code-vector) tuples. The cold path runs the init +
    * Lloyd rounds over `q8`, centroid state k-bounded driver-side
    * between rounds (integer-exact arithmetic, so the collected values
    * are bit-identical to the former all-DataFrame loop's). */
  private def trainedCentroids(sfDir: String, corpusTrain: Boolean,
      q8: DataFrame): Seq[(Long, Seq[Int])] =
    Memo(q8.sparkSession, "ivf_centroids", Seq(s"$sfDir/embeddings.parquet"),
        owner = Some(ivfOwner(corpusTrain))) {
      val train = if (corpusTrain) q8.filter(col("vec_id") % 10 < 8) else q8
      var c = collectCents(
        if (corpusTrain)
          // init from the train generation only — the NCells smallest
          // corpus ids (a k-bounded TakeOrdered, deterministic)
          train.orderBy(col("vec_id")).limit(NCells)
            .select(col("vec_id").as("cid"), col("qv").as("cv"))
        else q8.filter(col("vec_id") < NCells)
          .select(col("vec_id").as("cid"), col("qv").as("cv")))
      for (_ <- 1 to Rounds) c = collectCents(updateWith(c, train))
      c
    }

  /** The serving tail shared by the lifecycle queries and the streaming
    * drain: rank each query's NProbe nearest cells (broadcast centroid
    * argmin), scan only those cells' postings, top-[[TopK]] by (distance,
    * id). `queries` carries (qid, qq); `posting` carries (vec_id, cid,
    * qv). */
  private def probeAndRank(cents: DataFrame, posting: DataFrame,
      queries: DataFrame): DataFrame = {
    val probes = probeCells(cents, queries)
    val wRank = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
    probes.join(posting, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sqd(col("qq"), col("qv")).as("d"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("d").as("sqdist"),
        col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** THE probe selection — each query's NProbe nearest cells by
    * (quantized squared distance, cid) against the broadcast centroid
    * table, as (qid, qq, cid). The single definition both the ranking
    * ([[probeAndRank]]) and the serve-path cid pruning derive from:
    * pruning the on-disk postings to one set of cells and ranking by a
    * different selection would silently miss neighbors, so any future
    * change to NProbe or the tie-break lands in both by construction. */
  private def probeCells(cents: DataFrame, queries: DataFrame): DataFrame =
    probeRanked(cents, queries).filter(col("prn") <= NProbe)
      .select(col("qid"), col("qq"), col("cid"))

  /** Every query's cells ranked by the probe order — (qid, qq, cid, prn)
    * with prn = row_number over (pd, cid). The nprobe-sweep diagnostics
    * keep the full ranking (per-config candidate sets are prn-prefixes);
    * serving takes the NProbe prefix via [[probeCells]]. One definition
    * of the distance/tie-break for all of them. */
  private def probeRanked(cents: DataFrame, queries: DataFrame): DataFrame = {
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("pd"), col("cid"))
    queries.join(broadcast(cents))
      .select(col("qid"), col("qq"), col("cid"), sqd(col("qq"), col("cv")).as("pd"))
      .withColumn("prn", row_number().over(wProbe))
  }

  private def ivfQuantImpl(spark: SparkSession, sfDir: String,
      corpusTrain: Boolean, gc: Boolean, serve: Boolean): DataFrame = {
    val q8 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).getField("q").as("qv"))
      .persist()
    try {
      val train = if (corpusTrain) q8.filter(col("vec_id") % 10 < 8) else q8
      import spark.implicits._
      val centsSeq = trainedCentroids(sfDir, corpusTrain, q8)
      val cents = centsSeq.toDF("cid", "cv")

      // postings per generation: gen 0 = the train corpus; absorb = the
      // frozen-quantizer assignment of the batch (empty when !corpusTrain).
      // assignTo carries qv inline — no per-generation re-attach join.
      val posting0 =
        if (corpusTrain)
          assignTo(centsSeq, train).unionByName(
            assignTo(centsSeq, q8.filter(col("vec_id") % 10 >= 8)))
        else assignTo(centsSeq, q8)
      // GC: anti-join the takedown list out of the postings — broadcast,
      // the forget side never shuffles the index (mirrors gcIndex)
      val posting =
        if (gc) posting0.join(
          broadcast(q8.filter(col("vec_id") % 30 === 0).select(col("vec_id"))),
          Seq("vec_id"), "left_anti")
        else posting0
      val queries = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qq"))
      // the SAME probe selection probeAndRank will rank by — pruning the
      // serve table to one definition's cells while ranking by another
      // would desync the two the moment either changes
      val probes = probeCells(cents, queries)
      // serving: postings live in a cid-bucketed table; the probed cells
      // (k-bounded: ≤ |queries| × NProbe) prune the scan to their buckets
      var serveName: String = null
      var serveDir: String = null
      val postingJoin =
        if (serve) {
          val n = ivfServeRuns.incrementAndGet()
          serveDir = java.nio.file.Files
            .createTempDirectory(s"graft_ivfserve_$n").toString
          serveName = s"graft_ivf_serve_$n"
          val cids = probes.select(col("cid")).distinct()
            .collect().map(_.getLong(0)).sorted.toSeq
          // `spark` here is the caller's clone with autoBucketedScan
          // pinned off (see ivfQuant): the probe side is broadcast-tiny,
          // so no operator "consumes" the table's bucketing and
          // DisableUnnecessaryBucketedScan would strip the bucketed scan
          // — taking BUCKET PRUNING (the point of the layout) with it.
          servePruned(spark, posting, cids, serveDir, serveName)
        } else posting
      try {
        Iterate.cut(probeAndRank(cents, postingJoin, queries))
      } finally if (serveName != null) {
        spark.sql(s"DROP TABLE IF EXISTS $serveName")
        Streaming.deleteDirTree(serveDir)
      }
    } finally q8.unpersist(blocking = false)
  }

  /** The full quantized-IVF pipeline replayed in DuckDB: quantize, init
    * from vec_id 0..15, two unrolled Lloyd rounds (argmin with cell-id
    * tiebreak; per-dim SUM // COUNT — DuckDB's // floors like Spark's
    * `div` on these non-negative codes), 2-cell probe, top-3 by
    * (distance, id). All integer arithmetic — the oracle checks the
    * TRAINING, not just the final ranking.
    *
    * PRECONDITION (unlike qQuantizeEmbedSql, which mirrors the degenerate
    * rule in SQL): no degenerate vectors in the corpus — a NULL code
    * vector would thread NULL distances through two Lloyd rounds, where
    * engine and oracle NULL-ordering conventions differ. The invariant is
    * asserted by SketchQuantChunkSpec over the test corpus. */
  /** q_ann_recall: the ANN quality metric — recall@3 of the quantized-IVF
    * path against the EXACT top-3 by the same int8 squared distance, per
    * query, as exact integers (hits and basis points; no floats on the
    * hash path). The evaluation op every ANN deployment needs: IVF trades
    * recall for probe locality, and this query MEASURES the trade instead
    * of assuming it.
    *
    * Scale posture: the exact side is the deliberate cost of ground truth
    * — ONE corpus scan against a broadcast 10-query set (the standard
    * sampled-recall methodology at 100 TB: you never brute-force every
    * query, you sample); the IVF side reuses the probe-bounded pipeline.
    * Both sides and the join are DuckDB-replayed, so the oracle checks
    * the metric arithmetic end to end. */
  def qAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val ivf = qSimIvfQuant(spark, sfDir).select(col("qid"), col("neighbor_id"))
    val q8 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).getField("q").as("qv"))
    val queries = q8.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
    val exact = q8.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sqd(col("qq"), col("qv")).as("d"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"))
    val hits = exact
      .join(ivf, Seq("qid", "neighbor_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(coalesce(n_hits, 0L) * 10000) div $TopK").as("recall_bp"))
      .orderBy(col("qid"))
  }

  /** q_ivf_curve: the ANN OPERATING CURVE — q_ann_recall generalized over
    * nprobe ∈ {1, 2, 4, 8, 16} under the same (memoized) full-corpus
    * quantizer. Per configuration: total exact-top-3 hits across the
    * query sample, recall in basis points, and the CANDIDATE-SCAN cost
    * (rows of probed postings) — the recall/latency trade every IVF
    * deployment tunes, measured on the engine's own index instead of
    * assumed. nprobe = NCells is exhaustive search, so its recall row
    * must read 10000 bp — a built-in sanity anchor the oracle replays.
    *
    * Scale posture: ONE assignment pass builds the postings; every
    * query's cells are ranked once (prn ≤ NCells) and the per-config
    * candidate sets are the prn ≤ nprobe prefixes — the candidate join
    * runs once with the config table cross-joined in (row growth
    * Σ nprobe/NCells ≈ 2×, not 5 separate probes); the exact side is the
    * same one-scan sampled ground truth as q_ann_recall. */
  def qIvfCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val q8 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorExprs.quantizeU8(col("embedding")).getField("q").as("qv"))
      .persist()
    try {
      import spark.implicits._
      val centsSeq = trainedCentroids(sfDir, corpusTrain = false, q8)
      val cents = centsSeq.toDF("cid", "cv")
      val posting = assignTo(centsSeq, q8)
      val queries = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qq"))
      val probes = probeRanked(cents, queries)
      val cfg = NProbeSweep.toSeq.toDF("nprobe")
      // candidates once, config membership by prefix rank
      val cc = probes.join(posting, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(cfg), col("prn") <= col("nprobe"))
        .select(col("nprobe"), col("qid"), col("vec_id"),
          sqd(col("qq"), col("qv")).as("d"))
      val wRank = Window.partitionBy(col("nprobe"), col("qid"))
        .orderBy(col("d"), col("vec_id"))
      val ivfTop = cc.withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= TopK)
        .select(col("nprobe"), col("qid"), col("vec_id"))
      val wEx = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
      val exact = q8.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), sqd(col("qq"), col("qv")).as("d"))
        .withColumn("rn", row_number().over(wEx)).filter(col("rn") <= TopK)
        .select(col("qid"), col("vec_id"))
      val hits = ivfTop.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
      val scanned = cc.groupBy(col("nprobe")).agg(count(lit(1)).as("cand_scanned"))
      val out = cfg.join(hits, Seq("nprobe"), "left")
        .join(scanned, Seq("nprobe"), "left")
        .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_queries"))))
        .select(col("nprobe"), col("n_queries"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          expr(s"coalesce(hits, 0L) * 10000 div (n_queries * $TopK)")
            .as("recall_bp"),
          coalesce(col("cand_scanned"), lit(0L)).as("cand_scanned"))
        .orderBy(col("nprobe"))
      Iterate.cut(out)
    } finally q8.unpersist(blocking = false)
  }

  private[graft] val NProbeSweep: Array[Int] = Array(1, 2, 4, 8, 16)

  /** Exact-side replay + the full IVF pipeline as a subquery; `//` floors
    * like `div` on the non-negative counts. (lazy: interpolates
    * qSimIvfQuantSql, declared below — object vals initialize in order.) */
  lazy val qAnnRecallSql: String = {
    val dist = (a: String, b: String) =>
      s"list_sum([CAST(($a[i] - $b[i]) * ($a[i] - $b[i]) AS BIGINT) " +
        s"for i in range(1, len($a) + 1)])"
    s"""WITH ivf AS (SELECT qid, neighbor_id FROM ($qSimIvfQuantSql)),
       |v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |m AS (
       |  SELECT vec_id, ve, list_min(ve) AS lo, list_max(ve) AS hi FROM v),
       |q8 AS (
       |  SELECT vec_id,
       |    CASE WHEN hi = lo THEN [0 for x in ve]
       |         ELSE [CAST(floor(((x - lo) * 255.0) / (hi - lo) + 0.5) AS INT)
       |               for x in ve]
       |    END AS qv
       |  FROM m),
       |qs AS (SELECT vec_id AS qid, qv AS qq FROM q8 WHERE vec_id < 10),
       |ex AS (
       |  SELECT qid, vec_id AS neighbor_id FROM (
       |    SELECT q.qid, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY ${dist("q.qq", "c.qv")}, c.vec_id) AS rn
       |    FROM qs q CROSS JOIN q8 c WHERE c.vec_id <> q.qid) WHERE rn <= $TopK),
       |h AS (
       |  SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM ex e JOIN ivf i ON i.qid = e.qid AND i.neighbor_id = e.neighbor_id
       |  GROUP BY 1)
       |SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
       |  (COALESCE(h.n_hits, 0) * 10000) // $TopK AS recall_bp
       |FROM qs q LEFT JOIN h ON h.qid = q.qid
       |ORDER BY q.qid""".stripMargin
  }

  /** The quantized-IVF replay, parameterized by training scope: when
    * `corpusTrain`, the Lloyd rounds and init run over the %10 < 8 corpus
    * subset (`q8t`, init = NCells smallest corpus ids) while the final
    * assignment (`af` — the union postings after the assign-only absorb)
    * still covers every vector; otherwise everything runs over all
    * vectors, the original q_sim_ivf_quant shape. */
  private val dist = (a: String, b: String) =>
    s"list_sum([CAST(($a[i] - $b[i]) * ($a[i] - $b[i]) AS BIGINT) " +
      s"for i in range(1, len($a) + 1)])"

  /** The CTE chain through training, final assignment (`af`) and the
    * query sample (`qs`) — shared by the four lifecycle oracles and the
    * nprobe curve. */
  private def ivfBaseCtes(corpusTrain: Boolean, gc: Boolean): String = {
    val trainRel = if (corpusTrain) "q8t" else "q8"
    def lloyd(prev: String, n: Int): String =
      s"""d$n AS (
         |  SELECT a.vec_id, a.qv, c.cid, ${dist("a.qv", "c.cv")} AS d
         |  FROM $trainRel a CROSS JOIN $prev c),
         |a$n AS (
         |  SELECT vec_id, qv, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d$n) WHERE rn = 1),
         |c$n AS (
         |  SELECT cid, list(cv_i ORDER BY pos) AS cv FROM (
         |    SELECT cid, pos, CAST(SUM(val) // COUNT(*) AS INT) AS cv_i FROM (
         |      SELECT cid, unnest(qv) AS val,
         |             unnest(range(1, len(qv) + 1)) AS pos FROM a$n)
         |    GROUP BY cid, pos)
         |  GROUP BY cid)""".stripMargin
    val init =
      if (corpusTrain)
        s"""q8t AS (SELECT vec_id, qv FROM q8 WHERE vec_id % 10 < 8),
           |c0 AS (SELECT vec_id AS cid, qv AS cv FROM q8t
           |       ORDER BY vec_id LIMIT $NCells)""".stripMargin
      else s"c0 AS (SELECT vec_id AS cid, qv AS cv FROM q8 WHERE vec_id < $NCells)"
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |m AS (
       |  SELECT vec_id, ve, list_min(ve) AS lo, list_max(ve) AS hi FROM v),
       |q8 AS (
       |  SELECT vec_id,
       |    CASE WHEN hi = lo THEN [0 for x in ve]
       |         ELSE [CAST(floor(((x - lo) * 255.0) / (hi - lo) + 0.5) AS INT)
       |               for x in ve]
       |    END AS qv
       |  FROM m),
       |$init,
       |${lloyd("c0", 1)},
       |${lloyd("c1", 2)},
       |df AS (
       |  SELECT a.vec_id, a.qv, c.cid, ${dist("a.qv", "c.cv")} AS d
       |  FROM q8 a CROSS JOIN c2 c),
       |af AS (
       |  SELECT vec_id, qv, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM df) WHERE rn = 1${if (gc) " AND vec_id % 30 <> 0" else ""}),
       |qs AS (SELECT vec_id AS qid, qv AS qq FROM q8 WHERE vec_id < 10)""".stripMargin
  }

  private def ivfQuantSql(corpusTrain: Boolean, gc: Boolean = false): String =
    s"""${ivfBaseCtes(corpusTrain, gc)},
       |pr AS (
       |  SELECT qid, qq, cid FROM (
       |    SELECT q.qid, q.qq, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY ${dist("q.qq", "c.cv")}, c.cid) AS prn
       |    FROM qs q CROSS JOIN c2 c) WHERE prn <= $NProbe),
       |cand AS (
       |  SELECT p.qid, a.vec_id, ${dist("p.qq", "a.qv")} AS d
       |  FROM pr p JOIN af a ON p.cid = a.cid
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid, vec_id AS neighbor_id, CAST(d AS BIGINT) AS sqdist,
       |  CAST(rn AS BIGINT) AS rank
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
       |  FROM cand) WHERE rn <= $TopK
       |ORDER BY qid, rank""".stripMargin

  /** All nprobe prefixes replayed over the same training/assignment CTEs:
    * probe ranks 1..NCells, candidate membership prn ≤ nprobe, per-config
    * top-3 vs the exact top-3, hit and scan counts per config. */
  lazy val qIvfCurveSql: String = {
    s"""${ivfBaseCtes(corpusTrain = false, gc = false)},
       |prc AS (
       |  SELECT q.qid, q.qq, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY ${dist("q.qq", "c.cv")}, c.cid) AS prn
       |  FROM qs q CROSS JOIN c2 c),
       |cfg AS (SELECT unnest([${NProbeSweep.mkString(", ")}]) AS nprobe),
       |cc AS (
       |  SELECT f.nprobe, p.qid, a.vec_id, ${dist("p.qq", "a.qv")} AS d
       |  FROM cfg f JOIN prc p ON p.prn <= f.nprobe
       |  JOIN af a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.qid),
       |ivftop AS (
       |  SELECT nprobe, qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, qid
       |      ORDER BY d, vec_id) AS rn FROM cc) WHERE rn <= $TopK),
       |exd AS (
       |  SELECT q.qid, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY ${dist("q.qq", "c.qv")}, c.vec_id) AS rn
       |  FROM qs q CROSS JOIN q8 c WHERE c.vec_id <> q.qid),
       |ex AS (SELECT qid, vec_id FROM exd WHERE rn <= $TopK),
       |h AS (
       |  SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS hits
       |  FROM ivftop t JOIN ex e ON e.qid = t.qid AND e.vec_id = t.vec_id
       |  GROUP BY 1),
       |sc AS (
       |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS cand_scanned
       |  FROM cc GROUP BY 1),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs)
       |SELECT f.nprobe AS nprobe, nq.n_queries AS n_queries,
       |  COALESCE(h.hits, 0) AS hits,
       |  CAST(COALESCE(h.hits, 0) * 10000 // (nq.n_queries * $TopK) AS BIGINT)
       |    AS recall_bp,
       |  COALESCE(sc.cand_scanned, 0) AS cand_scanned
       |FROM cfg f CROSS JOIN nq
       |LEFT JOIN h ON h.nprobe = f.nprobe
       |LEFT JOIN sc ON sc.nprobe = f.nprobe
       |ORDER BY f.nprobe""".stripMargin
  }

  /** The recall target q_ivf_tune picks its nprobe against: ≥ 90% of the
    * exact top-k (9000 basis points). nprobe = NCells is exhaustive
    * (10000 bp by construction), so a qualifying row always exists. */
  val IvfRecallTargetBp: Long = 9000L

  /** q_ivf_tune: the ANN operating curve made ACTIONABLE — q_lsh_tune's
    * discipline on the vector side. Replays q_ivf_curve and declares the
    * nprobe a serving deployment should use: the cheapest configuration
    * (fewest candidate rows scanned, then smallest nprobe) whose measured
    * recall meets [[IvfRecallTargetBp]]; the exhaustive nprobe = NCells
    * row guarantees the qualify set is never empty. One deterministic
    * ORDER BY … LIMIT 1 over the ≤5-row curve; the oracle replays curve
    * + argmin end to end. */
  def qIvfTune(spark: SparkSession, sfDir: String): DataFrame = {
    val meets = col("recall_bp") >= IvfRecallTargetBp
    qIvfCurve(spark, sfDir)
      .withColumn("met_target", meets.cast("long"))
      .orderBy(meets.desc,
        when(meets, col("cand_scanned"))
          .otherwise(lit(10000L) - col("recall_bp")).asc,
        col("cand_scanned").asc, col("nprobe").asc)
      .limit(1)
  }

  /** Curve replayed, then the same qualify-else-fallback argmin. */
  lazy val qIvfTuneSql: String =
    s"""WITH curve AS (
       |$qIvfCurveSql
       |)
       |SELECT nprobe, n_queries, hits, recall_bp, cand_scanned,
       |  CAST(CASE WHEN recall_bp >= $IvfRecallTargetBp THEN 1 ELSE 0 END
       |    AS BIGINT) AS met_target
       |FROM curve
       |ORDER BY (recall_bp >= $IvfRecallTargetBp) DESC,
       |  CASE WHEN recall_bp >= $IvfRecallTargetBp
       |       THEN cand_scanned ELSE 10000 - recall_bp END ASC,
       |  cand_scanned ASC, nprobe ASC
       |LIMIT 1""".stripMargin

  val qSimIvfQuantSql: String = ivfQuantSql(corpusTrain = false)
  val qIvfAbsorbSql: String = ivfQuantSql(corpusTrain = true)
  /** Same frozen-quantizer replay with the takedown filter on the
    * assignment CTE — postings ∖ F, training untouched. */
  val qIvfGcSql: String = ivfQuantSql(corpusTrain = true, gc = true)
  /** Bucketed storage + bucket pruning are rewrite-invisible: the serve
    * path must answer exactly like the in-memory absorb state. */
  val qIvfServeSql: String = qIvfAbsorbSql
}
