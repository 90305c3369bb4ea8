package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's ENTIRE production path as one oracle-checked
  * composition (SURVEY.md §3.1): paged CDC source → SMT → routed topic,
  * plus the consumer-side upsert compaction its changelog semantics
  * demand. Where the separate q_* rows prove each operator alone, this is
  * the integration proof — the stream drain, enrichment, routing and
  * compaction composed end to end with ONE DuckDB differential over the
  * whole pipeline.
  */
object Cdc {

  private val runs = new java.util.concurrent.atomic.AtomicInteger

  /** q_cdc_pipeline, stage by stage (reference mapping in parens):
    *
    *  1. SOURCE — the multi-entity paged MicroBatchStream in upsert-
    *     changelog mode (`update_every=4`: every 4th position re-emits an
    *     earlier id with a later ts — Task.java:431-432), windowed
    *     INITIAL→INCREMENTAL progression, one page per entity per poll
    *     (poll loop, Task.java:136-173), every poll of the drain in one
    *     micro-batch. Drained with AvailableNow into a
    *     memory sink — the TEST-SCALE landing zone for this fixed 15 k-
    *     position replay (production path = foreachBatch → partitioned
    *     files, CheckpointSpec); the sink view is dropped on all paths.
    *  2. SMT — StringCast on the category field (Jackson quoting,
    *     StringCast.java:52-96) — the enrichment the reference applies
    *     per record in-flight.
    *  3. ENVELOPE — key extraction (R7, stringified id), topic routing
    *     (R9, `chargeover.{entity}`).
    *  4. COMPACTION — dedup-latest per (entity, id) on the changelog: the
    *     consumer-side upsert that keeps exactly the newest version of
    *     every entity row (ts is unique per position, so latest-wins is
    *     deterministic without a tiebreak column).
    *
    * At scale: stages 2-3 are narrow codegen projections fused into the
    * sink write; stage 4 is ONE shuffle on (entity, id) — at 100 TB the
    * same pipeline lands via foreachBatch into files partitioned by
    * topic, and the compaction window keys the same shuffle. */
  def qCdcPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    JsonStringCast.register(spark)
    Streaming.tuneLocalCheckpointIo(spark)
    val sink = s"cdc_pipeline_${runs.incrementAndGet()}"
    val q = spark.readStream.format("graft.sources.PagedEntitySource")
      .option("entities", "customer,invoice")
      .option("customer.rows", "6000")
      .option("invoice.rows", "9000")
      .option("invoice.params", "category_mod=3")
      .option("updatesEveryN", "4")
      .option("pageSize", "500").option("windowRows", "2000")
      .load()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(300000)
      if (q.isActive) { q.stop(); throw new IllegalStateException(
        "q_cdc_pipeline: AvailableNow drain did not terminate in 300 s") }
      val landed = spark.table(sink)
      val enriched = landed
        .withColumn("category_cast", expr("json_string_cast(category)"))
        .filter(col("id").isNotNull)
        .withColumn("key", col("id").cast("string"))
        .withColumn("topic", concat_ws(".", lit("chargeover"), col("_entity_type")))
      val w = Window.partitionBy(col("_entity_type"), col("id"))
        .orderBy(col("ts_us").desc)
      val compacted = enriched
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("topic"), col("key"), col("_entity_type"), col("id"),
          col("ts_us"), col("value"), col("category_cast"))
        .orderBy(col("_entity_type"), col("id"))
      Iterate.cut(compacted) // 11,250 rows: detach from the sink view
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView(sink)
    }
  }

  /** q_scd2: Slowly-Changing-Dimension Type 2 — the OTHER canonical
    * consumption of the reference's upsert changelog. Where q_cdc_pipeline
    * compacts to latest-wins (the Kafka log-compaction view,
    * Task.java:431-432), SCD2 keeps EVERY version as a half-open validity
    * interval [valid_from, valid_to) with an is_current flag — the
    * history table a warehouse builds from the same topic.
    *
    * Plan shape: the batch paged source in changelog mode (id pushdowns
    * correctly declined — ChangelogSpec), then ONE shuffle on
    * (_entity_type, id) shared by both window functions (lead + count
    * over the same partitioning collapse into a single Window node).
    * That is the whole cost at any scale: state per key is one row of
    * lookahead, never the full history. */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val log = spark.read.format("graft.sources.PagedEntitySource")
      .option("entities", "customer,invoice")
      .option("customer.rows", "6000")
      .option("invoice.rows", "9000")
      .option("updatesEveryN", "3")
      .option("pageSize", "500")
      .load()
    val w = Window.partitionBy(col("_entity_type"), col("id")).orderBy(col("ts_us"))
    log
      .withColumn("version_seq", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("_entity_type"), col("id"), col("version_seq"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"), col("value"))
      .orderBy(col("_entity_type"), col("id"), col("version_seq"))
  }

  /** q_snapshot_diff: snapshot differencing — given two versions of a
    * table, emit the minimal change set (insert / delete / update rows)
    * that turns the old snapshot into the new one. This is the
    * reference's CDC problem INVERTED: the reference tails a changelog
    * the backend provides (Task.java:296-343); when a backend provides
    * only full snapshots, the consumer must DERIVE the changelog — the
    * classic "diff two S3 dumps" job every warehouse runs.
    *
    * The two snapshots are carved deterministically from `orders` so the
    * oracle can carve them identically:
    *   - NEW  = current orders minus keys ≡ 0 (mod 997)   (deleted since)
    *   - OLD  = current orders minus keys ≡ 0 (mod 1000)  (inserted since),
    *     and for keys ≡ 0 (mod 7) the old price was the whole-dollar
    *     truncation (later corrected → an update when cents remain).
    *
    * Classification is a FULL OUTER join on the key:
    *   old NULL → 'I', new NULL → 'D', both + differing value → 'U';
    *   unchanged rows are dropped (the diff is minimal by construction).
    *
    * Prices compare as exact integer cents (floor(p·100 + 0.5) — the
    * established IEEE-exact spelling), so 'U' detection is never a
    * float epsilon question.
    *
    * Scale posture: ONE full-outer shuffle join keyed on the primary
    * key — the optimal general snapshot diff (no index assumption). At
    * 100 TB both snapshots would be bucketed by the key at write time
    * (q_zorder's layout machinery), making the join a zero-shuffle
    * sort-merge; the change set that ships downstream is |I|+|D|+|U|
    * rows, not the table. */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val newSnap = orders.filter(pmod(col("o_orderkey"), lit(997)) =!= 0)
      .select(col("o_orderkey"), col("cents").as("new_cents"))
    val oldSnap = orders.filter(pmod(col("o_orderkey"), lit(1000)) =!= 0)
      .select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(7)) === 0,
          col("cents") - pmod(col("cents"), lit(100)))
          .otherwise(col("cents")).as("old_cents"))
    oldSnap.join(newSnap, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("old_cents").isNull, lit("I"))
          .when(col("new_cents").isNull, lit("D"))
          .when(col("old_cents") =!= col("new_cents"), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op"), col("o_orderkey"), col("old_cents"), col("new_cents"),
        (coalesce(col("new_cents"), lit(0L)) - coalesce(col("old_cents"), lit(0L)))
          .as("delta_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Same carve, same full-outer classification. */
  val qSnapshotDiffSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |new_snap AS (
      |  SELECT o_orderkey, cents AS new_cents FROM o WHERE o_orderkey % 997 <> 0),
      |old_snap AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN cents - cents % 100 ELSE cents END
      |      AS old_cents
      |  FROM o WHERE o_orderkey % 1000 <> 0),
      |d AS (
      |  SELECT COALESCE(old_snap.o_orderkey, new_snap.o_orderkey) AS o_orderkey,
      |    old_cents, new_cents,
      |    CASE WHEN old_cents IS NULL THEN 'I'
      |         WHEN new_cents IS NULL THEN 'D'
      |         WHEN old_cents <> new_cents THEN 'U' END AS op
      |  FROM old_snap FULL OUTER JOIN new_snap USING (o_orderkey))
      |SELECT op, o_orderkey, old_cents, new_cents,
      |  COALESCE(new_cents, 0) - COALESCE(old_cents, 0) AS delta_cents
      |FROM d WHERE op IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** Generator replay (closed form, update_every=3) + the same windows. */
  val qScd2Sql: String =
    """WITH gen AS (
      |  SELECT 'customer' AS _entity_type, p FROM range(0, 6000) t(p)
      |  UNION ALL
      |  SELECT 'invoice', p FROM range(0, 9000) t(p)
      |), rec AS (
      |  SELECT _entity_type,
      |    CASE WHEN p % 3 = 2 THEN (p - p // 3) // 2 ELSE p - p // 3 END AS id,
      |    CASE WHEN p % 3 = 2 THEN 1 ELSE 0 END AS ver,
      |    1704067200000000 + p * 60000000 AS ts_us
      |  FROM gen
      |)
      |SELECT _entity_type, id,
      |  CAST(row_number() OVER w AS BIGINT) AS version_seq,
      |  ts_us AS valid_from_us,
      |  lead(ts_us) OVER w AS valid_to_us,
      |  lead(ts_us) OVER w IS NULL AS is_current,
      |  ((id * 7919 + ver * 1000003) % 100000) / 100.0 AS value
      |FROM rec
      |WINDOW w AS (PARTITION BY _entity_type, id ORDER BY ts_us)
      |ORDER BY _entity_type, id, version_seq""".stripMargin

  /** The oracle replays the WHOLE pipeline in SQL: the changelog
    * generator (closed-form position→record mapping, EntityConf scaladoc),
    * the Jackson quoting, the envelope, and the latest-wins compaction. */
  val qCdcPipelineSql: String =
    """WITH gen AS (
      |  SELECT 'customer' AS _entity_type, p, 5 AS cmod FROM range(0, 6000) t(p)
      |  UNION ALL
      |  SELECT 'invoice', p, 3 AS cmod FROM range(0, 9000) t(p)
      |), rec AS (
      |  SELECT _entity_type,
      |    CASE WHEN p % 4 = 3 THEN (p - p // 4) // 2 ELSE p - p // 4 END AS id,
      |    CASE WHEN p % 4 = 3 THEN 1 ELSE 0 END AS ver,
      |    1704067200000000 + p * 60000000 AS ts_us, cmod
      |  FROM gen
      |), val AS (
      |  SELECT _entity_type, id, ts_us,
      |    ((id * 7919 + ver * 1000003) % 100000) / 100.0 AS value,
      |    'cat' || CAST(id % cmod AS VARCHAR) AS category,
      |    row_number() OVER (PARTITION BY _entity_type, id ORDER BY ts_us DESC) AS rn
      |  FROM rec
      |)
      |SELECT 'chargeover.' || _entity_type AS topic, CAST(id AS VARCHAR) AS key,
      |  _entity_type, id, ts_us, value, '"' || category || '"' AS category_cast
      |FROM val WHERE rn = 1
      |ORDER BY _entity_type, id""".stripMargin
}
