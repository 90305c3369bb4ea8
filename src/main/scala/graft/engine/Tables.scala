package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Table loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loaders are plain `spark.read.parquet` scans: the parquet footer
  * carries the schema, the vectorized reader handles decoding, and Catalyst
  * pushes filters/projections into the scan (`PushedFilters`/`ReadSchema`).
  * At 100 TB the same call reads a partitioned directory tree; nothing here
  * assumes single-file layout.
  *
  * Mirrors the reference's entity-as-stream model
  * (ChargeOverSourceConnectorConfig.java:79-83 — a config-driven list of
  * entity names, one logical table per entity): here an entity name maps to
  * one parquet table under the scale-factor directory.
  */
object Tables {
  /** One entity == one table (reference: ChargeOverSourceTask.java:84-90).
    * The schema is memoized ([[Memo]]): inference reads parquet footers on
    * every call (~90 ms at sf0.1). nanosAsLong is in the key: it flips
    * TIMESTAMP(NANOS) columns between LongType and an error. */
  def load(spark: SparkSession, sfDir: String, entity: String): DataFrame = {
    val path = s"$sfDir/$entity.parquet"
    val sch = Memo(spark, "schema", Seq(path),
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong"))(
      spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads via
    * the nanos-as-long legacy path. We truncate to micros (`div 1000`, an
    * integral divide — a double divide would lose precision above 2^53 ns)
    * to match DuckDB's own µs truncation, so oracle comparisons agree.
    * Conf is set at read time so this works under any caller's session.
    *
    * The NanosRangePushdown rule (installed here, idempotent) rewrites
    * range predicates on the converted column back onto the raw long so
    * they still reach the parquet scan as PushedFilters. */
  def events(s: SparkSession, d: String): DataFrame = {
    graft.plans.NanosRangePushdown.install(s)
    normalizeTs(eventsRaw(s, d))
  }

  /** Normalize an events frame's `ts` to session-local TIMESTAMP (LTZ),
    * whatever encoding the parquet writer chose — the one conversion both
    * the batch and the file-source streaming paths share:
    *
    *  - INT64 ns read via nanosAsLong → `ts div 1000` truncated to µs
    *    (integral divide; a double divide loses precision above 2^53 ns),
    *    matching DuckDB's own ns→µs truncation;
    *  - µs with isAdjustedToUTC=false (DuckDB/Hive writers) → Spark reads
    *    TIMESTAMP_NTZ; under the UTC session the cast to LTZ is wall-clock
    *    identity, and downstream unix_micros/window functions require LTZ;
    *  - already-LTZ µs passes through. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Raw events read (ts as nanosecond long) — streaming needs the
    * pre-conversion schema. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }
  /** Rebalance a COMPUTE-heavy corpus scan whose split planning came out
    * degenerate. Spark plans file splits by compressed bytes (with a 4 MB
    * open-cost floor), which is right for IO-bound scans but wrong for
    * text/vector corpora: dictionary compression squeezes 500 k documents
    * into ~5 MB, so the whole corpus lands on 1-2 tasks and every
    * downstream tokenize/hash/fold runs single-threaded (measured at
    * sf10: the entire doc-query family pinned one core of 32; a shingle
    * query sat at 100%-of-one-CPU for minutes). One round-robin shuffle of
    * the raw rows — costing the corpus' compressed size, the cheapest
    * stage these pipelines have — buys back full parallelism. Guarded: a
    * production corpus (many files/row groups ≥ cluster cores) plans
    * enough splits and the rebalance is a no-op. The split-count probe
    * (~40 ms driver-side) is memoized ([[Memo]]) under the scanned paths
    * and the settings split planning reads. */
  private[engine] def rebalancedMemo(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val c = s.sessionState.conf
    val paths = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }.flatten
    val few = Memo(s, "split", paths,
      (cores, c.filesMaxPartitionBytes, c.filesOpenCostInBytes))(
      df.rdd.getNumPartitions * 2 < cores)
    if (few) df.repartition(cores) else df
  }

  def documents(s: SparkSession, d: String): DataFrame =
    rebalancedMemo(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    rebalancedMemo(s, load(s, d, "embeddings"))

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view (events with the normalized
    * timestamp) so `spark.sql` users query by name — the SQL-facing entry
    * point for anyone switching from the reference's entity list. */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, d) else load(s, d, n)
      df.createOrReplaceTempView(n)
    }
}
