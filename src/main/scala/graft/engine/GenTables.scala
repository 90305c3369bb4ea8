package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one layout of the engine's generational index tables (the corpus
  * digests/buckets index, the BM25 docs/postings/tdf index and the IVF
  * serve table), and the one scratch scope the index-lifecycle queries
  * build them in.
  *
  * A family's table `${name}_$suffix` lives under `$dir/$suffix`, is hive-
  * partitioned on `gen` (the ingest generation that wrote the row) and
  * bucketed and sorted on the family's probe keys into [[Buckets]]
  * buckets. The bucketed layout lets every probe read the index without
  * an exchange (PlanSpec pins it); `gen` turns the as-of filter
  * `gen < g` into partition pruning, which is what makes a retried
  * classify-then-absorb batch deterministic, and makes a generation an
  * independently rewritable unit for [[compactTieredTables]]. */
object GenTables {

  /** Buckets of every index table: the probe side shuffles to this count,
    * the index side never reshuffles. 8 suits the test scales; at 100 TB
    * this is thousands — the contract (bucket on the join keys, sort
    * within buckets) is scale-independent. */
  private val Buckets = 8

  /** Write `df` as generation `gen` of `${name}_$suffix`. `Some(dir)`
    * (over)writes a fresh table at `$dir/$suffix`; `None` REPLACES
    * generation `gen` of the existing table — a retried write overwrites
    * its own generation — and refreshes it.
    *
    * The repartition ON THE BUCKET KEYS is the same murmur3 routing the
    * bucketed writer uses, so each write task holds exactly one bucket's
    * rows: one file per bucket per generation, instead of every input
    * split writing its own per-bucket slivers. The refresh is needed
    * because a `saveAsTable` append does not reliably invalidate the
    * session's cached file listing, so a later probe in the same session
    * would read the pre-append snapshot (observed: stream-absorb batch 3
    * missing batch 0's digests). */
  def write(spark: SparkSession, name: String, suffix: String,
      keys: Seq[String], df: DataFrame, gen: Long, dir: Option[String]): Unit = {
    val table = s"${name}_$suffix"
    val w = df.repartition(Buckets, keys.map(col): _*)
      .withColumn("gen", lit(gen))
      .write.format("parquet").mode(if (dir.isDefined) "overwrite" else "append")
      .partitionBy("gen")
      .bucketBy(Buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    dir match {
      case Some(d) => w.option("path", s"$d/$suffix").saveAsTable(table)
      case None =>
        dropGens(spark, table, Seq(gen))
        w.saveAsTable(table)
        spark.catalog.refreshTable(table)
    }
  }

  /** Drop the generations among `gens` that `table` holds on disk:
    * de-register each partition, then delete its directory (DROP
    * PARTITION keeps an external table's files, and a later append to
    * the same gen would read them back), and refresh the table.
    * Idempotent: a crash between the two steps leaves a directory the
    * retry drops again. */
  private def dropGens(spark: SparkSession, table: String, gens: Seq[Long]): Unit = {
    import org.apache.hadoop.fs.Path
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val present = gens.filter(g => fs.exists(new Path(loc, s"gen=$g")))
    present.foreach { g =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (gen=$g)")
      fs.delete(new Path(loc, s"gen=$g"), true)
    }
    if (present.nonEmpty) spark.catalog.refreshTable(table)
  }

  /** `table` as of generation `maxGenExclusive` (rows with `gen < g`), or
    * every generation, without the `gen` column. The filter keeps the
    * scan's bucket partitioning, so a probe of any as-of view stays
    * exchange-free. The always-true predicate of the full view prunes
    * nothing but forces the partition listing, so the relation carries
    * real size stats instead of unknown-huge — without it every join
    * against a small index gives up broadcast for a shuffled SMJ. */
  def asOf(spark: SparkSession, table: String,
      maxGenExclusive: Option[Long]): DataFrame = {
    val gen = col("gen")
    spark.table(table)
      .filter(maxGenExclusive.fold(gen >= Long.MinValue)(gen < _)).drop("gen")
  }

  /** Drop `tables`. */
  def drop(spark: SparkSession, tables: Seq[String]): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** A new session carrying `caller`'s runtime confs with autoBucketedScan
    * pinned OFF, for reads whose plan consumes nothing of the bucketing
    * (broadcast probe sides): DisableUnnecessaryBucketedScan would strip
    * the bucketed scan and take BUCKET PRUNING — the point of the layout
    * — with it. A session of its own, because setting the pin on the
    * caller's would leak it to concurrent queries (cloneSession is
    * private in Spark 4; static confs throw on set and are shared through
    * the context anyway). */
  def bucketPinned(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s
  }

  private val scratchRuns = new java.util.concurrent.atomic.AtomicInteger

  /** Run `body` with a fresh name `${prefix}_<n>` and a fresh temp dir —
    * every table and staged file of one query run lives under them — then,
    * whether `body` returned or threw, drop every catalog table named
    * `name` or `name_*` and delete the dir. `body`'s result must not read
    * the dir (cut it to a leaf first). */
  def scratch[T](spark: SparkSession, prefix: String)(body: (String, String) => T): T = {
    val name = s"${prefix}_${scratchRuns.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    try body(name, dir)
    finally {
      val catalog = spark.sessionState.catalog
      drop(spark, catalog.listTables(catalog.getCurrentDatabase, s"$name*",
        includeLocalTempViews = false).map(_.table)
        .filter(t => t == name || t.startsWith(s"${name}_")).sorted)
      deleteDirTree(dir)
    }
  }

  /** Best-effort recursive delete of a scratch dir. */
  private[graft] def deleteDirTree(dir: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try Files.delete(p) catch { case _: java.io.IOException => () })
      finally walk.close()
    }
  }

  /** Live-generation cap: a tiered pass seeing more generations than
    * this folds everything (major compaction) — the backstop that keeps
    * the partition listing bounded in every ingest regime. */
  private[graft] val MaxLiveGens = 6

  /** One tiered-compaction pass's accounting (spec pins read these):
    * which generations folded, the fresh generation they folded into, and
    * the byte split between rewritten (folded) and untouched (kept)
    * data — the bound the schedule exists to enforce. */
  final case class TierCompaction(foldedGens: Seq[Long], targetGen: Long,
      foldedBytes: Long, keptGens: Seq[Long], keptBytes: Long)

  /** The tiered fold over any set of gen-partitioned bucketed tables
    * (a family's `suffix -> keys` list under one `name`) —
    * IDEMPOTENT under crash-and-retry, which the in-loop schedule
    * requires: foreachBatch replays a failed batch, and the replayed pass
    * must FINISH an interrupted fold rather than wedge on its leftovers.
    *
    * The recovery protocol (in lieu of a transactional table format,
    * which is where a production deployment would stage this):
    *
    *  1. The fold plan is PUBLISHED before any table mutates — a one-line
    *     JSON manifest (`_tier_plan_gen_<g>.json`, underscore-prefixed so
    *     scans ignore it) created under the first table's location via
    *     write-to-temp + atomic rename. A pass that finds its own
    *     manifest resumes THAT plan instead of recomputing one from the
    *     half-mutated layout. A manifest whose fold gens are ALL gone
    *     from the live listing with no target and no commit markers is an
    *     abandoned run's leftover (batch ids restarted under a fresh
    *     checkpoint) — it is deleted and planning starts fresh, instead
    *     of "resuming" a plan over generations that no longer exist.
    *  2. Per table, in order: a per-table COMMIT MARKER
    *     (`_tier_done_gen_<g>_<i>`, created via write-temp + atomic
    *     rename AFTER the append and its catalog registration both
    *     completed) is the only evidence that table `i`'s fold committed.
    *     Target-directory existence is NOT trusted: Spark's dynamic
    *     partition job commit moves files into the fresh partition dir
    *     non-atomically, so a crash mid-commit leaves a partial
    *     `gen=<target>` that LOOKS complete. On resume, a table without
    *     its marker has any partial target partition dropped and deleted,
    *     then the append re-runs over the fold gens — which are
    *     guaranteed still present, because a table's fold partitions are
    *     only dropped AFTER its marker is on disk. Then drop + delete the
    *     fold partitions (both idempotent).
    *  3. Cleanup removes the manifest FIRST, then the markers. Markers
    *     are consulted only while the manifest exists, so a crash between
    *     the two deletes leaves harmless orphans that the next retried
    *     batch garbage-collects on its no-op path (no manifest + target
    *     present → None).
    *
    * Every step is either idempotent or fenced by an atomic marker, so
    * any crash point — including mid-job-commit of an append — replays to
    * the same final layout. Failpoints for the spec: `crashAfterTables`
    * throws after that many tables fully completed (the between-tables
    * window); `tornAppendAt` commits table i's append, then deletes one
    * of its data files and throws BEFORE the marker — the torn
    * mid-job-commit state where the target dir exists but is missing
    * rows.
    *
    * `foldAll` plans the major compaction on every pass: all candidates
    * fold, as the [[MaxLiveGens]] backstop does. A resumed pass follows
    * its manifest either way. */
  private[graft] def compactTieredTables(spark: SparkSession, name: String,
      tables: Seq[(String, Seq[String])], currentGen: Long,
      foldAll: Boolean = false,
      crashAfterTables: Int = Int.MaxValue,
      tornAppendAt: Int = -1): Option[TierCompaction] = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sessionState.newHadoopConf()
    val locs = tables.map { case (suffix, _) =>
      new Path(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_$suffix")).location)
    }
    def genBytes(loc: Path): Map[Long, Long] = {
      val fs = loc.getFileSystem(hconf)
      fs.listStatus(loc).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
        .map(s => s.getPath.getName.stripPrefix("gen=").toLong ->
          fs.getContentSummary(s.getPath).getLength)
        .toMap
    }
    val bytes = locs.map(genBytes).reduce { (a, b) =>
      (a.keySet ++ b.keySet).iterator
        .map(g => g -> (a.getOrElse(g, 0L) + b.getOrElse(g, 0L))).toMap
    }
    val target = -(currentGen + 2)
    val headFs = locs.head.getFileSystem(hconf)
    val manifest = new Path(locs.head, s"_tier_plan_gen_$currentGen.json")
    def marker(i: Int) = new Path(locs.head, s"_tier_done_gen_${currentGen}_$i")
    def deleteMarkers(): Unit =
      tables.indices.foreach { i => headFs.delete(marker(i), false); () }
    val planned: Option[Seq[Long]] =
      if (headFs.exists(manifest)) {
        // resume: the interrupted pass's plan, not a fresh one over the
        // half-mutated layout
        val in = headFs.open(manifest)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
        require(node.get("target").asLong() == target,
          s"tiered compaction: manifest $manifest targets gen " +
            s"${node.get("target").asLong()}, expected $target")
        val arr = node.get("fold")
        val f = (0 until arr.size()).map(arr.get(_).asLong())
        // stale-manifest guard: an abandoned run's plan (fresh checkpoint
        // restarted batch ids) names generations that no longer exist
        // anywhere, wrote no target, and committed no table — resuming it
        // would fold nothing yet swallow this batch's real maintenance.
        // Discard it and plan fresh over the live layout.
        val abandoned = f.forall(!bytes.contains(_)) &&
          !bytes.contains(target) && tables.indices.forall(i => !headFs.exists(marker(i)))
        if (abandoned) { headFs.delete(manifest, false); None } else Some(f)
      } else if (bytes.contains(target)) {
        // the pass for this batch already COMPLETED (manifest removed at
        // the end) and the batch was retried — nothing left to fold; GC
        // any markers orphaned by a crash between the two cleanup deletes
        deleteMarkers()
        return None
      } else None
    val fold: Seq[Long] = planned match {
      case Some(f) => f
      case None =>
        val candidates = bytes - currentGen
        val maxBytes = if (candidates.isEmpty) 0L else candidates.values.max
        val f =
          if (foldAll || bytes.size > MaxLiveGens) candidates.keys.toSeq.sorted
          else candidates.filter(_._2 * 2 <= maxBytes).keys.toSeq.sorted
        if (f.size < 2) return None
        val tmp = new Path(locs.head, s"._tier_plan_gen_$currentGen.tmp")
        val out = headFs.create(tmp, true)
        try out.write(
          s"""{"target":$target,"fold":[${f.mkString(",")}]}""".getBytes("UTF-8"))
        finally out.close()
        if (!headFs.rename(tmp, manifest))
          throw new java.io.IOException(s"could not publish fold plan $manifest")
        f
    }
    var done = 0
    tables.zip(locs).zipWithIndex.foreach { case (((suffix, keys), loc), i) =>
      val t = s"${name}_$suffix"
      val fs = loc.getFileSystem(hconf)
      if (headFs.exists(marker(i))) {
        // the marker is written only after BOTH the append's job commit
        // and saveAsTable's catalog registration — this table's fold is
        // durably complete; re-register for belt and braces (idempotent)
        spark.sql(s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION (gen=$target)")
      } else {
        // no marker ⇒ the append is NOT known committed, whatever the
        // directory listing says: dynamic-partition job commit moves
        // files into the fresh partition dir one at a time, so a crash
        // mid-commit leaves a partial gen=<target> that looks real. Redo
        // the append (`write` replaces such a torn partition); this
        // table's fold gens are still present, as they are only dropped
        // after its marker is on disk. A fold gen can be absent from ONE
        // table (an absorb that found nothing new there writes no
        // partition) — fold what exists.
        val present = fold.filter(g => fs.exists(new Path(loc, s"gen=$g")))
        // append-from-self is safe here: the pruned scan's file listing is
        // snapshotted at planning and the write lands only under the (new)
        // target partition, disjoint from every file being read.
        // distinct() is load-bearing, not just a dedup: without a
        // real bucketing consumer the planner elides the repartition AND
        // disables the bucketed scan — per-input-file write tasks,
        // multi-file buckets, no compaction (observed: 22 files for 8
        // buckets). Rows are unique across generations anyway (each
        // absorbed generation holds only keys absent from every earlier
        // one), so distinct changes nothing semantically.
        if (present.nonEmpty)
          write(spark, name, suffix, keys, spark.table(t)
            .filter(col("gen").isInCollection(present)).drop("gen").distinct(),
            target, dir = None)
        if (i == tornAppendAt) {
          // failpoint: the append's job commit finished but the process
          // dies before the marker — and the commit itself was torn,
          // leaving the target partition missing one of its files
          val part = fs.listStatus(new Path(loc, s"gen=$target"))
            .filter(_.getPath.getName.startsWith("part-")).head.getPath
          fs.delete(part, false)
          throw new IllegalStateException(
            s"injected torn append in table $i ($t): $part lost mid-commit")
        }
        // atomic commit record: write-temp + rename, same discipline as
        // the manifest — dir existence is never evidence, this is
        val mtmp = new Path(locs.head, s"._tier_done_gen_${currentGen}_$i.tmp")
        headFs.create(mtmp, true).close()
        if (!headFs.rename(mtmp, marker(i)) && !headFs.exists(marker(i)))
          throw new java.io.IOException(s"could not commit fold marker ${marker(i)}")
      }
      dropGens(spark, t, fold)
      done += 1
      if (done >= crashAfterTables && done < tables.size)
        throw new IllegalStateException(
          s"injected tiered-compaction crash after $done of ${tables.size} tables")
    }
    // manifest first, then markers: markers are only consulted while the
    // manifest exists, so a crash between the deletes leaves orphans the
    // next retry GCs, never a mis-resume
    headFs.delete(manifest, false)
    deleteMarkers()
    // on a fresh pass this is the exact byte split; a RESUMED pass
    // reports whatever the interrupted run had not yet folded (already-
    // dropped gens read 0) — the layout outcome is identical either way
    val kept = (bytes.keySet -- fold - target).toSeq.sorted
    Some(TierCompaction(fold, target,
      fold.map(bytes.getOrElse(_, 0L)).sum, kept, kept.map(bytes).sum))
  }
}
