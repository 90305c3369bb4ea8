package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one session memo, for driver-side values that are costly
  * to derive and small to keep: table schemas, split decisions, k-bounded
  * query results.
  *
  * An entry is trusted only for the input it was computed from, as the
  * reference re-reads each entity's offset on every poll
  * (ChargeOverSourceTask.java:151-172). It stores, next to its value, the
  * path, length and modification time of every file under its input
  * paths; a lookup that finds them changed computes the value again and
  * replaces the entry in place.
  *
  * An entry may name its owner, the declared query whose timed sample
  * must pay the cold compute: Bench calls `evict(query)` before every
  * sample, and the owner's consumers keep the warm read. */
object Memo {

  /** What is memoized, the paths it is computed from, the confs that
    * decide its value, and the declared query that owns it. */
  private final case class Key(name: String, inputs: Seq[String], conf: Any,
      owner: Option[String])

  /** Locked while it computes, so a value that reads another memo (a
    * result loading its table) locks only its own entry. */
  private final class Slot { var fp: Seq[(String, Long, Long)] = _; var value: Any = _ }

  private val slots = new ConcurrentHashMap[Key, Slot]

  def apply[V](spark: SparkSession, name: String, inputs: Seq[String],
      conf: Any = (), owner: Option[String] = None)(compute: => V): V = {
    val fp = fingerprint(spark, inputs)
    val slot = slots.computeIfAbsent(Key(name, inputs, conf, owner), _ => new Slot)
    slot.synchronized {
      if (slot.fp != fp) { slot.value = compute; slot.fp = fp }
      slot.value.asInstanceOf[V]
    }
  }

  /** Drop every entry `owner` owns. */
  def evict(owner: String): Unit = { slots.keySet.removeIf(_.owner.contains(owner)); () }

  private[graft] def owners: Set[String] = slots.keySet.asScala.flatMap(_.owner).toSet

  /** A missing input fingerprints as empty, so `compute` fails with the
    * reader's own error. `getFileStatus`/`listStatus`, not `listFiles`:
    * located statuses also load permissions, which the local file system
    * reads with one shell command per file when Hadoop's native library
    * is absent (measured: +4 ms on a one-table build). */
  private def fingerprint(spark: SparkSession, inputs: Seq[String]): Seq[(String, Long, Long)] =
    inputs.flatMap { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files) else Seq(s)
      try files(fs.getFileStatus(p))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    }
}
