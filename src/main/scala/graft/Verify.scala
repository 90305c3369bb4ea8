package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/diffcheck.py). A query
  * that throws is reported, the others are still written, and the run
  * ends with a summary and exit status 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query subset (scale-sweep re-runs
    // of individual queries); the driver's 2-arg call dumps everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").map(_.trim).toSet))
      case _ => System.err.println("usage: Verify <sfDir> <outDir> [q_a,q_b,...]"); sys.exit(1)
    }
    val unknown = only.toSeq.flatten.filterNot(SparkEntry.queries.contains).sorted
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}"); sys.exit(1)
    }
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} queries " +
        s"failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
    System.err.println(s"[verify] all ${selected.size} queries written")
  }
}
