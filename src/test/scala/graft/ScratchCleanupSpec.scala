package graft

import org.apache.spark.sql.functions._

/** An index-lifecycle query must leave nothing behind, whether it
  * completes or throws while building its index: no temp dir it created,
  * no catalog table under its scratch name. The bad input is a corpus
  * whose `text` is a bigint, so the index build fails analysis after the
  * query has picked its scratch name. */
class ScratchCleanupSpec extends SparkSpec {

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

  private def leftovers(prefix: String): (Set[String], Set[String]) = (
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty[String])
      .filter(_.startsWith(prefix)),
    spark.catalog.listTables().collect().map(_.name).toSet
      .filter(_.startsWith(prefix)))

  test("a failed index build leaves no scratch dir or table: q_stream_delta, q_stream_compact") {
    val badSf = tempDir("graft_spec_badsf")
    spark.range(40).select(col("id").as("doc_id"), col("id").as("text"))
      .write.parquet(s"$badSf/documents.parquet")
    Seq("q_stream_delta" -> "graft_delta", "q_stream_compact" -> "graft_sabs")
      .foreach { case (query, prefix) =>
        val before = leftovers(prefix)
        intercept[Exception](SparkEntry.queries(query)(spark, badSf))
        val (dirs, tables) = leftovers(prefix)
        assert(dirs == before._1,
          s"$query leaked temp dirs: ${(dirs -- before._1).mkString(", ")}")
        assert(tables == before._2,
          s"$query leaked tables: ${(tables -- before._2).mkString(", ")}")
      }
  }

  test("a completed run leaves no scratch dir or table, its second index included") {
    Seq("q_corpus_compact" -> "graft_compact", "q_corpus_gc" -> "graft_gc",
      "q_ivf_serve" -> "graft_ivf_serve", "q_stream_absorb" -> "graft_sabs",
      "q_stream_delta" -> "graft_delta").foreach { case (query, prefix) =>
      val before = leftovers(prefix)
      assert(SparkEntry.queries(query)(spark, sf).count() > 0)
      assert(leftovers(prefix) == before, s"$query left ${leftovers(prefix)}")
    }
  }
}
