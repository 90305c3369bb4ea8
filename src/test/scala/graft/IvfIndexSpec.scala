package graft

import org.apache.spark.sql.functions._
import graft.engine.{IvfIndex, LlmOps, Tables}

/** Persistent IVF index: the build/probe separation must (a) return
  * exactly what the inline q_sim_ivf plan returns for the same
  * parameters (train is deterministic), and (b) physically scan only the
  * probed cell partitions. */
class IvfIndexSpec extends SparkSpec {

  test("probe over the persisted index == inline q_sim_ivf; scans only probed cells") {
    val dir = tempDir("graft_ivf")
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(emb, dir, k = 16, iters = 2)

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val fromIndex = IvfIndex.probe(spark, dir, queries, nprobe = 2, topk = 3)
    val inline = LlmOps.qSimIvf(spark, sf)
    assert(fromIndex.count() > 0)
    assert(fromIndex.exceptAll(inline).count() == 0 &&
      inline.exceptAll(fromIndex).count() == 0,
      "index probe must reproduce the inline IVF query exactly")

    // partition pruning: the probed read touches fewer cell directories
    // than the index holds
    val all = spark.read.parquet(s"$dir/cells")
    val cids = IvfIndex.probedCells(spark, dir, queries, nprobe = 2)
    val pruned = all.filter(col("cid").isin(cids: _*))
    assert(cids.nonEmpty && cids.size < 16, s"expected a strict cell subset, got $cids")
    // the cid predicate must land in PartitionFilters (directory-level
    // pruning), not PushedFilters/post-scan — cells/cid=N dirs outside the
    // probe set are skipped at file listing
    val scan = pruned.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cid IN") || pf.contains("cid#"),
      s"cid filter must be a partition filter, plan:\n${scan.take(1500)}")
  }
}
