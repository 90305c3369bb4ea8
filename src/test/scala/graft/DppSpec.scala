package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Dynamic partition pruning: a fact table partitioned on the join key
  * must NOT be fully scanned when the dim side carries a selective
  * filter — Spark plants a dynamicpruning subquery into the fact scan's
  * partition filters at runtime. At 100 TB this is the difference
  * between reading one month and reading the lake when the filter
  * arrives through a join instead of directly on the fact. */
class DppSpec extends SparkSpec {

  test("join through a filtered dim prunes fact partitions dynamically") {
    val dir = tempDir("graft_dpp")
    // fact: orders partitioned by priority; dim: one row per priority
    Tables.orders(spark, sf)
      .write.partitionBy("o_orderpriority").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("p")).distinct()
      .withColumn("tier", when(col("p") < "3", "high").otherwise("low"))
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    try {
      // allow DPP even when the dim exchange is not reused as a broadcast
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      val joined = fact.join(dim,
          fact("o_orderpriority") === dim("p") && dim("tier") === "high")
      val expected = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") < "3").count()
      assert(joined.count() == expected)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"fact scan must carry a dynamicpruning partition filter:\n${plan.take(1500)}")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", v)
      case None    => conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }
}
