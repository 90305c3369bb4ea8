package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Micro-batch overhead profiler: drains the paged CDC source with
  * AvailableNow (q_paged_stream's exact shape) and prints each batch's
  * durationMs breakdown from StreamingQueryProgress: triggerExecution,
  * queryPlanning, walCommit, commitOffsets, getBatch, addBatch,
  * latestOffset. An AvailableNow drain of the paged source is one
  * micro-batch (all its polls run inside one `latestOffset`), so a clean
  * drain prints one line and pays the micro-batch protocol once. */
object DrainProf {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("DRAINPROF_FS_CFM"))
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
    val rows = if (args.length > 1) args(1) else "12000"
    val w = spark.readStream.format("graft.sources.PagedEntitySource")
      .option("rows", rows).option("pageSize", "500")
      .option("windowRows", "4000")
      .load()
      .writeStream.format("memory").queryName("drainprof")
      .outputMode("append").trigger(Trigger.AvailableNow())
    val q = (if (args.length > 0)
      w.option("checkpointLocation",
        s"${args(0)}/drainprof_cp_${System.nanoTime()}")
    else w).start()
    q.awaitTermination(300000)
    q.recentProgress.foreach { p =>
      println(s"[drainprof] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs}")
    }
    spark.stop()
  }
}
