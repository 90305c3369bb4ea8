package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built. Every main (Bench, Verify,
  * PlanAudit, tools.Profile) and the shared test session come through
  * here, so they agree on layout: `local[N]` with N shuffle partitions,
  * UTC session time, no UI. */
object Sessions {

  /** Host-derived slot count: `SPARK_GRAFT_CPUS` when set, else the
    * processors this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `warehouseDir` replaces the default `./spark-warehouse` (the test
    * session keeps its bucketed tables in a temp dir). */
  def local(cpus: Int, logLevel: String = "WARN",
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
