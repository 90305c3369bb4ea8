package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Relational

/** Lateral top-N decorrelation and per-event sessionization. */
class LateralSessionSpec extends SparkSpec {

  test("lateral top-2 == window row_number formulation") {
    val got = Relational.qLateralTopk(spark, sf)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = graft.engine.Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_totalprice"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // decorrelated: no per-row subquery remains in the physical plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Subquery"), "lateral should decorrelate to a join")
  }

  test("sessionize: gap rule on planted events") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // user 1: events at 0, 10, 50 min (gap 40 > 30 → new session), 60
    // user 2: single event
    val events = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(10), 1L, "view", 1.0, "{}"),
      (3L, ts(50), 1L, "click", 1.0, "{}"),
      (4L, ts(60), 1L, "view", 1.0, "{}"),
      (5L, ts(5), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempDir("graft_sess")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.qSessionize(spark, dir)
      .select(col("event_id"), col("session_seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L), s"got $got")
  }

  test("sessionize on the corpus: session_seq is per-user monotone from 1") {
    val out = Relational.qSessionize(spark, sf)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val bad = out.withColumn("prev_seq", lag(col("session_seq"), 1, 0L).over(w))
      .filter(col("session_seq") =!= col("prev_seq") &&
        col("session_seq") =!= col("prev_seq") + 1L)
      .count()
    assert(bad == 0, s"$bad rows violate session monotonicity")
  }
}
