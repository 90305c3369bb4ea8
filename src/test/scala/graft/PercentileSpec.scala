package graft

import org.apache.spark.sql.functions._
import graft.engine.{NumExprs, Relational}

/** Pins the distributed histogram-refine percentile (Relational
  * .qPercentileDisc) to Spark's builtin collect-and-sort
  * `percentile_disc` — same values, every group, including tie-heavy and
  * tiny-n data where the `cum >= p·n` threshold sits exactly on a row —
  * and the monotonicity law of the SortableDoubleBits key it buckets by. */
class PercentileSpec extends SparkSpec {

  test("sortable bits preserve double order") {
    val vs = Seq(Double.NegativeInfinity, -1.7e308, -114000.5, -900.0,
      -1.0, -Double.MinPositiveValue, -0.0, 0.0, Double.MinPositiveValue,
      1e-300, 0.5, 1.0, 1.0000000000000002, 900.0, 114000.5, 1.7e308,
      Double.PositiveInfinity)
    import spark.implicits._
    val keys = vs.toDF("v").select(NumExprs.sortableBits(col("v")))
      .collect().map(_.getLong(0))
    assert(keys.sameElements(keys.sorted), "bit keys must be sorted when values are")
    assert(keys.distinct.length == keys.length, "distinct doubles need distinct keys")
  }

  test("histogram-refine percentile_disc equals the builtin on lineitem") {
    val ours = Relational.qPercentileDisc(spark, sf).collect()
    val builtin = engine.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    assert(ours.toSeq == builtin.toSeq)
  }

  test("histogram-refine exact median equals the builtin percentile on lineitem") {
    val ours = Relational.qPercentileExact(spark, sf).collect()
    val builtin = engine.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("med_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("med_price"),
        expr("percentile(l_discount, 0.5)").as("med_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    assert(ours.toSeq == builtin.toSeq)
  }

  test("histogram-refine exact median matches builtin on tie-heavy / tiny-n / even-odd groups") {
    import spark.implicits._
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    val pool = Array(-3.5, -0.0, 0.0, 1.25, 1.25, 7.0, 1e9)
    val data = (1 to 30).flatMap { g =>
      val n = (math.abs(next()) % 40 + 1).toInt // sizes 1..40, both parities
      (1 to n).map { _ =>
        val r = next()
        val v = if (g % 2 == 0) pool(math.abs(r % pool.length).toInt)
        else (r % 100000).toDouble / 7.0
        (s"g$g", v, v, v)
      }
    }
    val df = data.toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
    val dir = tempDir("graft_pexact")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ours = Relational.qPercentileExact(spark, dir).collect()
    val builtin = df.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("med_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("med_price"),
        expr("percentile(l_discount, 0.5)").as("med_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    // -0.0 vs 0.0: the builtin's Java-equals value map distinguishes the
    // two zero bit patterns; SQL value semantics (GROUP BY, =) define
    // -0.0 = 0.0 and the distributed form lives in SQL value space —
    // numerically identical answers, so compare zero-normalized
    def norm(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
      r.toSeq.map { case d: Double if d == 0.0 => 0.0; case x => x })
    assert(norm(ours.toSeq) == norm(builtin.toSeq))
  }

  test("histogram-refine matches builtin on tie-heavy / tiny-n groups") {
    import spark.implicits._
    // deterministic xorshift stream: groups of size 1..40, values drawn
    // from a 7-value pool (heavy ties) or continuous, mixed signs
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    val pool = Array(-3.5, -0.0, 0.0, 1.25, 1.25, 7.0, 1e9)
    val data = (1 to 30).flatMap { g =>
      val n = (math.abs(next()) % 40 + 1).toInt
      (1 to n).map { _ =>
        val r = next()
        val v = if (g % 2 == 0) pool(math.abs(r % pool.length).toInt)
        else (r % 100000).toDouble / 7.0
        (s"g$g", v)
      }
    }
    val df = data.toDF("l_returnflag", "l_extendedprice")
    val dir = tempDir("graft_pct")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ours = Relational.qPercentileDisc(spark, dir).collect()
    val builtin = df.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    assert(ours.length == 30)
    ours.zip(builtin).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }
}
