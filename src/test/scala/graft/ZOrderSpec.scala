package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.engine.{Tables, ZOrder}

/** Morton clustering: the mask/shift ladder vs a bit-by-bit reference,
  * per-argument monotonicity, and — the actual point — a measured
  * row-group-skipping win on a z-ordered layout for filters on EITHER
  * key column. */
class ZOrderSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.toString)
  }

  /** Bit-by-bit reference interleave: a on even bits, b on odd. */
  private def mortonRef(a: Long, b: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 31) {
      out |= ((a >> i) & 1L) << (2 * i)
      out |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  test("morton2 equals the bit-by-bit reference on random 31-bit pairs") {
    import spark.implicits._
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0L, 0x7fffffffL), Gen.choose(0L, 0x7fffffffL)))
    check(Prop.forAll(gen) { pairs =>
      val df = pairs.toDF("a", "b")
        .select(ZOrder.morton2(col("a"), col("b")).as("z")).collect()
      df.map(_.getLong(0)).toSeq == pairs.map { case (a, b) => mortonRef(a, b) }
    })
  }

  test("morton2 is monotone in each argument with the other fixed") {
    import spark.implicits._
    val rows = (0L until 2048L).map(i => (i, 12345L)) ++
      (0L until 2048L).map(i => (54321L, i))
    val keys = rows.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.morton2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (varyA, varyB) = keys.partition(_._2 == 12345L)
    assert(varyA.sortBy(_._1).map(_._3).sliding(2).forall(w => w(0) < w(1)))
    assert(varyB.sortBy(_._2).map(_._3).sliding(2).forall(w => w(0) < w(1)))
  }

  test("q_zorder emits the interleaved key for real lineitem rows") {
    val rows = ZOrder.qZorder(spark, sf).collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      assert(r.getLong(4) == mortonRef(r.getLong(2), r.getLong(3)))
    }
    // clustered order: zkey ascending
    assert(rows.map(_.getLong(4)).sliding(2).forall(w => w(0) <= w(1)))
  }

  /** The scale claim, measured: the same 4-file parquet write, once
    * round-robin and once range-clustered on the morton key, then a
    * selective filter on each key column. Parquet row-group pruning (zone
    * maps) must read strictly less of the clustered layout — asserted on
    * the scan's actual output rows, not on plan text. */
  test("z-ordered layout: parquet zone maps skip row groups for both key columns") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = tempDir("graft_zorder")
    li.repartition(4).write.mode("overwrite").parquet(s"$base/plain")
    ZOrder.zorderLayout(li, "l_partkey", "l_suppkey", 4)
      .write.mode("overwrite").parquet(s"$base/zorder")

    def scannedRows(dir: String, filter: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(filter)
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      scans.map(_.metrics("numOutputRows").value).sum
    }

    val maxPart = li.agg(max(col("l_partkey"))).head().getLong(0)
    val maxSupp = li.agg(max(col("l_suppkey"))).head().getLong(0)
    for ((c, hi) <- Seq("l_partkey" -> maxPart, "l_suppkey" -> maxSupp)) {
      val pred = col(c) <= hi / 16 // ~6% of the key domain
      val plain = scannedRows(s"$base/plain", pred)
      val zed = scannedRows(s"$base/zorder", pred)
      // identical result either way…
      assert(spark.read.parquet(s"$base/plain").filter(pred).count() ==
        spark.read.parquet(s"$base/zorder").filter(pred).count())
      // …but the clustered layout must let zone maps skip real data
      assert(zed < plain,
        s"$c: z-ordered scan read $zed rows vs $plain on the round-robin layout — no skipping")
    }
  }
}
