package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Approximate/sketch aggregates (the 100 TB substitutes for exact
  * DISTINCT/percentile — SURVEY.md §2.4 notes them as engine-provided).
  * No DuckDB oracle is possible (sketch internals differ per engine),
  * so these pin accuracy bounds against the exact answers instead. */
class SketchSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact (HLL)") {
    import spark.implicits._
    val li = graft.engine.Tables.lineitem(spark, dir)
    val row = li.agg(
      countDistinct($"l_orderkey").as("exact"),
      approx_count_distinct($"l_orderkey", 0.02).as("approx")).collect().head
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile within 2% of exact interpolated percentile") {
    import spark.implicits._
    val o = graft.engine.Tables.orders(spark, dir)
    val row = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"))
      .collect().head
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02, s"exact=$exact approx=$approx")
  }

  test("streaming foreachBatch sink lands every micro-batch in parquet") {
    val out = Files.createTempDirectory("graft_febatch").toString
    val q = graft.streaming.Streams.eventStream(spark, "/root/testdata/sf0.001")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(out).count()
    val expected = graft.engine.Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(landed == expected)
  }
}
