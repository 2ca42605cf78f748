package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Job-level observability: `Dataset.observe` attaches metric
  * expressions that are computed DURING the action (no second scan) —
  * the production pattern for row-count reconciliation and data-quality
  * gates on 100 TB pipelines, where a separate `count()` pass would
  * double the read. */
class ObservabilitySpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("observe() yields in-flight metrics that match a direct aggregation") {
    import spark.implicits._
    val li = graft.engine.Tables.lineitem(spark, dir)
    val obs = Observation("li_metrics")
    // metrics ride along with the real query's single scan
    val out = li.observe(obs,
        count(lit(1)).as("n_rows"),
        sum(graft.engine.Exact.scaled($"l_quantity")).as("qty_scaled"),
        count(when($"l_quantity" > 45.0, 1)).as("n_large"))
      .filter($"l_returnflag" === "R")
      .groupBy($"l_linestatus").agg(count(lit(1)).as("n"))
      .collect()
    assert(out.nonEmpty)
    val m = obs.get
    // observed metrics describe the FULL observed relation (pre-filter)
    val expect = li.agg(
      count(lit(1)), sum(graft.engine.Exact.scaled($"l_quantity")),
      count(when($"l_quantity" > 45.0, 1))).head()
    assert(m("n_rows") == expect.getLong(0))
    assert(m("qty_scaled") == expect.getLong(1))
    assert(m("n_large") == expect.getLong(2))
  }
}
