package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning — the AQE-era mechanism that cuts
  * the probe side of a shuffle join down to rows that can possibly
  * match, before the shuffle. At 100 TB this is the difference between
  * shuffling the whole fact table and shuffling the ~selectivity
  * fraction of it; the spec pins that Catalyst actually injects the
  * filter for the selective-dimension shape so a conf regression can't
  * silently drop it. */
class RuntimeFilterSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("selective dim filter injects a bloom filter on the fact side") {
    // force a shuffle join (broadcast joins don't need the filter) and
    // let the tiny fixture qualify as a "large" application side
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val orders = graft.engine.Tables.orders(spark, dir)
        .filter(col("o_orderkey") < 100)
      val li = graft.engine.Tables.lineitem(spark, dir)
      val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom runtime filter on lineitem:\n$plan")
      // and the filtered result still agrees with the unfiltered-join shape
      assert(joined.count() > 0)
    }
  }
}
