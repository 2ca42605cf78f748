package graft

import org.apache.spark.sql.functions._
import graft.engine.Graph

/** Incremental PageRank over edge deltas: converging from the previous
  * fixpoint must land on EXACTLY the full-recompute integer vector,
  * and the work must scale with the delta's reach, not the graph. */
class IncrementalPagerankSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  val dir = "/root/testdata/sf0.001"

  private def baseEdges = {
    import spark.implicits._
    graft.engine.Tables.customer(spark, dir).filter($"c_custkey" >= 1L)
      .select($"c_custkey".as("referred"),
        expr("CAST(floor(c_custkey/2) AS BIGINT)").as("referrer"))
  }

  private def vec(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.select($"id", $"rank_micro").as[(Long, Long)].collect().sorted.toSeq
  }

  test("delta-converged ranks are integer-identical to a full recompute") {
    import spark.implicits._
    val (r0, _) = Graph.pagerankFixpoint(baseEdges)
    val prev = r0.localCheckpoint()

    // delta batch: rewire node 100 under node 7, attach three brand-new
    // nodes under node 100, drop node 99's referral edge
    val added = Seq((100L, 7L), (9001L, 100L), (9002L, 100L), (9003L, 9001L))
      .toDF("referred", "referrer")
    val removed = Seq((100L, 50L), (99L, 49L)).toDF("referred", "referrer")
    val edgesNew = baseEdges.exceptAll(removed).unionByName(added)

    val (full, fullRounds) = Graph.pagerankFixpoint(edgesNew)
    val (inc, incRounds, work) =
      Graph.pagerankIncremental(edgesNew, prev, added, removed)

    val (f, i) = (vec(full), vec(inc))
    assert(f == i, {
      val fm = f.toMap; val im = i.toMap
      val diff = (fm.keySet ++ im.keySet)
        .filter(k => fm.get(k) != im.get(k)).take(5)
      s"vectors differ at ${diff.map(k => (k, fm.get(k), im.get(k)))}"
    })
    assert(f.nonEmpty && fullRounds > 0 && incRounds > 0)

    // maintenance ∝ delta: total recomputed node-slots across all
    // incremental rounds must be far below one full pass over the graph
    val n = edgesNew.select($"referred").union(edgesNew.select($"referrer"))
      .distinct().count()
    assert(work < n, s"incremental work $work should be < |V| = $n " +
      s"(full recompute costs |V| × $fullRounds)")
  }

  test("empty delta converges immediately with zero work") {
    import spark.implicits._
    val (r0, _) = Graph.pagerankFixpoint(baseEdges)
    val empty = Seq.empty[(Long, Long)].toDF("referred", "referrer")
    val (inc, rounds, work) =
      Graph.pagerankIncremental(baseEdges, r0.localCheckpoint(), empty, empty)
    assert(work == 0L && rounds == 0, s"no delta must mean no work ($work, $rounds)")
    assert(vec(inc) == vec(r0))
  }
}
