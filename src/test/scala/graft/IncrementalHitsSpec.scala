package graft

import org.apache.spark.sql.functions._
import graft.engine.Graph

/** Incremental HITS over edge deltas: patching the stored per-round
  * history must land on EXACTLY the full-recompute integer scores,
  * with work proportional to the delta's influence cone. */
class IncrementalHitsSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  val dir = "/root/testdata/sf0.001"

  private def baseEdges = {
    import spark.implicits._
    graft.engine.Tables.customer(spark, dir).filter($"c_custkey" >= 1L)
      .select(expr("CAST(floor(c_custkey/2) AS BIGINT)").as("src"),
        $"c_custkey".as("dst"))
  }

  private def vec(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    df.select($"id", $"authority", $"hub").as[(Long, Long, Long)]
      .collect().sorted.toSeq
  }

  test("patched history equals a full recompute after an edge-delta batch") {
    import spark.implicits._
    val (hHist, aHist) = Graph.hitsHistory(baseEdges)

    // rewire node 100 under node 7, attach two brand-new nodes,
    // drop node 99's in-edge
    val added = Seq((7L, 100L), (100L, 9001L), (9001L, 9002L))
      .toDF("src", "dst")
    val removed = Seq((50L, 100L), (49L, 99L)).toDF("src", "dst")
    val edgesNew = baseEdges.exceptAll(removed).unionByName(added)

    val full = Graph.hits(edgesNew)
    val (inc, work) = Graph.hitsIncremental(edgesNew, added, removed,
      hHist, aHist)

    val (f, i) = (vec(full), vec(inc))
    assert(f == i, {
      val fm = f.map(t => t._1 -> t).toMap
      val im = i.map(t => t._1 -> t).toMap
      val diff = (fm.keySet ++ im.keySet)
        .filter(k => fm.get(k) != im.get(k)).take(5)
      s"scores differ at ${diff.map(k => (k, fm.get(k), im.get(k)))}"
    })
    assert(f.nonEmpty)

    // maintenance ∝ delta cone: total recomputed slots across the
    // 3 two-phase rounds must be far below |V| × rounds
    val n = edgesNew.select($"src").union(edgesNew.select($"dst"))
      .distinct().count()
    assert(work < n, s"incremental work $work should be < |V| = $n")
  }

  test("empty delta reproduces the stored scores with zero recomputation") {
    import spark.implicits._
    val (hHist, aHist) = Graph.hitsHistory(baseEdges)
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (inc, work) = Graph.hitsIncremental(baseEdges, empty, empty,
      hHist, aHist)
    assert(work == 0L, s"no delta must mean no recomputation ($work)")
    assert(vec(inc) == vec(Graph.hits(baseEdges)))
  }
}
