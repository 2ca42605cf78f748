package graft

import graft.engine.Dedup

/** Incremental connected components over append-only edge deltas:
  * merging on the contracted component graph must reproduce the full
  * recompute exactly, touching only affected components. */
class IncrementalComponentsSpec extends SparkSuite {
  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
  }

  test("contracted-graph merge equals full recompute after new edges") {
    import spark.implicits._
    // base: three chains (1-2-3-4), (10-11-12), (20-21) + singleton via 30-30 skipped
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("a", "b")
    val prev = Dedup.componentsStar(base).localCheckpoint()

    // delta: bridge chain 1 to chain 2 (merges two components), extend
    // chain 3 with brand-new nodes 22, 23
    val delta = Seq((4L, 10L), (21L, 22L), (22L, 23L)).toDF("a", "b")
    val full = Dedup.componentsStar(base.unionByName(delta))
    val (inc, work) = Dedup.componentsIncremental(prev, delta)

    assert(labels(inc) == labels(full),
      s"incremental ${labels(inc)} != full ${labels(full)}")
    // merged component 1∪2 collapses to min-id 1; new nodes join 20
    val m = labels(inc).toMap
    assert(m(12L) == 1L && m(23L) == 20L)
    // work = contracted nodes (labels + new nodes), far below corpus size
    assert(work > 0 && work < labels(full).size,
      s"contracted graph ($work) should be smaller than the corpus")
  }

  test("empty delta returns the previous labels untouched with zero work") {
    import spark.implicits._
    val base = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val prev = Dedup.componentsStar(base).localCheckpoint()
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val (inc, work) = Dedup.componentsIncremental(prev, empty)
    assert(work == 0L)
    assert(labels(inc) == labels(prev))
  }

  test("delta edges WITHIN one component change nothing but cost only the contraction") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val prev = Dedup.componentsStar(base).localCheckpoint()
    val delta = Seq((1L, 4L)).toDF("a", "b") // redundant in-component edge
    val (inc, work) = Dedup.componentsIncremental(prev, delta)
    // both endpoints map to the same label ⇒ contracted edge is a
    // self-loop, filtered out ⇒ no merge work at all
    assert(work == 0L)
    assert(labels(inc) == labels(prev))
  }
}
