package graft

import org.apache.spark.sql.DataFrame
import graft.engine.Dedup

/** End-to-end incremental near-dup maintenance: signatures + index
  * probe + contracted-graph merge over a NEW document batch must
  * reproduce the full pipeline re-run on the union corpus. */
class IncrementalDedupSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  val dir = "/root/testdata/sf0.001"

  /** From-scratch state for a corpus: band index + canonical labels
    * (components over LSH pairs, singletons label themselves). */
  private def fullState(docs: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pairs = Dedup.pairsOf(docs).localCheckpoint()
    val clustered = Dedup.componentsStar(pairs)
    val singletons = docs.select($"doc_id")
      .join(pairs.select($"a".as("doc_id"))
        .union(pairs.select($"b".as("doc_id"))), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"))
    (Dedup.bandsOf(docs).localCheckpoint(),
      clustered.unionByName(singletons).localCheckpoint())
  }

  private def labelSet(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
  }

  test("batch ingest through the incremental path equals the full re-run") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val old = docs.filter($"doc_id" < 400L)
    val batch = docs.filter($"doc_id" >= 400L)
    assert(batch.count() > 0 && old.count() > 0)

    val (prevBands, prevLabels) = fullState(old)
    val (bands2, labels2) = Dedup.dedupIncremental(prevBands, prevLabels, batch)
    val (fullBands, fullLabels) = fullState(docs)

    // the maintained band index is the full index
    assert(bands2.count() == fullBands.count())
    assert(bands2.exceptAll(fullBands).count() == 0)

    // the maintained labels are row-identical to the full re-run
    val (inc, full) = (labelSet(labels2), labelSet(fullLabels))
    assert(inc == full, {
      val onlyInc = inc -- full; val onlyFull = full -- inc
      s"divergence: incremental-only ${onlyInc.take(5)}, full-only ${onlyFull.take(5)}"
    })
    // sanity: every document is labeled exactly once
    assert(labels2.select($"doc_id").distinct().count() == docs.count())
  }

  test("a batch with no collisions only appends singleton clusters") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val old = docs.filter($"doc_id" < 400L)
    val (prevBands, prevLabels) = fullState(old)
    // synthetic batch whose shingles exist nowhere in the corpus
    val batch = Seq(
      (9001L, "zz1 zz2 zz3 zz4 zz5"),
      (9002L, "yy1 yy2 yy3 yy4 yy5")).toDF("doc_id", "text")
    val (_, labels2) = Dedup.dedupIncremental(prevBands, prevLabels, batch)
    val m = labelSet(labels2).toMap
    assert(m(9001L) == 9001L && m(9002L) == 9002L)
    assert(labelSet(labels2) == labelSet(prevLabels) ++
      Set((9001L, 9001L), (9002L, 9002L)))
  }
}
