package graft

import org.apache.spark.sql.functions._
import graft.engine.Dedup

/** Hot-band skew evidence (SCALE.md): an LSH band bucket stuffed with
  * boilerplate-identical documents must not put its whole n² pair
  * matrix on one reducer. Dedup.bucketPairsSkewAware spreads a hot
  * bucket over an s×s salt grid; this spec plants a hot bucket in a
  * fixture and asserts (a) the pair set is EXACTLY the naive self-join
  * result, and (b) the per-partition pair count is bounded well below
  * the hot bucket's full matrix (the single-reducer failure mode).
  * AQE is disabled so partition counts are deterministic to assert on.
  */
class SkewSpec extends SparkSuite {
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")(super.withFixture(test))

  private def fixture = {
    import spark.implicits._
    // one hot bucket (120 members → 7140 pairs) + three cold buckets
    val hot = (0L until 120L).map(i => ("HOT", i))
    val cold = for (b <- Seq("A", "B", "C"); i <- 0L until 10L)
      yield (b, 1000L + b.hashCode.toLong * 100 + i)
    (hot ++ cold).toDF("k", "id")
  }

  test("salt-grid pairs equal the naive self-join pair set") {
    val rows = fixture
    val skewAware = Dedup.bucketPairsSkewAware(rows, "k", "id",
      hotThreshold = 50L, s = 8)
    val naive = rows.alias("a")
      .join(rows.alias("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    assert(skewAware.exceptAll(naive).isEmpty && naive.exceptAll(skewAware).isEmpty)
    assert(skewAware.count() === 120L * 119 / 2 + 3 * (10L * 9 / 2))
  }

  test("no partition carries more than a grid cell's share of the hot bucket") {
    val pairs = Dedup.bucketPairsSkewAware(fixture, "k", "id",
      hotThreshold = 50L, s = 8)
    val sizes = pairs.rdd.mapPartitions(it => Iterator(it.size)).collect()
    val hotTotal = 120 * 119 / 2
    // 64 grid cells hashed over 8 shuffle partitions: cells clump, but
    // no partition should come anywhere near the full matrix — that
    // would mean the grid degenerated back to a single reducer.
    assert(sizes.max < hotTotal / 2,
      s"skewed partition: max=${sizes.max} of total=$hotTotal, sizes=${sizes.toSeq}")
  }
}
