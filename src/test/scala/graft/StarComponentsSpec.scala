package graft

import graft.engine.Dedup

/** Large-star/small-star connected components (Dedup.componentsStar):
  * the adversarial-diameter variant of the dedup clustering stage.
  * Min-label propagation (Dedup.components) moves labels ONE hop per
  * round — a chain-shaped component of diameter d needs d shuffles.
  * Star contraction converges in O(log d) rounds; this spec pins both
  * the correctness (against a driver-side union-find ground truth) and
  * the round bound on a 300-node chain that per-hop propagation could
  * not finish inside its 32-round cap.
  */
class StarComponentsSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("300-node chain: correct single component in O(log d) rounds") {
    import spark.implicits._
    val chain = (0L until 299L).map(i => (i, i + 1))
    val (labels, rounds) = Dedup.componentsStarWithRounds(
      chain.toDF("a", "b"))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 300)
    assert(got.values.forall(_ == 0L), "all chain nodes must label to the min (0)")
    assert(rounds <= 15,
      s"star contraction should need ~log2(300) rounds, took $rounds " +
        "(per-hop label propagation would need 299)")
  }

  test("mixed component shapes match a union-find ground truth") {
    import spark.implicits._
    // clique ∪ chain ∪ star ∪ two isolated edges, shuffled labels
    val clique = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val chain = (100L until 120L).map(i => (i, i + 1))
    val star = (1000L until 1008L).map(i => (2000L, i))
    val pairs = Seq((5000L, 5001L), (6001L, 6000L))
    val edges = scala.util.Random.javaRandomToRandom(new java.util.Random(42))
      .shuffle(clique ++ chain ++ star ++ pairs)
    val truth = unionFind(edges)
    val got = Dedup.componentsStar(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == truth)
  }
}
