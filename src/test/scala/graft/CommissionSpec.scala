package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import graft.engine.Commission

/** Unit tests for the commission dataflow against the reference's exact
  * semantics (FIXTURES.md §B canonical scenario; reference behavior at
  * render-complete-deploy.js:246-316). */
class CommissionSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.functions._

  /** Chain u0←u1←…←u11: referrals row (referrer=u_i, referred=u_{i+1}). */
  def chainEdges() = {
    import spark.implicits._
    (0 until 11).map(i => (s"u${i + 1}", s"u$i"))
      .toDF("referred_id", "referrer_id")
  }

  test("10-level depth cutoff: u11's ancestors are u10..u1, never u0") {
    import spark.implicits._
    val anc = Commission.ancestors(chainEdges(), 10)
      .filter($"descendant" === "u11")
      .collect().map(r => (r.getString(1), r.getLong(2))).sortBy(_._2)
    assert(anc.map(_._1).toSeq == (10 to 1 by -1).map(i => s"u$i"))
    assert(anc.map(_._2).toSeq == (1L to 10L))
    assert(!anc.map(_._1).contains("u0")) // root beyond maxLevels (ref :259)
  }

  test("root user with no inbound edge has no ancestors (ref :267)") {
    import spark.implicits._
    val anc = Commission.ancestors(chainEdges(), 10)
    assert(anc.filter($"descendant" === "u0").count() == 0)
  }

  /** Seeded random recursive forest: user i ≥ 1 is referred by a uniform
    * pick among users 0..i−1 (fan-out at the top, walks deeper than 10
    * levels), and the root u0 carries one edge with a NULL referrer. */
  def randomForest(n: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    ("u0", null: String) +: (1 until n).map(i => (s"u$i", s"u${rnd.nextInt(i)}"))
  }

  /** The reference's walk (render-complete-deploy.js:259-301), one user
    * at a time: up to `maxLevels` hops, ending at a missing edge or
    * after emitting a NULL referrer. */
  def walk(edges: Seq[(String, String)], maxLevels: Int): Seq[(String, String, Long)] = {
    val up = edges.toMap
    edges.flatMap { case (d, _) =>
      val out = Seq.newBuilder[(String, String, Long)]
      var cur = d
      var lvl = 1L
      while (lvl <= maxLevels && cur != null && up.contains(cur)) {
        out += ((d, up(cur), lvl))
        cur = up(cur)
        lvl += 1
      }
      out.result()
    }
  }

  test("closure on a random 3,000-user forest matches a plain walk, NULL referrer included") {
    import spark.implicits._
    val edges = randomForest(3000, 7L)
    val expected = walk(edges, 10)
    assert(expected.exists(_._3 == 10L), "the forest must have walks reaching the cutoff")
    assert(expected.exists(_._2 == null), "the root's NULL referrer must be reached")
    val anc = Commission.ancestors(edges.toDF("referred_id", "referrer_id"), 10)
    assert(anc.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("descendant", "string"), ("ancestor", "string"), ("level", "long")))
    val got = anc.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    def census(rows: Seq[(String, String, Long)]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(got.size == expected.size)
    assert(census(got) == census(expected))
  }

  test("closure plans one broadcast, reused per level, no shuffle, in 2 jobs") {
    import spark.implicits._
    def closure() =
      Commission.ancestors(randomForest(3000, 11L).toDF("referred_id", "referrer_id"), 10)
    // building and materializing the closure: one broadcast job, one scan job
    assert(jobsDuring(closure().collect()) <= 2)
    // count() adds only its own final aggregation job on top
    assert(jobsDuring(closure().count()) <= 3)
    def oneBroadcast(anc: org.apache.spark.sql.DataFrame): Unit = {
      anc.collect()
      val plan = anc.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.size == 1, plan)
      assert(collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size == 8, plan)
      assert(collectWithSubqueries(plan) { case x: ShuffleExchangeExec => x }.isEmpty, plan)
    }
    oneBroadcast(closure())
    // the same shape over an edge table the caller has persisted
    val edges = randomForest(3000, 11L).toDF("referred_id", "referrer_id").persist()
    try {
      edges.count()
      oneBroadcast(Commission.ancestors(edges, 10))
      assert(jobsDuring(Commission.ancestors(edges, 10).collect()) <= 2)
    } finally edges.unpersist()
  }

  test("canonical redemption: direct 10 to creator, passive 5x10, profit 40") {
    import spark.implicits._
    // package price 100.00, direct 0.10, passive 0.05; code created by uC
    // (outside the chain), redeemed by u11 (FIXTURES.md §B).
    val redemption = Seq((1L, "u11", "uC", 100.0))
      .toDF("redemption_id", "redeemer_id", "creator_id", "price")
    val comm = Commission.attribute(chainEdges(), redemption, 0.10, 0.05)
    val rows = comm.collect().map(r =>
      (r.getString(1), r.getDouble(2), r.getString(3))).toSeq

    assert(rows.count(_._3 == "direct") == 1)
    assert(rows.find(_._3 == "direct").get == (("uC", 10.0, "direct")))
    val passive = rows.filter(_._3 == "passive")
    assert(passive.size == 10) // exactly levels 1..10
    assert(passive.forall(_._2 == 5.0)) // flat per level, not decayed (ref :275)
    assert(passive.map(_._1).toSet == (1 to 10).map(i => s"u$i").toSet)

    val profit = Commission.companyProfit(redemption, comm)
      .collect().head
    assert(profit.getDouble(1) == 40.0) // 100 - (10 + 10*5)
    assert(profit.getDouble(2) == 60.0)
  }

  test("profit clamps at zero when commissions exceed price (ref :307)") {
    import spark.implicits._
    val redemption = Seq((1L, "u11", "uC", 100.0))
      .toDF("redemption_id", "redeemer_id", "creator_id", "price")
    val comm = Commission.attribute(chainEdges(), redemption, 0.10, 0.12)
    val profit = Commission.companyProfit(redemption, comm).collect().head
    assert(profit.getDouble(1) == 0.0) // max(0, 100 - (10 + 10*12)) = 0
  }

  test("redemption by mid-chain user only credits its own upline") {
    import spark.implicits._
    val redemption = Seq((1L, "u3", "uC", 100.0))
      .toDF("redemption_id", "redeemer_id", "creator_id", "price")
    val comm = Commission.attribute(chainEdges(), redemption, 0.10, 0.05)
    val passive = comm.filter($"ctype" === "passive")
      .collect().map(_.getString(1)).toSet
    assert(passive == Set("u2", "u1", "u0")) // only 3 ancestors exist
  }
}
