package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.engine.{Tables => T}
import graft.engine.Exact._

/** The referral/commission dataflow — the reference's only nontrivial
  * computation (`processPassiveCommissions`,
  * render-complete-deploy.js:246-316): walk ≤10 levels up the referral
  * edge table from a redeeming user, pay each ancestor a flat
  * `price × passive_rate` (:275, not decayed by level), pay the code
  * creator `price × direct_rate` (:216-224), and record
  * `company_profit = max(0, price − total_commissions)` (:303-307).
  *
  * The reference walks the graph one SQL round trip per level (an N+1,
  * :262-301). Here the walk is set-at-a-time: `ancestors()` expands ALL
  * users' uplines in one plan — a chain of `maxLevels − 1` left joins
  * against one broadcast copy of the thin edge map, so the whole walk
  * is one broadcast and one scan, with no shuffle, regardless of user
  * count.
  */
object Commission {

  /** Transitive ancestor closure to `maxLevels`.
    *
    * Precondition: `edges` is a forest — at most one referrer per
    * referred user, which the reference enforces at insert
    * (render-complete-deploy.js:494-497). On such input each
    * (descendant, level) has at most one row. A user referred twice
    * yields one row per upline chain, not per path.
    *
    * The edge map is broadcast once and probed `maxLevels − 1` times in
    * a chain, giving one wide row `descendant, a1 … aN` per edge; the
    * identical broadcasts are planned as one exchange plus
    * `ReusedExchange`s, and the probes fuse into one codegen stage. The
    * wide row is unpivoted with `posexplode`. A NULL `referrer_id` yields
    * its one row with a NULL ancestor and ends that walk. The result is
    * plain lineage: a caller that reads it more than once persists it.
    *
    * @param edges (referred_id, referrer_id) adjacency rows — the
    *              reference's `referrals` table (render-complete-deploy.js:86-91).
    * @return (descendant, ancestor, level: long) with level in 1..maxLevels.
    */
  def ancestors(edges: DataFrame, maxLevels: Int = 10): DataFrame = {
    require(maxLevels >= 1, s"maxLevels must be at least 1, got $maxLevels")
    val e = edges.select(col("referred_id"), col("referrer_id"))
    // Over an edge table whose plan reads cached data, each probe would
    // scan the cache as its own table-cache query stage; adaptive
    // execution never reuses those stages, so the broadcasts above them
    // would not match either. The probes read the cached rows through
    // one RDD instead, whose scans are identical: one broadcast again.
    val probed = if (e.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
      e.sparkSession.createDataFrame(e.rdd, e.schema) else e
    // The edge table is thin (two keys per user) — broadcast it so every
    // probe is shuffle-free. On a cluster where users outgrow the
    // broadcast threshold, drop the hint (AQE falls back to shuffle joins).
    def hop(l: Int) = broadcast(probed.select(col("referred_id").as(s"d$l"),
      col("referrer_id").as(s"a$l")))
    val wide = (2 to maxLevels).foldLeft(
      e.select(col("referred_id").as("descendant"), col("referrer_id").as("a1"))) {
      (acc, l) => acc.join(hop(l), col(s"a${l - 1}") === col(s"d$l"), "left")
    }
    // Level l exists iff its probe matched (d_l is the matched, non-null
    // key), not iff a_l is non-null: a NULL referrer is still a row.
    val steps = array((1 to maxLevels).map { l =>
      val step = struct(col(s"a$l").as("ancestor"))
      if (l == 1) step else when(col(s"d$l").isNotNull, step)
    }: _*)
    wide.select(col("descendant"), posexplode(steps).as(Seq("pos", "step")))
      .filter(col("step").isNotNull)
      .select(col("descendant"), col("step.ancestor").as("ancestor"),
        (col("pos") + 1).cast("long").as("level"))
  }

  /** Full attribution for a batch of redemption events — the set-based
    * replacement for the reference's per-redemption cascade
    * (render-complete-deploy.js:208-316).
    *
    * @param redemptions (redemption_id, redeemer_id, creator_id, price)
    * @return commission rows (redemption_id, user_id, amount, ctype, level)
    *         — ctype 'direct' to the creator, 'passive' to each ancestor.
    */
  def attribute(edges: DataFrame, redemptions: DataFrame,
                directRate: Double, passiveRate: Double,
                maxLevels: Int = 10): DataFrame = {
    val anc = ancestors(edges, maxLevels)
    val direct = redemptions.select(
      col("redemption_id"), col("creator_id").as("user_id"),
      (col("price") * directRate).as("amount"),
      lit("direct").as("ctype"), lit(0L).as("level"))
    val passive = redemptions
      .join(anc, redemptions("redeemer_id") === anc("descendant"))
      .select(col("redemption_id"), col("ancestor").as("user_id"),
        (col("price") * passiveRate).as("amount"),
        lit("passive").as("ctype"), col("level"))
    direct.unionByName(passive)
  }

  /** Per-redemption company profit, clamped at zero
    * (render-complete-deploy.js:303-307: `Math.max(0, price − total)`). */
  def companyProfit(redemptions: DataFrame, commissions: DataFrame): DataFrame = {
    val paid = commissions.groupBy("redemption_id")
      .agg(sum("amount").as("commission_paid"))
    redemptions.join(paid, Seq("redemption_id"), "left")
      .select(col("redemption_id"),
        greatest(lit(0.0), col("price") - coalesce(col("commission_paid"), lit(0.0)))
          .as("profit"),
        coalesce(col("commission_paid"), lit(0.0)).as("commission_paid"))
  }

  // ---------------------------------------------------------------------
  // Verified queries over the testdata: a deterministic referral forest
  // derived from customer keys (referrer(c) = floor(c/2), a binary tree
  // rooted at customer 0 — depth ~log2(n), so the 10-level cutoff is
  // actually exercised at sf0.01+), with orders as redemption events.
  // ---------------------------------------------------------------------
  type Q = (SparkSession, String) => DataFrame

  /** Edge table derived from testdata: customer c (≥1) was referred by
    * floor(c/2). */
  def testEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.customer(s, dir).filter($"c_custkey" >= 1L)
      .select($"c_custkey".as("referred_id"),
        floor($"c_custkey" / 2).cast("long").as("referrer_id"))
  }

  /** Memoized 10-level closure over the testdata edges — four verified
    * queries consume it, so it is the materialized-view case: build once
    * per (session, dataset), persist, reuse. The closure keeps the edge
    * scan's partitioning (one partition for a small table), so it is
    * spread over the cores once before persisting: every consumer then
    * scans it in parallel (q31 at sf0.1 on local[4], warm: 0.74 s on
    * one partition, 0.69 s spread over four). */
  private val ancCache = new SessionMemo[String]
  def testAncestors(s: SparkSession, dir: String): DataFrame =
    ancCache.getOrElseUpdate(s, dir)(ancestors(testEdges(s, dir), 10)
      .repartition(s.sparkContext.defaultParallelism, col("descendant")).persist())

  private val edgesCte =
    """edges AS (SELECT c_custkey AS referred, CAST(floor(c_custkey/2) AS BIGINT) AS referrer
      |          FROM customer WHERE c_custkey >= 1),
      |anc(descendant, ancestor, lvl) AS (
      |  SELECT referred, referrer, CAST(1 AS BIGINT) FROM edges
      |  UNION ALL
      |  SELECT a.descendant, e.referrer, a.lvl + 1
      |  FROM anc a JOIN edges e ON e.referred = a.ancestor
      |  WHERE a.lvl < 10)""".stripMargin

  val queries: Map[String, Q] = Map(
    // The raw bounded transitive closure (10-level upline walk, §2.6).
    "q30_upline_ancestors" -> ((s, dir) => {
      import s.implicits._
      testAncestors(s, dir)
        .filter($"descendant" < 200L)
        .orderBy($"descendant", $"level")
    }),

    // AG5: passive accumulation per ancestor across all redemptions.
    // Orders pre-aggregate to one row per customer BEFORE the
    // ancestor join — the join then multiplies ≤10 ancestor rows by
    // |customers| instead of |orders| (at 100 TB: the difference
    // between shuffling the fact table ×10 and shuffling a dimension).
    // Scaled-integer partial sums re-aggregate exactly.
    "q31_passive_commissions" -> ((s, dir) => {
      import s.implicits._
      val anc = testAncestors(s, dir)
      val perCust = T.orders(s, dir).groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(scaled(lit(0.05) * $"o_totalprice")).as("passive_scaled"))
      anc.join(perCust, $"descendant" === $"o_custkey")
        .groupBy($"ancestor")
        .agg(sum($"n_orders").as("n_credits"),
          (sum($"passive_scaled").cast("double") / 10000.0).as("total_passive"))
        .orderBy($"ancestor")
    }),

    // Full per-redemption attribution: direct (level-1 referrer as
    // creator), passive to ≤10 ancestors, profit clamped at 0 (AG6).
    // passive_rate=0.12 so deep chains exercise the clamp.
    "q32_commission_attribution" -> ((s, dir) => {
      import s.implicits._
      val o = T.orders(s, dir)
      val anc = testAncestors(s, dir)
      val perUser = anc.groupBy($"descendant")
        .agg(count(lit(1)).as("n_ancestors"),
          max(when($"level" === 1L, $"ancestor")).as("direct_referrer"))
      val directAmt = when($"direct_referrer".isNotNull, $"o_totalprice" * 0.10)
        .otherwise(0.0)
      val passiveTotal =
        ($"o_totalprice" * 0.12) * coalesce($"n_ancestors", lit(0L)).cast("double")
      o.join(perUser, $"o_custkey" === $"descendant", "left")
        .select($"o_orderkey", $"o_custkey",
          $"direct_referrer",
          coalesce($"n_ancestors", lit(0L)).as("n_ancestors"),
          directAmt.as("direct_amt"),
          passiveTotal.as("passive_total"),
          greatest(lit(0.0), $"o_totalprice" - directAmt - passiveTotal).as("profit"))
        .orderBy($"o_orderkey")
    }),

    // §2.6 one-statement alternative: Spark 4's native WITH RECURSIVE
    // executes the same bounded walk inside Catalyst (SURVEY.md §7.5
    // open item — confirmed supported). Identical SQL runs on both
    // engines; output is the per-level pair census. (Measured: feeding
    // the recursion a pre-persisted edge view is SLOWER than letting it
    // re-derive edges from the 300KB parquet — the cached-plan scan
    // inside the recursive loop costs more than the rescan.)
    "q67_recursive_cte" -> ((s, dir) => {
      T.customer(s, dir).createOrReplaceTempView("customer")
      // Same SQL as the oracle, plus a join hint inside the recursive
      // member whose strategy (BROADCAST vs SHUFFLE_HASH) is chosen by
      // the measured-edge-count gate below — see the strategy comment.
      // DuckDB parses /*+ … */ as a plain comment, but the hint is
      // Spark-side-only anyway.
      //
      // Join strategy and shuffle width both follow the MEASURED edge
      // count (round 12; edgeCount is already computed below for the
      // recursion-limit assert, so the gate is free):
      //
      //   - Small edge sets (fixture scale): BROADCAST the edges and
      //     run the ~10 iterations at width 8 — sub-MB frontiers pay
      //     scheduling per iteration, and the broadcast build is
      //     trivial (measured 2× total-time at width 32 vs 8, round 9).
      //   - Corpus-sized edge sets: UnionLoopExec re-executes the
      //     recursive member's plan EVERY iteration, and a BROADCAST
      //     hint there means TEN fresh broadcast builds of a
      //     |customers|-sized relation (ReusedExchange cannot cross
      //     iteration boundaries) — the round-11 "q67 e=1.16"
      //     mechanism. SHUFFLE_HASH instead shuffles the thin frontier
      //     and edge set per iteration at full width: measured sf30
      //     43.6 → 8.5 s, sf10 11.2 → 5.6 s, crossover near sf3
      //     (450k edges; 4.2 vs 5.0 s).
      //
      // Width is a plan-time conf, so the recursion is executed
      // eagerly (localCheckpoint) while the setting is active —
      // appropriate for an operator whose execution model is iterative
      // materialization anyway. Iteration width ≠ CPU count; size it
      // to the frontier (cf. Streams.rollupWidth on state width).
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      // The closure materializes ~10·|customers| rows; Spark's default
      // cteRecursionRowLimit (1e6) trips at ~100k customers (the sf10
      // rung's "failed" field caught it). The limit is a guard against
      // runaway recursion, not a memory bound — the row count here is
      // provably ≤ levels·|edges| (each edge appears at most once per
      // level) — so ASSERT that bound against the actual edge count
      // first, then raise the limit scoped to the query. If the
      // assertion ever fires, the closure is no longer provably
      // bounded and raising the limit would be masking a runaway.
      val levels = 10L
      val edgeCount = T.customer(s, dir)
        .filter(org.apache.spark.sql.functions.col("c_custkey") >= 1).count()
      val bound = levels * edgeCount
      val raisedLimit = 2000000000L
      require(bound < raisedLimit,
        s"recursion closure bound levels*|edges| = $bound exceeds the " +
          s"raised cteRecursionRowLimit $raisedLimit - refusing to raise")
      val savedLimit = s.conf.getAll.get("spark.sql.cteRecursionRowLimit")
      // the measured-count gate (see the strategy comment above); the
      // hint changes the join's physical strategy only, never a row
      val smallEdges = edgeCount <= 200000L
      val hint = if (smallEdges) "BROADCAST" else "SHUFFLE_HASH"
      // Both conf raises live INSIDE the try (ADVICE r12): an
      // exception between a raise and the try would otherwise leak the
      // raised limit / narrowed width into the session with no restore.
      try {
        s.conf.set("spark.sql.cteRecursionRowLimit", raisedLimit.toString)
        s.conf.set("spark.sql.shuffle.partitions",
          if (smallEdges) "8" else saved)
        s.sql(
        s"""WITH RECURSIVE
           |edges AS (SELECT c_custkey AS referred, CAST(floor(c_custkey/2) AS BIGINT) AS referrer
           |          FROM customer WHERE c_custkey >= 1),
           |anc(descendant, ancestor, lvl) AS (
           |  SELECT referred, referrer, CAST(1 AS BIGINT) FROM edges
           |  UNION ALL
           |  SELECT /*+ $hint(e) */ a.descendant, e.referrer, a.lvl + 1
           |  FROM anc a JOIN edges e ON e.referred = a.ancestor
           |  WHERE a.lvl < 10)
           |SELECT lvl AS level, count(*) AS n_pairs,
           |  count(DISTINCT ancestor) AS n_ancestors
           |FROM anc GROUP BY lvl ORDER BY lvl""".stripMargin)
          .localCheckpoint()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", saved)
        savedLimit.fold(s.conf.unset("spark.sql.cteRecursionRowLimit"))(
          s.conf.set("spark.sql.cteRecursionRowLimit", _))
      }
    }),

    // AG1/AG2: balance as a pure recomputation — earned commissions
    // minus 'purchase'-event debits (the reference's mutable
    // commission_balance ± sites :228,:287,:725 as one view).
    "q33_balance_view" -> ((s, dir) => {
      import s.implicits._
      val anc = testAncestors(s, dir)
      val perCust = T.orders(s, dir).groupBy($"o_custkey")
        .agg(sum(scaled(lit(0.05) * $"o_totalprice")).as("passive_scaled"))
      val earned = anc.join(perCust, $"descendant" === $"o_custkey")
        .groupBy($"ancestor".as("user_id"))
        .agg(sum($"passive_scaled").as("earned_scaled"))
      val spent = T.events(s, dir).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(scaled($"value")).as("spent_scaled"))
      earned.join(spent, Seq("user_id"), "full_outer")
        .select($"user_id",
          (coalesce($"earned_scaled", lit(0L)).cast("double") / 10000.0).as("earned"),
          (coalesce($"spent_scaled", lit(0L)).cast("double") / 10000.0).as("spent"),
          ((coalesce($"earned_scaled", lit(0L)) - coalesce($"spent_scaled", lit(0L)))
            .cast("double") / 10000.0).as("balance"))
        .orderBy($"user_id")
    }))

  val oracle: Map[String, String] = Map(
    "q30_upline_ancestors" ->
      s"""WITH RECURSIVE $edgesCte
         |SELECT descendant, ancestor, lvl AS level FROM anc
         |WHERE descendant < 200 ORDER BY descendant, level""".stripMargin,

    "q31_passive_commissions" ->
      s"""WITH RECURSIVE $edgesCte
         |SELECT ancestor, count(*) AS n_credits,
         |  ${msumSql("0.05*o_totalprice")} AS total_passive
         |FROM anc JOIN orders ON descendant = o_custkey
         |GROUP BY ancestor ORDER BY ancestor""".stripMargin,

    "q32_commission_attribution" ->
      s"""WITH RECURSIVE $edgesCte,
         |per_user AS (
         |  SELECT descendant, CAST(count(*) AS BIGINT) AS n_ancestors,
         |         max(CASE WHEN lvl = 1 THEN ancestor END) AS direct_referrer
         |  FROM anc GROUP BY descendant)
         |SELECT o_orderkey, o_custkey, direct_referrer,
         |  coalesce(n_ancestors, 0) AS n_ancestors,
         |  CASE WHEN direct_referrer IS NOT NULL THEN o_totalprice * 0.10
         |       ELSE 0.0 END AS direct_amt,
         |  (o_totalprice * 0.12) * CAST(coalesce(n_ancestors, 0) AS DOUBLE) AS passive_total,
         |  greatest(0.0, o_totalprice
         |    - (CASE WHEN direct_referrer IS NOT NULL THEN o_totalprice * 0.10 ELSE 0.0 END)
         |    - ((o_totalprice * 0.12) * CAST(coalesce(n_ancestors, 0) AS DOUBLE))) AS profit
         |FROM orders LEFT JOIN per_user ON o_custkey = descendant
         |ORDER BY o_orderkey""".stripMargin,

    "q67_recursive_cte" ->
      s"""WITH RECURSIVE $edgesCte
         |SELECT lvl AS level, count(*) AS n_pairs,
         |  count(DISTINCT ancestor) AS n_ancestors
         |FROM anc GROUP BY lvl ORDER BY lvl""".stripMargin,

    "q33_balance_view" ->
      s"""WITH RECURSIVE $edgesCte,
         |earned AS (
         |  SELECT ancestor AS user_id, sum(${scaledSql("0.05*o_totalprice")}) AS earned_scaled
         |  FROM anc JOIN orders ON descendant = o_custkey GROUP BY ancestor),
         |spent AS (
         |  SELECT user_id, sum(${scaledSql("value")}) AS spent_scaled
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
         |SELECT coalesce(e.user_id, s.user_id) AS user_id,
         |  CAST(coalesce(earned_scaled, 0) AS DOUBLE)/10000.0 AS earned,
         |  CAST(coalesce(spent_scaled, 0) AS DOUBLE)/10000.0 AS spent,
         |  CAST(coalesce(earned_scaled, 0) - coalesce(spent_scaled, 0) AS DOUBLE)/10000.0 AS balance
         |FROM earned e FULL OUTER JOIN spent s ON e.user_id = s.user_id
         |ORDER BY user_id""".stripMargin)
}
