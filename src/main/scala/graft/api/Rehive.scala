package graft.api

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import graft.engine.Bounded.sortedInOne
import graft.engine.Commission
import graft.plans.ParamLiteral

/** Facade: every data-bearing API route of the reference mapped to its
  * engine dataflow over the reference-domain tables (schemas:
  * FIXTURES.md §B, DDL render-complete-deploy.js:31-136). A user of the
  * reference switches by loading their tables into `RehiveData` and
  * calling the matching method; auth/session/static-file routes are
  * access control and serving, out of engine scope (SURVEY.md §7.4).
  *
  * Batch semantics: read routes are pure queries; write routes return
  * the derived row-sets the reference would have inserted/updated
  * (recompute-from-events, SURVEY.md §1.4) — at 100 TB these become
  * MERGE targets.
  */
case class RehiveData(
    users: DataFrame, packages: DataFrame, giftCodes: DataFrame,
    commissions: DataFrame, referrals: DataFrame,
    withdrawals: DataFrame, subscriptionPayments: DataFrame,
    notifications: DataFrame)

/** The routes. Served one request at a time, a route costs mostly driver
  * work (planning, generated code, job scheduling), so the plans keep
  * that small:
  *
  *  - Key binding. A point route binds its id as a [[ParamLiteral]] typed
  *    from the key column's schema: every id runs the same generated
  *    classes (Spark writes a numeric literal into the code, so each new
  *    id would compile anew), and the scan still gets `EqualTo(key, id)`.
  *  - Sorting. A per-user list sorts in one partition instead of by a
  *    global `orderBy`, which adds a range-sampling job and a shuffle.
  *  - Jobs per request, over file tables and a request batch built on the
  *    driver: `commissionFeed`, `notificationFeed`, `listPackages` 1;
  *    `userWithPackage` 2 (package broadcast, result); `referralsOf` 2
  *    (users broadcast, result); `giftCodesOf` 3 (package and users
  *    broadcasts, result); `balances(d).filter(user_id = x)` 2 (aggregate
  *    shuffle, result); `requestWithdrawals` 3 (aggregate shuffle,
  *    balance broadcast, result); `redeem` 5 for a 20-code batch (batch,
  *    package, redeemer and closure-cut broadcasts, result).
  *    `RehiveServeSpec` holds each route to its count.
  *
  * None of this is a session rule (an injected optimizer or planner rule,
  * or a changed conf): a caller serves these routes on its own session,
  * which loads no extension, so a rule would not reach it. The plans carry
  * the change themselves.
  */
object Rehive {

  /** GET /api/users/:id, /api/auth/me (:343-382) — point lookup with
    * the package eager-loaded as a struct (J1). */
  def userWithPackage(d: RehiveData, userId: String): DataFrame =
    d.users.filter(keyIs(d.users, "id", userId))
      .join(broadcast(d.packages).withColumnRenamed("id", "pkg_id"),
        col("package_id") === col("pkg_id"), "left")
      .select(d.users.columns.map(col) :+
        struct(col("name").as("name"), col("price").as("price"),
          col("passive_commission_rate"), col("direct_commission_rate"))
          .as("package"): _*)

  /** GET /api/referrals (:384-399) — direct referrals of a user with
    * the referred user nested (J2), newest first (O1). The users
    * projection is broadcast whole on every request: a left outer
    * broadcast join builds only its right side, and an inner join would
    * drop referrals whose user row is missing. */
  def referralsOf(d: RehiveData, userId: String): DataFrame =
    d.referrals.filter(keyIs(d.referrals, "referrer_id", userId))
      .join(d.users.select(col("id").as("ru_id"), col("full_name"),
        col("email"), col("package_id")),
        col("referred_id") === col("ru_id"), "left")
      .select(col("referred_id"), col("full_name"), col("email"),
        col("package_id"), col("created_at"))
      .transform(sortedInOne(col("created_at").desc, col("referred_id")))

  /** GET /api/packages (:401-409) — catalog ordered by price (O2). */
  def listPackages(d: RehiveData): DataFrame =
    d.packages.transform(sortedInOne(col("price").asc, col("id")))

  /** GET /api/gift-codes (:436-450) — codes created by a user with
    * package and redeemer both eager-loaded (J3: two parallel FKs). */
  def giftCodesOf(d: RehiveData, userId: String): DataFrame =
    d.giftCodes.filter(keyIs(d.giftCodes, "created_by", userId))
      .join(broadcast(d.packages.select(col("id").as("p_id"), col("name").as("package_name"),
        col("price"))), col("package_id") === col("p_id"), "left")
      .join(d.users.select(col("id").as("r_id"), col("full_name").as("redeemer_name")),
        col("redeemed_by") === col("r_id"), "left")
      .select(col("code"), col("package_name"), col("price"),
        col("is_redeemed"), col("redeemer_name"), col("created_at"))
      .transform(sortedInOne(col("created_at").desc, col("code")))

  /** POST /api/redeem-gift-code (:456-508) — the flagship write path as
    * one batch dataflow over all unredeemed-code redemption events:
    * guards (self-redeem ban :472, already-redeemed :465), then the
    * commission cascade (:208-316) via Commission.attribute.
    *
    * The guarded batch is planned once: it is left-joined to the
    * closure, and each joined row yields its passive row and, at the
    * level-1 row or at the no-match row, the batch row's direct row.
    * That relies on the forest precondition of `Commission.ancestors`
    * (a user with an upline has exactly one level-1 row).
    *
    * A batch whose optimized plan fits the session's
    * `autoBroadcastJoinThreshold` (exactly sized when it is built on the
    * driver, as a served request's is) is broadcast instead of the
    * closure: the closure is cut to the batch's redeemers by a semi-join
    * against the broadcast batch and only that cut is broadcast, and
    * first-wins runs in one partition without a shuffle. A larger batch
    * (q78 derives one from all orders) keeps the planner's choice.
    *
    * @param redemptions (code, redeemer_id) events
    * @return commission rows (redemption_id = gift code id) for every
    *         valid redemption — direct to creator, passive to ≤10
    *         ancestors.
    */
  def redeem(d: RehiveData, redemptions: DataFrame,
             ancestorsOpt: Option[DataFrame] = None): DataFrame = {
    val small = fitsBroadcast(redemptions)
    val guarded = (if (small) broadcast(redemptions) else redemptions)
      .join(d.giftCodes.filter(!col("is_redeemed"))
        .select(col("id").as("gift_code_id"), col("code"),
          col("package_id"), col("created_by")), Seq("code"))
      .filter(col("created_by") =!= col("redeemer_id")) // self-redeem ban :472-474
    // First-wins per code: the reference marks the code redeemed right
    // after the first redemption (:476-482), so a second attempt in the
    // same batch must hit the !is_redeemed guard and pay nothing.
    // Batch equivalent: keep exactly one redemption per gift code, the
    // least redeemer_id (sequential arrival order doesn't exist in a
    // batch); package and creator follow from the code's key. A small
    // batch is one partition, which already groups every code.
    val valid = (if (small) guarded.coalesce(1) else guarded)
      .groupBy(col("gift_code_id"), col("package_id"), col("created_by"))
      .agg(min(col("redeemer_id")).as("redeemer_id"))
      .join(broadcast(d.packages.select(col("id").as("pk_id"), col("price"),
        col("direct_commission_rate"), col("passive_commission_rate"))),
        col("package_id") === col("pk_id"))
    // rates ride per-row (packages differ) — inline attribute() with
    // per-row rates rather than constants. Callers batching several
    // dataflows over one referral graph pass the closure in, persisted
    // (materialized-view reuse: the walk reads the whole edge table).
    val anc = ancestorsOpt.getOrElse(Commission.ancestors(d.referrals, 10))
    val upline = if (!small) anc else broadcast(anc.join(
      broadcast(redemptions.select(col("redeemer_id").as("descendant"))),
      Seq("descendant"), "left_semi"))
    val matched = col("descendant").isNotNull
    val direct = struct(col("created_by").as("user_id"),
      (col("price") * col("direct_commission_rate")).as("amount"),
      lit("direct").as("ctype"), lit(0L).as("level"))
    val passive = struct(col("ancestor").as("user_id"),
      (col("price") * col("passive_commission_rate")).as("amount"),
      lit("passive").as("ctype"), col("level"))
    valid.join(upline, col("redeemer_id") === col("descendant"), "left")
      .select(col("gift_code_id").as("redemption_id"), explode(array(
        when(!matched || col("level") === 1, direct), when(matched, passive))).as("c"))
      .filter(col("c").isNotNull)
      .select(col("redemption_id"), col("c.user_id"), col("c.amount"), col("c.ctype"),
        col("c.level"))
  }

  /** GET /api/commissions (:510-517) — newest 100 for a user (AG7). */
  def commissionFeed(d: RehiveData, userId: String): DataFrame =
    d.commissions.filter(keyIs(d.commissions, "user_id", userId))
      .orderBy(col("created_at").desc, col("id").desc).limit(100)

  /** Commission balance as a pure recomputation (AG1/AG2; replaces the
    * mutable counter at :228,:287,:725): earned − approved withdrawals,
    * one aggregate over both ledgers keyed on `user_id`, so a caller's
    * filter on `user_id` reaches both scans. */
  def balances(d: RehiveData): DataFrame =
    ledger(d).groupBy(col("user_id"), col("__nulls"))
      .agg(sum(col("earned")).as("earned"), sum(col("withdrawn")).as("withdrawn"))
      .select(col("user_id"), balance.as("balance"))

  /** POST /api/commission-withdrawals (:520-557) — requests validated
    * against the recomputed balance (P8 :541-545): returns each request
    * tagged accepted/rejected. Requests built on the driver name their
    * users, and only those users' balances are aggregated. */
  def requestWithdrawals(d: RehiveData, requests: DataFrame): DataFrame = {
    val owed = localValues(requests, "user_id").fold(balances(d)) { case (ids, t) =>
      broadcast(balances(d).filter(GraftBridge.column(
        In(UnresolvedAttribute.quoted("user_id"), ids.map(v => new ParamLiteral(v, t))))))
    }
    requests.join(owed, Seq("user_id"), "left")
      .select(col("user_id"), col("amount"),
        when(col("amount") <= coalesce(col("balance"), lit(0.0)), "pending")
          .otherwise("rejected_insufficient_balance").as("status"))
  }

  /** Commissions and approved withdrawals as one ledger of
    * (user_id, __nulls, earned, withdrawn) rows, aggregated on
    * (user_id, __nulls). `__nulls` tags the source only where `user_id`
    * is NULL, so NULL users of each source stay apart, as the full outer
    * join this replaces kept them (NULL keys never match). */
  private def ledger(d: RehiveData): DataFrame = {
    def side(df: DataFrame, tag: Int, amount: String, none: String) =
      df.select(col("user_id"), when(col("user_id").isNull, lit(tag)).as("__nulls"),
        col("amount").as(amount), lit(null).as(none))
    side(d.commissions, 0, "earned", "withdrawn").unionByName(
      side(d.withdrawals.filter(col("status") === "approved"), 1, "withdrawn", "earned"))
  }

  private def balance: Column =
    coalesce(col("earned"), lit(0.0)) - coalesce(col("withdrawn"), lit(0.0))

  /** `col(key) === id`: a route's key filter. Against an integral key
    * column the string id is cast on the driver, as the analyzer would
    * cast it, and bound as a [[ParamLiteral]], so every id runs the same
    * generated code while the scan still gets `EqualTo(key, id)` pushed
    * down. An id that does not cast, and every other key type, keeps the
    * plain comparison and so ends as it always did (under ANSI, a cast
    * error; without, no rows or a truncated id). */
  private def keyIs(df: DataFrame, key: String, id: String): Column =
    df.schema(key).dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) =>
        Option(Cast(Literal(id), t, None, EvalMode.TRY).eval()) match {
          case Some(v) => col(key) === GraftBridge.column(new ParamLiteral(v, t))
          case None => col(key) === id
        }
      case _ => col(key) === id
    }

  /** Whether `df`'s optimized plan fits the session's broadcast
    * threshold (read, never set). */
  private def fitsBroadcast(df: DataFrame): Boolean = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** The distinct non-null values of column `c`, with its type, when `df`
    * is built on the driver (its optimized plan is a `LocalRelation`):
    * read from the plan, so no job runs. */
  private def localValues(df: DataFrame, c: String): Option[(Seq[Any], DataType)] = {
    val one = df.select(col(c))
    val t = one.schema.head.dataType
    one.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.data.map(_.get(0, t)).filter(_ != null).distinct, t))
      case _ => None
    }
  }

  /** PATCH /api/admin/commission-withdrawals/:id (:705-751) — decisions
    * applied as a merge view: status whitelist (P6 :710), balance
    * decrement only on approval (:722-728), notification rows (:739-744). */
  def processWithdrawals(d: RehiveData, decisions: DataFrame): DataFrame = {
    val valid = decisions
      .filter(col("decision").isin("approved", "rejected")) // :710
    d.withdrawals.join(valid.select(col("id").as("d_id"), col("decision"),
        col("admin_notes").as("decision_notes")), col("id") === col("d_id"), "left")
      .select(col("id"), col("user_id"), col("amount"),
        coalesce(col("decision"), col("status")).as("status"),
        coalesce(col("decision_notes"), col("admin_notes")).as("admin_notes"),
        concat(lit("Withdrawal "),
          upper(substring(coalesce(col("decision"), col("status")), 1, 1)),
          substring(coalesce(col("decision"), col("status")), 2, 100)) // F7 :741
          .as("notification_title"))
  }

  /** POST /api/admin/subscription-payments approve (:765-805) — expiry
    * = approval time + 1 month (F10 :786-787, add_months clamping). */
  def activateSubscriptions(d: RehiveData, approvals: DataFrame): DataFrame =
    d.subscriptionPayments
      .join(approvals.select(col("id").as("a_id"), col("approved_at")),
        col("id") === col("a_id"))
      .select(col("user_id"), lit("active").as("subscription_status"),
        add_months(col("approved_at"), 1).as("subscription_expires_at"))

  /** GET /api/notifications (:650-668) — newest 50 (O1+O3). */
  def notificationFeed(d: RehiveData, userId: String): DataFrame =
    d.notifications.filter(keyIs(d.notifications, "user_id", userId))
      .orderBy(col("created_at").desc, col("id").desc).limit(50)

  /** Company profit per redemption (:303-311) — exposed for the admin
    * stats routes. */
  def companyProfits(redemptions: DataFrame, commissions: DataFrame): DataFrame =
    Commission.companyProfit(redemptions, commissions)

  // ---------------------------------------------------------------------
  // Driver-verified instantiation of the reference domain: deterministic
  // packages/gift_codes/referrals derived from region/customer keys, with
  // orders as the redemption event stream. q78/q79 run the FLAGSHIP WRITE
  // PATH (redeem → commission cascade → notification fan-out,
  // render-complete-deploy.js:456-508,:208-316,:234-239,:291-296)
  // end-to-end against a DuckDB oracle that replays the identical
  // semantics — first-wins per code, self-redeem ban, already-redeemed
  // guard, direct-to-creator, ≤10-level passive.
  //
  // Prices are integers and rates 2-decimal, so every commission amount
  // is an exact ≤1-decimal product — printf/format_string render
  // identically in both engines (no half-even-vs-half-up ties).
  // ---------------------------------------------------------------------
  import graft.engine.{Tables => T}
  type Q = (SparkSession, String) => DataFrame

  /** (domain tables, redemption events) derived from testdata. */
  def testDomain(s: SparkSession, dir: String): (RehiveData, DataFrame) = {
    val packages = T.region(s, dir).select(
      (col("r_regionkey") + 1).cast("int").as("id"),
      col("r_name").as("name"),
      ((col("r_regionkey") + 1).cast("double") * 150.0 - 50.0).as("price"),
      (lit(0.05) + lit(0.01) * (col("r_regionkey") + 1).cast("double"))
        .as("direct_commission_rate"),
      (lit(0.01) * (col("r_regionkey") + 1).cast("double"))
        .as("passive_commission_rate"))
    val users = T.customer(s, dir).select(
      col("c_custkey").as("id"), col("c_name").as("full_name"),
      ((col("c_custkey") % 5) + 1).cast("int").as("package_id"))
    val giftCodes = T.customer(s, dir).select(
      col("c_custkey").as("id"),
      upper(substring(sha2(concat(col("c_custkey").cast("string"), lit("-GC")), 256),
        1, 8)).as("code"),
      ((col("c_custkey") % 5) + 1).cast("int").as("package_id"),
      floor(col("c_custkey") / 3).cast("long").as("created_by"),
      (col("c_custkey") % 7 === 0).as("is_redeemed"))
    val referrals = T.customer(s, dir).filter(col("c_custkey") >= 1)
      .select(col("c_custkey").as("referred_id"),
        floor(col("c_custkey") / 2).cast("long").as("referrer_id"))
    // Each order attempts to redeem code (o_orderkey mod |customers|):
    // several orders can hit one code (first-wins), some redeemers are
    // the creator (self-redeem ban), and every 7th code is already
    // redeemed (the :465 guard). The count is a 1-row bounded action,
    // mirrored by a scalar subquery in the oracle.
    val nCust = T.customer(s, dir).count()
    val redemptions = T.orders(s, dir)
      .select((col("o_orderkey") % nCust).as("gc_ref"),
        col("o_custkey").as("redeemer_id"))
      .join(giftCodes.select(col("id").as("gc_ref"), col("code")), Seq("gc_ref"))
      .select(col("code"), col("redeemer_id"))
    val none = users.limit(0)
    (RehiveData(users, packages, giftCodes, none, referrals, none, none, none),
      redemptions)
  }

  val queries: Map[String, Q] = Map(
    // The full redeem cascade: every guard + the ≤10-level attribution.
    // Both queries reuse Commission.testAncestors' memoized closure:
    // the derived referral forest IS testEdges' (referred, floor/2)
    // graph, so the 10-join walk is built once per (session, dataset)
    // across q30-q33 and q78-q79.
    "q78_rehive_redeem" -> ((s, dir) => {
      val (d, reds) = testDomain(s, dir)
      redeem(d, reds, Some(Commission.testAncestors(s, dir)))
        .orderBy(col("redemption_id"), col("ctype"), col("level"), col("user_id"))
    }),

    // Notification fan-out — the cascade's third output table
    // (render-complete-deploy.js:234-239 direct, :291-296 passive):
    // one message row per commission row, money rendered %.2f like the
    // reference's toFixed(2).
    "q79_rehive_notifications" -> ((s, dir) => {
      val (d, reds) = testDomain(s, dir)
      redeem(d, reds, Some(Commission.testAncestors(s, dir)))
        .select(col("redemption_id"), col("user_id"), col("ctype"), col("level"),
          when(col("ctype") === "direct",
            format_string("You earned $%.2f direct commission from your gift code!",
              col("amount")))
            .otherwise(format_string(
              "You earned $%.2f passive commission (Level %d)!",
              col("amount"), col("level"))).as("message"))
        .orderBy(col("redemption_id"), col("ctype"), col("level"), col("user_id"))
    }),

    // Company profit per redemption — the cascade's remaining output
    // table (render-complete-deploy.js:303-311): price − Σ commissions,
    // clamped at 0 (AG6). Commission sums go through the scaled-integer
    // Exact helpers so the per-redemption total is order-independent.
    "q82_rehive_profits" -> ((s, dir) => {
      val (d, reds) = testDomain(s, dir)
      val comm = redeem(d, reds, Some(Commission.testAncestors(s, dir)))
      val paid = comm.groupBy(col("redemption_id"))
        .agg(graft.engine.Exact.msum(col("amount")).as("commission_paid"))
      val prices = d.giftCodes
        .select(col("id").as("redemption_id"), col("package_id"))
        .join(broadcast(d.packages.select(col("id").as("pk_id"), col("price"))),
          col("package_id") === col("pk_id"))
        .select(col("redemption_id"), col("price"))
      paid.join(prices, "redemption_id")
        .select(col("redemption_id"),
          greatest(lit(0.0), col("price") - col("commission_paid")).as("profit"),
          col("commission_paid"))
        .orderBy(col("redemption_id"))
    }))

  /** Shared oracle CTE replaying the cascade semantics in SQL. */
  private val cascadeCte =
    """codes AS (
      |  SELECT c_custkey AS gift_code_id,
      |    upper(substr(sha256(CAST(c_custkey AS VARCHAR) || '-GC'), 1, 8)) AS code,
      |    CAST((c_custkey % 5) + 1 AS INTEGER) AS package_id,
      |    CAST(floor(c_custkey/3) AS BIGINT) AS created_by,
      |    (c_custkey % 7 = 0) AS is_redeemed
      |  FROM customer),
      |pkgs AS (
      |  SELECT CAST(r_regionkey + 1 AS INTEGER) AS id,
      |    CAST(r_regionkey + 1 AS DOUBLE) * 150.0 - 50.0 AS price,
      |    CAST(0.05 AS DOUBLE) + CAST(0.01 AS DOUBLE) * CAST(r_regionkey + 1 AS DOUBLE)
      |      AS direct_rate,
      |    CAST(0.01 AS DOUBLE) * CAST(r_regionkey + 1 AS DOUBLE) AS passive_rate
      |  FROM region),
      |reds AS (
      |  SELECT c.code, o.o_custkey AS redeemer_id
      |  FROM orders o JOIN codes c
      |    ON o.o_orderkey % (SELECT count(*) FROM customer) = c.gift_code_id),
      |guarded AS (
      |  SELECT r.redeemer_id, c.gift_code_id, c.package_id, c.created_by
      |  FROM reds r JOIN codes c ON r.code = c.code
      |  WHERE NOT c.is_redeemed AND c.created_by <> r.redeemer_id),
      |firstwins AS (
      |  SELECT redeemer_id, gift_code_id, package_id, created_by FROM (
      |    SELECT g.*, row_number() OVER (PARTITION BY gift_code_id
      |                                   ORDER BY redeemer_id) AS rn
      |    FROM guarded g) t WHERE rn = 1),
      |valid AS (
      |  SELECT f.*, p.price, p.direct_rate, p.passive_rate
      |  FROM firstwins f JOIN pkgs p ON f.package_id = p.id),
      |edges AS (SELECT c_custkey AS referred,
      |            CAST(floor(c_custkey/2) AS BIGINT) AS referrer
      |          FROM customer WHERE c_custkey >= 1),
      |anc(descendant, ancestor, lvl) AS (
      |  SELECT referred, referrer, CAST(1 AS BIGINT) FROM edges
      |  UNION ALL
      |  SELECT a.descendant, e.referrer, a.lvl + 1
      |  FROM anc a JOIN edges e ON e.referred = a.ancestor
      |  WHERE a.lvl < 10),
      |comm AS (
      |  SELECT gift_code_id AS redemption_id, created_by AS user_id,
      |    price * direct_rate AS amount, 'direct' AS ctype,
      |    CAST(0 AS BIGINT) AS level
      |  FROM valid
      |  UNION ALL
      |  SELECT v.gift_code_id, a.ancestor, v.price * v.passive_rate,
      |    'passive', a.lvl
      |  FROM valid v JOIN anc a ON v.redeemer_id = a.descendant)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q78_rehive_redeem" ->
      s"""WITH RECURSIVE $cascadeCte
         |SELECT redemption_id, user_id, amount, ctype, level FROM comm
         |ORDER BY redemption_id, ctype, level, user_id""".stripMargin,

    "q79_rehive_notifications" ->
      s"""WITH RECURSIVE $cascadeCte
         |SELECT redemption_id, user_id, ctype, level,
         |  CASE WHEN ctype = 'direct'
         |    THEN printf('You earned $$%.2f direct commission from your gift code!',
         |                amount)
         |    ELSE printf('You earned $$%.2f passive commission (Level %d)!',
         |                amount, level) END AS message
         |FROM comm
         |ORDER BY redemption_id, ctype, level, user_id""".stripMargin,

    "q82_rehive_profits" ->
      s"""WITH RECURSIVE $cascadeCte,
         |paid AS (
         |  SELECT redemption_id,
         |    CAST(sum(CAST(round((amount)*10000) AS BIGINT)) AS DOUBLE)/10000.0
         |      AS commission_paid
         |  FROM comm GROUP BY redemption_id)
         |SELECT p.redemption_id,
         |  greatest(0.0, v.price - p.commission_paid) AS profit,
         |  p.commission_paid
         |FROM paid p JOIN valid v ON v.gift_code_id = p.redemption_id
         |ORDER BY p.redemption_id""".stripMargin)
}
