package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{Rehive, RehiveData}
import graft.engine.Commission

/** The rehive routes as a server calls them: one request after another
  * on one session, over parquet tables with int64 ids (the layout of the
  * reference's Postgres tables). Guards what a request costs (compiled
  * classes, Spark jobs) and that the cheaper plans return the rows of the
  * plain formulations they replace. */
class RehiveServeSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  private lazy val dir = Files.createTempDirectory("graft_rehive_serve").toFile

  override def afterAll(): Unit =
    try {
      closure.unpersist()
      def wipe(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
      }
      wipe(dir)
    } finally super.afterAll()

  /** 400 users on a random referral forest (plus one referral whose user
    * row is missing), skewed activity, every table one parquet file. */
  lazy val d: RehiveData = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val n = 400
    def ts(min: Long) = new Timestamp(1704067200000L + min * 60000L)
    def skewed() = math.min((n * math.pow(rnd.nextDouble(), 4)).toLong, n - 1L)
    def save(name: String, df: DataFrame): DataFrame = {
      val path = s"$dir/$name.parquet"
      df.coalesce(1).write.parquet(path)
      spark.read.parquet(path)
    }
    val users = (0 until n).map(i => (i.toLong, s"User $i", s"user$i@x.com", 1 + i % 5, ts(i)))
      .toDF("id", "full_name", "email", "package_id", "created_at")
    val packages = (1 to 5).map(p => (p, s"Tier $p", p * 100.0, 0.05 + 0.01 * p, 0.01 * p))
      .toDF("id", "name", "price", "direct_commission_rate", "passive_commission_rate")
    val referrals = ((1 until n).map(i => (i.toLong, rnd.nextInt(i).toLong, i.toLong, ts(i))) :+
      ((n.toLong, 3L, 10000L, ts(n))))
      .toDF("id", "referrer_id", "referred_id", "created_at")
    val giftCodes = (0 until 1000).map { i =>
      val used = rnd.nextDouble() < 0.3
      (i.toLong, f"C$i%05d", 1 + rnd.nextInt(5), skewed(), used,
        if (used) Some(rnd.nextInt(n).toLong) else None, ts(rnd.nextInt(100000)))
    }.toDF("id", "code", "package_id", "created_by", "is_redeemed", "redeemed_by", "created_at")
    val commissions = (0 until 3000)
      .map(i => (i.toLong, skewed(), (1 + rnd.nextInt(400)) * 0.5, ts(rnd.nextInt(100000))))
      .sortBy(_._2).toDF("id", "user_id", "amount", "created_at")
    val statuses = Seq("pending", "approved", "rejected")
    val withdrawals = (0 until 600)
      .map(i => (i.toLong, skewed(), (1 + rnd.nextInt(400)) * 0.5, statuses(rnd.nextInt(3))))
      .toDF("id", "user_id", "amount", "status")
    val notifications = (0 until 2000)
      .map(i => (i.toLong, skewed(), s"note $i", ts(rnd.nextInt(100000))))
      .sortBy(_._2).toDF("id", "user_id", "title", "created_at")
    val u = save("users", users)
    RehiveData(u, save("packages", packages), save("gift_codes", giftCodes),
      save("commissions", commissions), save("referrals", referrals),
      save("withdrawals", withdrawals), u.limit(0), save("notifications", notifications))
  }

  lazy val closure: DataFrame = Commission.ancestors(d.referrals, 10).persist()

  // The routes' former plans: the key compared with the string id as
  // given, results sorted by a global orderBy.
  def plainUser(id: String): DataFrame =
    d.users.filter(col("id") === id)
      .join(broadcast(d.packages).withColumnRenamed("id", "pkg_id"),
        col("package_id") === col("pkg_id"), "left")
      .select(d.users.columns.map(col) :+
        struct(col("name").as("name"), col("price").as("price"),
          col("passive_commission_rate"), col("direct_commission_rate"))
          .as("package"): _*)
  def plainReferrals(id: String): DataFrame =
    d.referrals.filter(col("referrer_id") === id)
      .join(d.users.select(col("id").as("ru_id"), col("full_name"),
        col("email"), col("package_id")), col("referred_id") === col("ru_id"), "left")
      .select(col("referred_id"), col("full_name"), col("email"),
        col("package_id"), col("created_at"))
      .orderBy(col("created_at").desc, col("referred_id"))
  def plainGiftCodes(id: String): DataFrame =
    d.giftCodes.filter(col("created_by") === id)
      .join(broadcast(d.packages.select(col("id").as("p_id"), col("name").as("package_name"),
        col("price"))), col("package_id") === col("p_id"), "left")
      .join(d.users.select(col("id").as("r_id"), col("full_name").as("redeemer_name")),
        col("redeemed_by") === col("r_id"), "left")
      .select(col("code"), col("package_name"), col("price"),
        col("is_redeemed"), col("redeemer_name"), col("created_at"))
      .orderBy(col("created_at").desc, col("code"))
  def plainFeed(t: DataFrame, n: Int)(id: String): DataFrame =
    t.filter(col("user_id") === id)
      .orderBy(col("created_at").desc, col("id").desc).limit(n)

  /** (route, key column, route call, former plan). */
  lazy val points: Seq[(String, String, String => DataFrame, String => DataFrame)] = Seq(
    ("userWithPackage", "id", Rehive.userWithPackage(d, _), plainUser),
    ("referralsOf", "referrer_id", Rehive.referralsOf(d, _), plainReferrals),
    ("giftCodesOf", "created_by", Rehive.giftCodesOf(d, _), plainGiftCodes),
    ("commissionFeed", "user_id", Rehive.commissionFeed(d, _), plainFeed(d.commissions, 100)),
    ("notificationFeed", "user_id", Rehive.notificationFeed(d, _),
      plainFeed(d.notifications, 50)))

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** PushedFilters of every file scan in `df`'s executed plan. */
  def pushed(df: DataFrame): Seq[String] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
  }

  test("point routes: a new id compiles nothing, returns the former plan's rows, and still pushes its key") {
    for ((name, key, route, plain) <- points) {
      route("1").collect(); route("2").collect()
      val ids = (10 until 30).map(_.toString)
      val before = compiles
      val got = ids.map(id => route(id).collect().toSeq)
      assert(compiles == before, s"$name compiled ${compiles - before} classes for 20 new ids")
      assert(got.exists(_.nonEmpty), name)
      ids.zip(got).foreach { case (id, rows) =>
        assert(rows == plain(id).collect().toSeq, s"$name($id)")
      }
      assert(pushed(route("17")).exists(_.contains(s"EqualTo($key,17)")),
        s"$name: ${pushed(route("17"))}")
    }
  }

  test("a non-numeric id ends as the former plan does, ANSI on and off") {
    def outcome(df: => DataFrame): Either[String, Seq[Row]] =
      try Right(df.collect().toSeq) catch { case e: SparkThrowable => Left(e.getCondition) }
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      for ((name, _, route, plain) <- points; id <- Seq("abc", "7.5", "")) {
        val got = outcome(route(id))
        assert(got == outcome(plain(id)), s"$name('$id') with ANSI $ansi")
        if (ansi == "true") assert(got.isLeft, s"$name('$id') with ANSI on")
      }
    }
  }

  /** A 20-code batch as a server builds it: 16 valid codes, one of them
    * twice, two redeemed before, one redeemed by its creator. */
  def batch(): DataFrame = {
    import spark.implicits._
    val codes = d.giftCodes.orderBy(col("id")).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getBoolean(4)))
    val (used, free) = codes.partition(_._3)
    val valid = free.take(17)
    val reds = valid.take(16).map { case (c, by, _) => (c, (by + 11) % 400) } ++
      Seq((valid(0)._1, (valid(0)._2 + 7) % 400)) ++
      used.take(2).map { case (c, by, _) => (c, (by + 3) % 400) } ++
      Seq((valid(16)._1, valid(16)._2))
    reds.toSeq.toDF("code", "redeemer_id")
  }

  test("per-route job budgets") {
    def jobs(df: => DataFrame): Int = { df.collect(); jobsDuring(df.collect()) }
    val reds = batch()
    val budgets = Seq(
      "commissionFeed" -> (jobs(Rehive.commissionFeed(d, "5")), 1),
      "notificationFeed" -> (jobs(Rehive.notificationFeed(d, "5")), 1),
      "listPackages" -> (jobs(Rehive.listPackages(d)), 1),
      "referralsOf" -> (jobs(Rehive.referralsOf(d, "5")), 2),
      "userWithPackage" -> (jobs(Rehive.userWithPackage(d, "5")), 2),
      "giftCodesOf" -> (jobs(Rehive.giftCodesOf(d, "5")), 3),
      "balances(d).filter" ->
        (jobs(Rehive.balances(d).filter(col("user_id") === 5L)), 2),
      "requestWithdrawals" -> (jobs(Rehive.requestWithdrawals(d,
        spark.createDataFrame(Seq((5L, 1.0), (0L, 2.0))).toDF("user_id", "amount"))), 3),
      "redeem" -> (jobs(Rehive.redeem(d, reds, Some(closure))), 5))
    budgets.foreach { case (route, (got, budget)) =>
      assert(got <= budget, s"$route ran $got jobs, budget $budget")
    }
  }

  /** `redeem` as it was: direct and passive rows as two branches over
    * the guarded batch, first-wins by a shuffled window. */
  def plainRedeem(reds: DataFrame, anc: DataFrame): DataFrame = {
    val guarded = reds
      .join(d.giftCodes.filter(!col("is_redeemed"))
        .select(col("id").as("gift_code_id"), col("code"),
          col("package_id"), col("created_by")), Seq("code"))
      .filter(col("created_by") =!= col("redeemer_id"))
    val events = guarded
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("gift_code_id")).orderBy(col("redeemer_id"))))
      .filter(col("__rn") === 1).drop("__rn")
      .join(broadcast(d.packages.select(col("id").as("pk_id"), col("price"),
        col("direct_commission_rate"), col("passive_commission_rate"))),
        col("package_id") === col("pk_id"))
      .select(col("gift_code_id").as("redemption_id"), col("redeemer_id"),
        col("created_by").as("creator_id"), col("price"),
        col("direct_commission_rate"), col("passive_commission_rate"))
    val direct = events.select(col("redemption_id"), col("creator_id").as("user_id"),
      (col("price") * col("direct_commission_rate")).as("amount"),
      lit("direct").as("ctype"), lit(0L).as("level"))
    val passive = events.join(anc, events("redeemer_id") === anc("descendant"))
      .select(col("redemption_id"), col("ancestor").as("user_id"),
        (col("price") * col("passive_commission_rate")).as("amount"),
        lit("passive").as("ctype"), col("level"))
    direct.unionByName(passive)
  }

  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("redeem returns the former plan's rows for a small batch, a large one and a derived one") {
    val reds = batch()
    val expected = sortedRows(plainRedeem(reds, closure))
    assert(expected.count(_.contains(",direct,")) == 16, expected)
    assert(sortedRows(Rehive.redeem(d, reds, Some(closure))) == expected)
    assert(sortedRows(Rehive.redeem(d, reds)) == expected)
    // a batch over the broadcast threshold keeps the planner's choice
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      assert(sortedRows(Rehive.redeem(d, reds, Some(closure))) == expected)
    }
    // a batch derived from a table, as q78 derives one from orders
    val derived = d.giftCodes.filter(col("id") % 7 === 0)
      .select(col("code"), ((col("created_by") + col("id")) % 400).as("redeemer_id"))
    assert(sortedRows(Rehive.redeem(d, derived, Some(closure))) ==
      sortedRows(plainRedeem(derived, closure)))
  }

  /** `balances` as it was: two aggregates joined full outer. */
  def plainBalances(r: RehiveData): DataFrame = {
    val earned = r.commissions.groupBy(col("user_id")).agg(sum(col("amount")).as("earned"))
    val out = r.withdrawals.filter(col("status") === "approved")
      .groupBy(col("user_id")).agg(sum(col("amount")).as("withdrawn"))
    earned.join(out, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("earned"), lit(0.0)) - coalesce(col("withdrawn"), lit(0.0)))
          .as("balance"))
  }

  def plainRequests(r: RehiveData, requests: DataFrame): DataFrame =
    requests.join(plainBalances(r), Seq("user_id"), "left")
      .select(col("user_id"), col("amount"),
        when(col("amount") <= coalesce(col("balance"), lit(0.0)), "pending")
          .otherwise("rejected_insufficient_balance").as("status"))

  test("balances and withdrawal checks equal the full-outer-join formulation on edge cases") {
    import spark.implicits._
    // user 1 both; 2 only commissions; 3 only NULL amounts; 4 only an
    // approved withdrawal; 5 a NULL approved amount; NULL users on both
    // sides; 6 only a rejected withdrawal
    val commissions = Seq[(Option[Long], Option[Double])](
      (Some(1L), Some(10.0)), (Some(1L), Some(2.5)), (Some(2L), Some(7.0)),
      (Some(3L), None), (None, Some(4.0)), (Some(5L), Some(1.5)), (Some(5L), None))
      .toDF("user_id", "amount")
    val withdrawals = Seq[(Option[Long], Option[Double], String)](
      (Some(1L), Some(3.0), "approved"), (Some(1L), Some(100.0), "pending"),
      (Some(4L), Some(5.0), "approved"), (None, Some(2.0), "approved"),
      (Some(5L), None, "approved"), (Some(6L), Some(9.0), "rejected"))
      .toDF("user_id", "amount", "status")
    val requests = Seq[(Option[Long], Option[Double])](
      (Some(1L), Some(9.5)), (Some(1L), Some(9.5)), (Some(1L), Some(10.0)),
      (Some(2L), Some(7.0)), (Some(3L), Some(0.0)), (Some(4L), Some(1.0)),
      (None, Some(0.0)), (Some(9L), None), (Some(7L), Some(1.0)), (Some(5L), Some(1.5)))
      .toDF("user_id", "amount")
    val none = commissions.limit(0)
    val withApproved = RehiveData(none, none, none, commissions, none, withdrawals, none, none)
    val noApproved = withApproved.copy(
      withdrawals = withdrawals.filter(col("status") =!= "approved"))
    for ((r, label) <- Seq(withApproved -> "approved", noApproved -> "no approved")) {
      val b = Rehive.balances(r)
      assert(sortedRows(b) == sortedRows(plainBalances(r)), label)
      assert(b.schema == plainBalances(r).schema, label)
      // built on the driver, and derived (no user list to cut the ledger by)
      for (req <- Seq(requests, requests.repartition(2))) {
        val got = Rehive.requestWithdrawals(r, req)
        assert(sortedRows(got) == sortedRows(plainRequests(r, req)), label)
        assert(got.schema.map(f => (f.name, f.dataType)) ==
          plainRequests(r, req).schema.map(f => (f.name, f.dataType)), label)
      }
    }
    assert(Rehive.requestWithdrawals(withApproved, requests.limit(0)).count() == 0)
  }

  test("a user filter on balances reaches both scans") {
    val scans = pushed(Rehive.balances(d).filter(col("user_id") === 17L))
    assert(scans.size == 2 && scans.forall(_.contains("EqualTo(user_id,17)")), scans)
  }
}
