package graft

import org.apache.spark.sql.functions._
import graft.api.{Rehive, RehiveData}

/** End-to-end route-level semantics over reference-domain fixtures
  * (FIXTURES.md §B): a reference user switching to this engine calls
  * these facade methods in place of the Express routes. */
class RehiveApiSpec extends SparkSuite {
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Canonical world: chain u0←…←u11, creator uC, one package. */
  def fixture(): RehiveData = {
    import spark.implicits._
    val users = (Seq("uC") ++ (0 to 11).map(i => s"u$i")).zipWithIndex
      .map { case (u, i) => (u, s"$u@x.com", s"User $u", Some(1), s"REF$u", ts("2024-01-01 00:00:00")) }
      .toDF("id", "email", "full_name", "package_id", "referral_code", "created_at")
    val packages = Seq((1, "Starter", 100.0, 0.05, 0.10))
      .toDF("id", "name", "price", "passive_commission_rate", "direct_commission_rate")
    val giftCodes = Seq(
      (10, "CODE10", 1, "uC", false, null.asInstanceOf[String]),
      (11, "USED11", 1, "uC", true, "u5"),
      (12, "SELF12", 1, "u11", false, null.asInstanceOf[String]))
      .toDF("id", "code", "package_id", "created_by", "is_redeemed", "redeemed_by")
    val referrals = (0 until 11).map(i => (i + 1, s"u$i", s"u${i + 1}", ts("2024-01-02 00:00:00")))
      .toDF("id", "referrer_id", "referred_id", "created_at")
    val commissions = Seq(
      (1, "u1", 40.0, "direct", ts("2024-01-03 00:00:00")),
      (2, "u1", 25.0, "passive", ts("2024-01-04 00:00:00")),
      (3, "u2", 5.0, "passive", ts("2024-01-03 00:00:00")))
      .toDF("id", "user_id", "amount", "type", "created_at")
    val withdrawals = Seq(
      (1, "u1", 30.0, "approved"), (2, "u2", 1.0, "pending"))
      .toDF("id", "user_id", "amount", "status")
      .withColumn("admin_notes", lit(null).cast("string"))
    val subs = Seq((1, "u3", 50.0, "pending"))
      .toDF("id", "user_id", "amount", "status")
    val notifications = (1 to 60).map(i =>
        (i, "u1", s"note$i", "info", ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00")))
      .toDF("id", "user_id", "title", "type", "created_at")
    RehiveData(users, packages, giftCodes, commissions, referrals,
      withdrawals, subs, notifications)
  }

  test("user lookup eager-loads the package struct (GET /api/users/:id)") {
    val row = Rehive.userWithPackage(fixture(), "u3").collect()
    assert(row.length == 1)
    val pkg = row.head.getStruct(row.head.fieldIndex("package"))
    assert(pkg.getString(0) == "Starter" && pkg.getDouble(1) == 100.0)
  }

  test("redeem: full cascade — direct to creator, passive up 10 levels") {
    import spark.implicits._
    val d = fixture()
    val events = Seq(("CODE10", "u11")).toDF("code", "redeemer_id")
    val comm = Rehive.redeem(d, events).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(comm.count(_._3 == "direct") == 1)
    assert(comm.find(_._3 == "direct").get == (("uC", 10.0, "direct")))
    val passive = comm.filter(_._3 == "passive")
    assert(passive.size == 10 && passive.forall(_._2 == 5.0))
    assert(!passive.map(_._1).contains("u0")) // depth cutoff
  }

  test("redeem guards: self-redeem and already-redeemed are rejected") {
    import spark.implicits._
    val d = fixture()
    val events = Seq(("SELF12", "u11"), ("USED11", "u9"), ("NOPE", "u9"))
      .toDF("code", "redeemer_id")
    assert(Rehive.redeem(d, events).count() == 0)
  }

  test("redeem: duplicate redemptions of one code in a batch pay once (first-wins)") {
    import spark.implicits._
    val d = fixture()
    // Two redeemers race for the same unredeemed code: the reference's
    // sequential path marks it redeemed after the first, so the second
    // hits the !is_redeemed guard — only ONE cascade may be paid.
    val events = Seq(("CODE10", "u11"), ("CODE10", "u9")).toDF("code", "redeemer_id")
    val comm = Rehive.redeem(d, events).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(comm.count(_._3 == "direct") == 1)
    // deterministic winner: least redeemer_id ("u11" < "u9" lexically)
    val single = Rehive.redeem(d, Seq(("CODE10", "u11")).toDF("code", "redeemer_id"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(comm.sorted == single.sorted)
  }

  test("withdrawal request validates against recomputed balance (P8)") {
    import spark.implicits._
    val d = fixture()
    // u1 balance: 40+25 earned − 30 approved = 35
    val req = Seq(("u1", 35.0), ("u1", 35.01), ("u2", 5.0), ("u9", 1.0))
      .toDF("user_id", "amount")
    val got = Rehive.requestWithdrawals(d, req).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(
      ("u1", 35.0, "pending"),
      ("u1", 35.01, "rejected_insufficient_balance"),
      ("u2", 5.0, "pending"),
      ("u9", 1.0, "rejected_insufficient_balance")))
  }

  test("withdrawal decisions: whitelist + capitalized notification (F7)") {
    import spark.implicits._
    val d = fixture()
    val decisions = Seq((1, "approved", "ok"), (2, "garbage", "no"))
      .toDF("id", "decision", "admin_notes")
    val got = Rehive.processWithdrawals(d, decisions).collect()
      .map(r => r.getInt(0) -> (r.getString(3), r.getString(5))).toMap
    assert(got(1) == (("approved", "Withdrawal Approved")))
    assert(got(2) == (("pending", "Withdrawal Pending"))) // invalid decision ignored
  }

  test("subscription activation adds one clamped month (F10)") {
    import spark.implicits._
    val d = fixture()
    val approvals = Seq((1, ts("2024-01-31 10:00:00"))).toDF("id", "approved_at")
    val got = Rehive.activateSubscriptions(d, approvals).collect().head
    assert(got.getString(1) == "active")
    assert(got.getDate(2).toString == "2024-02-29") // month-end clamp
  }

  test("notification feed: newest 50 of 60 (O1+O3)") {
    val feed = Rehive.notificationFeed(fixture(), "u1").collect()
    assert(feed.length == 50)
    val got = feed.map(r => (r.getTimestamp(4), r.getInt(0))).toSeq
    val expected = (1 to 60)
      .map(i => (ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"), i))
      .sortBy { case (t, i) => (-t.getTime, -i) }.take(50)
    assert(got == expected)
  }
}
