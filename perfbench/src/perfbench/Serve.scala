package perfbench

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{Rehive, RehiveData}
import graft.engine.Tables

/** One request of the rehive-serve script, as the generator wrote it. */
final case class Request(idx: Int, route: String, arg: String, meta: String)

/** The reference's API routes served through `graft.api.Rehive`. */
object Serve {
  val domainTables: Seq[String] = Seq("users", "packages", "gift_codes",
    "commissions", "referrals", "withdrawals", "notifications")

  def data(spark: SparkSession, dir: String): RehiveData = {
    def t(n: String) = Tables.load(spark, dir, n)
    val users = t("users")
    RehiveData(users, t("packages"), t("gift_codes"), t("commissions"),
      t("referrals"), t("withdrawals"), users.limit(0), t("notifications"))
  }

  def script(path: String): IndexedSeq[Request] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Request(f(0).toInt, f(1), f(2), f(3))
    }.toIndexedSeq
    finally src.close()
  }

  /** Routes whose rows come back in no promised order. */
  val unordered: Set[String] = Set("redeem", "request_withdrawals")

  /** The DataFrame a route returns for one request. */
  def call(spark: SparkSession, d: RehiveData, closure: DataFrame, r: Request): DataFrame = {
    import spark.implicits._
    r.route match {
      case "user_with_package" => Rehive.userWithPackage(d, r.arg)
      case "referrals_of" => Rehive.referralsOf(d, r.arg)
      case "gift_codes_of" => Rehive.giftCodesOf(d, r.arg)
      case "commission_feed" => Rehive.commissionFeed(d, r.arg)
      case "notification_feed" => Rehive.notificationFeed(d, r.arg)
      case "list_packages" => Rehive.listPackages(d)
      case "balance" => Rehive.balances(d).filter(col("user_id") === r.arg.toLong)
      case "redeem" =>
        val reds = r.arg.split(",").toSeq.map { p =>
          val Array(code, who) = p.split(":"); (code, who.toLong)
        }
        Rehive.redeem(d, reds.toDF("code", "redeemer_id"), Some(closure))
      case "request_withdrawals" =>
        val reqs = r.arg.split(",").toSeq.map { p =>
          val Array(who, amt) = p.split(":"); (who.toLong, amt.toDouble)
        }
        Rehive.requestWithdrawals(d, reqs.toDF("user_id", "amount"))
      case other => throw new IllegalArgumentException(s"unknown route $other")
    }
  }

  private val feedLimit = Map("commission_feed" -> 100, "notification_feed" -> 50)
  private val newestFirst = Set("referrals_of", "gift_codes_of", "commission_feed",
    "notification_feed")

  /** Properties a response must hold whatever the data: feeds respect
    * their limit and come newest first; in a redeem batch each valid code
    * pays exactly one direct row and each self-redeemed or already
    * redeemed code pays nothing. Returns the violations found. */
  def violations(r: Request, df: DataFrame, rows: Array[Row]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    feedLimit.get(r.route).foreach { lim =>
      if (rows.length > lim) bad += s"${r.route} returned ${rows.length} rows > $lim"
    }
    if (newestFirst(r.route)) {
      val i = df.schema.fieldIndex("created_at")
      val ts = rows.map(_.getTimestamp(i).getTime)
      if (ts.zip(ts.drop(1)).exists { case (a, b) => a < b })
        bad += s"${r.route} is not newest first"
    }
    if (r.route == "redeem") {
      val kv = r.meta.split(";").map { p =>
        val Array(k, v) = p.split("=", 2)
        k -> v.split(",").filter(_.nonEmpty).map(_.toLong).toSet
      }.toMap
      val rid = df.schema.fieldIndex("redemption_id")
      val ct = df.schema.fieldIndex("ctype")
      val direct = rows.filter(_.getString(ct) == "direct")
        .groupBy(_.getLong(rid)).view.mapValues(_.length).toMap
      kv("valid").foreach { id =>
        if (direct.getOrElse(id, 0) != 1)
          bad += s"valid code $id paid ${direct.getOrElse(id, 0)} direct rows"
      }
      val paid = rows.map(_.getLong(rid)).toSet
      kv("invalid").foreach { id =>
        if (paid(id)) bad += s"invalid code $id paid commission"
      }
    }
    bad.result()
  }
}
