package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** The one test session: `Sessions.local(4)`, the session every main
  * runs on, shared by all suites in the test JVM. Each suite starts by
  * asserting the session still has that policy, and a test that leaves
  * the runtime conf different from how it found it fails. A test that
  * needs another runtime setting takes it for its own body only, via
  * [[withConf]]. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4)

  override def beforeAll(): Unit = {
    super.beforeAll()
    val c = spark.conf
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.catalogImplementation") == "in-memory")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.enabled") == "false")
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold ==
      SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.defaultValue.get)
    val injected = spark.sessionState.optimizer.batches
      .flatMap(_.rules.map(_.ruleName)).filter(_.startsWith("graft."))
    assert(injected.isEmpty && spark.experimental.extraOptimizations.isEmpty,
      s"optimizer rules injected into the shared session: $injected")
  }

  override def withFixture(test: NoArgTest): Outcome = {
    val before = spark.conf.getAll
    val outcome = super.withFixture(test)
    val after = spark.conf.getAll
    val changed = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
    if (outcome == Succeeded && changed.nonEmpty)
      Failed(s"test left the session conf changed: ${changed.mkString(", ")}")
    else outcome
  }

  def withConf[T](kv: (String, String)*)(body: => T): T =
    SparkSuite.withConf(spark)(kv: _*)(body)
}

object SparkSuite {
  /** Runs `body` with the runtime settings `kv` on `spark`, then puts
    * each key back as it was: its old value, or unset if it had none. */
  def withConf[T](spark: SparkSession)(kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
