package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** The one test session: `Sessions.local(4)`, the session every main
  * runs on, shared by all suites in the test JVM. Each suite starts by
  * asserting the session still has that policy, and a test that leaves
  * the runtime conf different from how it found it fails. A test that
  * needs another runtime setting takes it for its own body only, via
  * [[withConf]]. When the JVM exits, the session drops the state tables
  * it made ([[graft.engine.Scratch.dropOwnState]]), so the warehouse
  * under `target/` keeps none after a run. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4)

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSuite.dropStateOnExit(spark)
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

  /** Jobs started while `body` runs, counted with a SparkListener. Job
    * starts arrive on the listener bus in order, so `body` is bracketed
    * between two marker jobs and only what starts between them counts. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("job"))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-begin")
      body
      marker("jobs-end")
      val deadline = System.currentTimeMillis() + 30000
      while (!starts.contains("jobs-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val seen = starts.toArray.toSeq
    assert(seen.contains("jobs-end"), seen)
    seen.dropWhile(_ != "jobs-begin").drop(1).takeWhile(_ != "jobs-end").size
  }
}

object SparkSuite {
  private var dropping = false

  /** Registers, once per JVM, a shutdown hook that drops the session's
    * own state tables. It goes through Hadoop's hook manager at a
    * priority above Spark's own hook (40), so it runs while the
    * SparkContext is still up. */
  private def dropStateOnExit(spark: SparkSession): Unit = synchronized {
    if (!dropping) {
      dropping = true
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        () => graft.engine.Scratch.dropOwnState(spark), 50)
    }
  }

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
