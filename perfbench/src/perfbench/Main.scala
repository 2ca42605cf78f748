package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Commission, Tables}

/** The JVM side of the benchmark; `perfbench/run.py` launches it.
  *
  *   --mode oracle --out F        write each batch operation's oracle SQL
  *   --mode run --workload W --seconds S --trace 0|1 --data D --work T --out F
  *     [--domain R --script Q] [--wind-down U]
  *                                run one workload, write raw records to F
  *
  * A run sets up a session three times, and after each set-up makes the
  * first pass of that fresh session over the workload's operations (the
  * passes numbered 0 to 2); the last session stays for warm passes until
  * `--seconds` have gone by (at least four, six when traced). The caller
  * counts warm passes from the second on, once the JIT has settled. Past
  * `--wind-down` seconds of JVM uptime no warm pass starts after the
  * third. Each
  * operation is timed from outside, and its result digest is recorded
  * for the caller to check. With `--trace 1` the listeners are attached
  * and spans recorded on the set-ups, the first passes and the even warm
  * passes; the odd ones run bare, so one traced run also measures the
  * tracing overhead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "oracle" =>
        write(a("out"), Json.obj(Workloads.batch.map(o => o.name -> Json.obj(Seq(
          "data" -> Json.str(o.data), "sql" -> Json.str(o.oracle))))))
      case "run" => new Run(a).go()
    }
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(UTF_8))
}

/** Minimal JSON writer for the record file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** One timed operation as recorded. */
final class OpRecord(val pass: Int, val name: String, val req: Int) {
  var buildS = 0.0; var actionS = 0.0
  var rows = -1L; var sha = ""; var error = ""
  var planS: Seq[Double] = Seq(0.0, 0.0, 0.0)
  var violations: Seq[String] = Nil
  var spanId = 0L
}

final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val seconds = a("seconds").toDouble
  /** JVM uptime after which no warm pass starts beyond the ones a report
    * needs, so that a slowed machine cannot push a run past its limit. */
  private val windDownS = a.get("wind-down").map(_.toDouble).getOrElse(Double.MaxValue)
  private val traced = a("trace") == "1"
  private val cores = 4
  private val setups = 3
  private val minWarm = if (traced) 6 else 4
  // two, not four: four clients kept all 4 vCPUs busy, and warm passes
  // then swung by a third between runs with the neighbours' load
  private val clients = 2
  private val work = a("work")
  private val serve = workload == "rehive-serve"
  private val dataDir = if (serve) a("domain") else a("data")

  private val probe = new Probe
  private var spark: SparkSession = _
  private var rehive: graft.api.RehiveData = _
  private var closure: DataFrame = _
  private val setupRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val passRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()

  private def now = System.nanoTime()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, all threads, in nanoseconds. */
  private def cpuNs = osBean.getProcessCpuTime
  private def secs(t0: Long) = (now - t0) / 1e9

  private def buildSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as graft.Bench: fixture shuffles are small, and AQE would fold
      // every post-shuffle stage to one partition
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def setTracing(on: Boolean): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    if (on && !Trace.on) {
      spark.sparkContext.addSparkListener(probe)
      spark.streams.addListener(probe.streams)
    } else if (!on && Trace.on) {
      spark.sparkContext.removeSparkListener(probe)
      spark.streams.removeListener(probe.streams)
    }
    Trace.on = on
  }

  /** Session, inputs through `Tables`, and on rehive-serve the ancestor
    * closure: everything before the first operation can be issued. */
  private def setUp(k: Int): Unit = {
    val t0 = if (k == 0)
      now - (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    else now
    val ts = now
    spark = buildSession()
    val sessionS = secs(ts)
    Trace.sc = spark.sparkContext
    if (traced) setTracing(true)
    val rec = mutable.Map("session_s" -> sessionS)
    Trace.span("harness", s"setup$k") {
      val tt = now
      Trace.span("tables", "resolve") {
        if (serve) Serve.domainTables.foreach(Tables.load(spark, dataDir, _))
        else Workloads.tables.foreach { case (d, t) => Tables.table(spark, s"$dataDir/$d", t) }
      }
      rec("tables_s") = secs(tt)
      if (serve) {
        rehive = Serve.data(spark, dataDir)
        val tc = now
        Trace.span("commission", "ancestors") {
          closure = Commission.ancestors(rehive.referrals, 10).persist()
          rec("closure_rows") = closure.count().toDouble
        }
        rec("ancestors_s") = secs(tc)
      }
    }
    rec("total_s") = secs(t0)
    setupRecs += rec.toMap
  }

  private def tearDown(): Unit = {
    if (traced) setTracing(false)
    spark.stop()
    spark = null
  }

  private def runBatchOp(pass: Int, op: Op): OpRecord = {
    val r = new OpRecord(pass, op.name, -1)
    Trace.span("engine", op.name) {
      r.spanId = Trace.currentId
      try {
        val t0 = now
        val df = Trace.span("engine", "build") { op.run(spark, s"$dataDir/${op.data}") }
        val t1 = now
        val rows = Trace.span("exec", "action") { df.collect() }
        r.buildS = (t1 - t0) / 1e9
        r.actionS = secs(t1)
        r.planS = planning(df)
        val (n, sha) = Canon.digest(df.schema, rows)
        r.rows = n; r.sha = sha
      } catch { case e: Throwable => r.error = e.toString.take(400) }
    }
    r
  }

  private def runRequest(pass: Int, q: Request): OpRecord = {
    val r = new OpRecord(pass, q.route, q.idx)
    Trace.span("api", q.route, q.idx.toLong) {
      r.spanId = Trace.currentId
      try {
        val t0 = now
        val df = Trace.span("api", "build") { Serve.call(spark, rehive, closure, q) }
        val t1 = now
        val rows = Trace.span("exec", "action") { df.collect() }
        r.buildS = (t1 - t0) / 1e9
        r.actionS = secs(t1)
        r.planS = planning(df)
        val (n, sha) = Canon.digest(df.schema, rows, Serve.unordered(q.route))
        r.rows = n; r.sha = sha
        r.violations = Serve.violations(q, df, rows)
      } catch { case e: Throwable => r.error = e.toString.take(400) }
    }
    r
  }

  /** Analysis, optimization and physical planning of the returned plan,
    * from Spark's QueryPlanningTracker. */
  private def planning(df: DataFrame): Seq[Double] = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").map(p =>
      ph.get(p).map(x => (x.endTimeMs - x.startTimeMs) / 1e3).getOrElse(0.0))
  }

  private def onePass(pass: Int, script: IndexedSeq[Request]): Unit = {
    val c0 = cpuNs
    val t0 = now
    Trace.span("harness", s"pass$pass") {
      if (serve) {
        val next = new AtomicInteger(0)
        val threads = (0 until clients).map { _ =>
          new Thread(() => {
            var i = next.getAndIncrement()
            while (i < script.length) {
              ops.add(runRequest(pass, script(i)))
              i = next.getAndIncrement()
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      } else Workloads.batch.foreach(op => ops.add(runBatchOp(pass, op)))
    }
    val wall = secs(t0)
    val cpu = (cpuNs - c0) / 1e9
    // untimed: collect, so the heap left is what the pass retains
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    // the work a pass leaves cached: memoized spines, persisted closures
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    passRecs += Map("index" -> pass.toDouble, "wall_s" -> wall, "cpu_s" -> cpu,
      "traced" -> (if (Trace.on) 1.0 else 0.0), "cached_mb" -> cached, "live_heap_mb" -> live)
  }

  def go(): Unit = {
    val script = if (serve) Serve.script(a("script")) else IndexedSeq.empty
    // each set-up is followed by the first pass of its fresh session; the
    // last session stays for the warm passes
    (0 until setups).foreach { k =>
      if (k > 0) tearDown()
      setUp(k)
      onePass(k, script)
    }
    val warm0 = now
    var pass = setups
    def warmNo = pass - setups + 1
    def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // warm passes 1 to 3: the discarded first, then one traced and one
    // bare pass that a traced run needs
    while ((warmNo <= minWarm || secs(warm0) < seconds) && (warmNo <= 3 || uptimeS < windDownS)) {
      if (traced) setTracing(warmNo % 2 == 0)
      onePass(pass, script)
      pass += 1
    }
    if (traced) setTracing(false)
    PerfbenchBus.drain(spark.sparkContext)
    val out = report()
    tearDown()
    Main.write(a("out"), out)
  }

  private def report(): String = {
    val spans = Trace.spans
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Set[Long] = {
      val acc = mutable.Set(id)
      var frontier = Seq(id)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(p => kids.getOrElse(p, Nil).map(_.id))
        acc ++= frontier
      }
      acc.toSet
    }
    def execJson(ids: Set[Long]): String = {
      val e = probe.execUnder(ids)
      Json.obj(Seq("jobs" -> e.jobs, "tasks" -> e.tasks).map { case (k, v) => k -> v.toString } ++
        Seq("task_cpu_s" -> e.cpuNs / 1e9, "task_gc_s" -> e.gcMs / 1e3,
          "scan_mb" -> e.scanBytes / 1048576.0,
          "shuffle_write_mb" -> e.shuffleWrite / 1048576.0,
          "shuffle_read_mb" -> e.shuffleRead / 1048576.0,
          "fetch_wait_s" -> e.fetchWaitMs / 1e3, "spill_disk_mb" -> e.spillDisk / 1048576.0,
          "peak_exec_mem_mb" -> e.peakExecMem / 1048576.0, "skew" -> e.worstSkew)
          .map { case (k, v) => k -> Json.num(v) })
    }
    def streamJson(ids: Set[Long]): String = {
      val ss = probe.streamUnder(ids)
      Json.obj(Seq(
        "batches" -> ss.map(_.batches).sum.toDouble,
        "trigger_ms" -> ss.flatMap(_.triggerMs).sum.toDouble,
        "first_batch_ms" -> ss.flatMap(_.firstBatchMs).sum.toDouble,
        "add_batch_ms" -> ss.map(_.addBatchMs).sum.toDouble,
        "wal_commit_ms" -> ss.map(_.walCommitMs).sum.toDouble,
        "state_commit_ms" -> ss.map(_.stateCommitMs).sum.toDouble,
        "state_rows" -> ss.map(_.stateRows).sum.toDouble,
        "state_mb" -> ss.map(_.stateBytes).sum / 1048576.0)
        .map { case (k, v) => k -> Json.num(v) })
    }
    val opsJson = ops.asScala.toSeq.sortBy(r => (r.pass, r.req, r.name)).map { r =>
      val ids = if (r.spanId > 0) subtree(r.spanId) else Set.empty[Long]
      Json.obj(Seq(
        "pass" -> r.pass.toString, "name" -> Json.str(r.name), "req" -> r.req.toString,
        "build_s" -> Json.num(r.buildS), "action_s" -> Json.num(r.actionS),
        "rows" -> r.rows.toString, "sha" -> Json.str(r.sha), "error" -> Json.str(r.error),
        "plan_s" -> Json.arr(r.planS.map(Json.num)),
        "violations" -> Json.arr(r.violations.map(Json.str))) ++
        (if (r.spanId > 0) Seq("exec" -> execJson(ids), "stream" -> streamJson(ids)) else Nil))
    }
    val setupIds = spans.filter(s => s.layer == "harness" && s.name.startsWith("setup"))
      .map(_.id).flatMap(subtree).toSet
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val oracle = if (serve) Nil else Workloads.batch.map(o => o.name -> Json.obj(Seq(
      "data" -> Json.str(o.data), "sql" -> Json.str(o.oracle),
      "sql_sha256" -> Json.str(Canon.sha256(o.oracle)))))
    val selfS = Trace.selfSeconds
    val spanJson = spans.filter(_.end >= 0).sortBy(_.start).map(s => Json.arr(Seq(
      s.id.toString, Json.str(s.layer), Json.str(s.name), s.parent.toString, s.req.toString,
      Json.num(s.start / 1e9), Json.num(s.end / 1e9))))
    Json.obj(Seq(
      "workload" -> Json.str(workload), "cores" -> cores.toString,
      "cold_passes" -> setups.toString,
      "setups" -> Json.arr(setupRecs.toSeq.map(m => Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }))),
      "passes" -> Json.arr(passRecs.toSeq.map(m => Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }))),
      "ops" -> Json.arr(opsJson),
      "setup_exec" -> execJson(setupIds),
      "oracle" -> Json.obj(oracle),
      "jit_s" -> Json.num(jit), "gc_s" -> Json.num(gc),
      "self_s" -> Json.obj(selfS.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spanJson),
      "peak_rss_mb" -> Json.num(peakRssMb)))
  }

  /** VmHWM of this process, from /proc/self/status. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
