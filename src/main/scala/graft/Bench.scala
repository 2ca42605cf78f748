package graft
import graft.engine._
import scala.util.control.NonFatal

/** Headline benchmark. Protocol (variance-controlled, r5):
  *
  *   - queries run grouped by FAMILY (the module that declares them),
  *     so the memoized spines (shingles, LSH pairs, tf vectors,
  *     ancestor closures) a family shares are warm while the family is
  *     timed and RELEASED before the next family starts — resident
  *     cache is bounded by one family, not the whole 120-query
  *     surface. (r4 showed a +30% common-query drift concentrated in
  *     the shared-spine text/dedup families — cache-pressure shaped,
  *     not plan shaped; this protocol removes the mechanism.)
  *   - per family: one untimed warm-up run of every query (builds
  *     spines, parquet footers, codegen classes), then REPEATS timed
  *     runs of each query; report the MEDIAN per query (robust) and
  *     the MIN (steady-state floor) alongside.
  *   - headline total = sum of per-query medians.
  */
object Bench {
  private val REPEATS = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt

  /** Multi-batch Structured Streaming REPLAYS: trigger scheduling and
    * checkpoint setup dominate their runtime, which swings 2–4×
    * between otherwise-identical runs (r7's idle-rerun variance was
    * concentrated here), so (a) they run with their own repeat count
    * (default REPEATS+2, env-overridable) and (b) their full
    * min/median/max spread ships in the JSON line — rung ratios for
    * the BATCH surface are computed family-excluded in SCALE.md
    * rather than being hostage to stream replay jitter. */
  private val streamReplays = Set(
    "q43_stream_tumbling", "q239_stream_late_data",
    "q245_stream_stream_join", "q257_stream_dedup")
  private val SREPEATS =
    sys.env.getOrElse("SPARK_GRAFT_REPEATS_STREAM", (REPEATS + 2).toString).toInt

  /** 1-minute system load average at call time (-1.0 if unreadable).
    * Emitted at run start AND end so a contended run is
    * self-identifying: the r6 official record was ~1.5× inflated by
    * co-located driver work and only an ad-hoc idle re-run could prove
    * it — now the evidence ships inside the bench line itself. */
  private def loadavg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case NonFatal(_) => -1.0 }

  /** Fixed CPU microbenchmark (million integer ops/sec, single thread
    * then all cores): a machine-speed constant that ships INSIDE every
    * bench line. Round 9's official sf0.1 record regressed ~9% with an
    * idle start and no in-round cause; an idle round-10 re-run of the
    * unchanged code reproduced the slower level (154.1 s at loadavg
    * 0.16) with a uniform ~+5% per-query ratio — the environment each
    * round lands on is simply not the same machine-speed. These two
    * numbers make that drift measurable instead of arguable: compare
    * host_st_mops across rounds before comparing totals. */
  private def hostProbe(): (Double, Double) = {
    def burn(iters: Long): Long = {
      var x = 0x9e3779b97f4a7c15L; var i = 0L
      while (i < iters) { x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L + i; i += 1 }
      x
    }
    burn(10000000L) // JIT warm-up
    val n = 300000000L
    val t0 = System.nanoTime(); val s = burn(n); val stNs = System.nanoTime() - t0
    val threads = Runtime.getRuntime.availableProcessors()
    // each thread's burn result lands in a shared sink: a discarded
    // result inside the lambda is dead code C2 may eliminate, which
    // would inflate host_mt_mops — the very drift signal the probe
    // exists to make trustworthy (round-10 advice)
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val t1 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { sink.addAndGet(burn(n)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val mtNs = System.nanoTime() - t1
    val st = n * 1000.0 / stNs                 // M ops/sec, one thread
    val mt = n * threads * 1000.0 / mtNs       // M ops/sec, all cores
    if ((s ^ sink.get()) == 42L) Console.err.println("") // un-eliminable
    (st, mt)
  }

  /** Code identity stamp for every bench line (r11 VERDICT #9): the
    * round-11 rung ladder mixed records from different code SHAs and
    * every recomputed exponent became cross-code guesswork. `sha` is
    * `git rev-parse HEAD` and `dirty` whether tracked files are
    * modified, read via git at run start (empty/false if git is
    * unavailable — the stamp must never fail a bench run). */
  private def gitStamp(): (String, Boolean) = {
    def run(cmd: String*): String =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) out else ""
      } catch { case NonFatal(_) => "" }
    // Resolve the repo root first (ADVICE r12): relative pathspecs
    // silently mis-reported when Bench was launched from a
    // subdirectory, and a top-level-only exclusion left other
    // harness-rewritten record files (VERDICT.md, LEAKCHECK.json, …)
    // marking code-identical runs dirty. The dirty check now covers
    // exactly the code surface — src/, build.sbt, project/, scripts/ —
    // anchored to the top with :(top) pathspec magic.
    val root0 = run("git", "rev-parse", "--show-toplevel")
    val root = if (root0.nonEmpty) root0 else "."
    val sha = run("git", "-C", root, "rev-parse", "HEAD")
    // -uno: untracked scratch never counts
    val dirty = run("git", "-C", root, "status", "--porcelain", "-uno",
      "--", ":(top)src", ":(top)build.sbt", ":(top)project",
      ":(top)scripts").nonEmpty
    (sha, dirty)
  }

  /** CPU cores that processes other than this JVM kept busy over the
    * last `secs` seconds: the machine's busy ticks in /proc/stat (in
    * USER_HZ = 1/100 s) minus this process's own CPU time, per second
    * of wall time. None if /proc/stat is unreadable. */
  private def othersBusyCores(secs: Int): Option[Double] = {
    val self = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // cpu user nice system idle iowait irq softirq steal [guest …]:
    // guest time is already inside user, idle and iowait are not busy
    def busyTicks(): Option[Long] =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
          .trim.split("\\s+").drop(1).take(8).map(_.toLong)
        Some(f.sum - f(3) - f(4))
      } catch { case NonFatal(_) => None }
    val t0 = System.nanoTime(); val c0 = self.getProcessCpuTime
    busyTicks().flatMap { b0 =>
      Thread.sleep(secs * 1000L)
      busyTicks().map { b1 =>
        val wall = (System.nanoTime() - t0) / 1e9
        val own = (self.getProcessCpuTime - c0) / 1e9
        math.max(0.0, ((b1 - b0) / 100.0 - own) / wall)
      }
    }
  }

  /** Wait for the machine to go idle before timing anything: while
    * other processes keep more than SPARK_GRAFT_IDLE_MAX cores busy
    * (default 1.0, sampled over 3 s), wait, for at most
    * SPARK_GRAFT_IDLE_WAIT_MAX seconds (default 600; 0 skips the
    * check). Measuring the others' CPU use directly, not the 1-minute
    * load average, lets a run start right after a previous one: that
    * run's own load keeps the average above 1 for minutes after it
    * ends. If /proc/stat is unreadable, nothing waits. */
  private def awaitIdle(): Unit = {
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT_MAX", "600").toInt
    val idleMax = sys.env.getOrElse("SPARK_GRAFT_IDLE_MAX", "1.0").toDouble
    val deadline = System.currentTimeMillis() + maxWait * 1000L
    var waiting = maxWait > 0
    while (waiting) othersBusyCores(3) match {
      case Some(busy) if busy > idleMax && System.currentTimeMillis() < deadline =>
        Console.err.println(
          f"[bench] waiting for idle: others busy on $busy%.2f cores > $idleMax%.1f")
      case _ => waiting = false
    }
  }

  def main(args: Array[String]): Unit = {
    awaitIdle()
    // loadavg_start is read BEFORE the host probe: the probe's own
    // burn threads (1 + all cores for ~3 s) bump the 1-minute load by
    // ~1–2, which round-10 briefly misread as a contaminated start —
    // the recorded value must describe the machine the wait delivered,
    // not the probe measuring it.
    val loadStart = loadavg()
    val (gitSha, gitDirty) = gitStamp()
    val (hostSt, hostMt) = hostProbe()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    // warehouse janitor: reclaim state dirs left by crashed/old runs
    try Scratch.sweepAgedState(spark) catch { case NonFatal(_) => () }

    // Session-level warm-up, untimed: parquet footer reads, the session
    // init, and the flagship entry (JIT + codegen compiler priming).
    try {
      Tables.all.foreach(t => Tables.table(spark, sfDir, t).count())
      SparkEntry.entry(spark).count()
      SessionMemo.releaseAll(spark)
    } catch { case NonFatal(_) => () }

    val med = scala.collection.mutable.Map.empty[String, Double]
    val mn = scala.collection.mutable.Map.empty[String, Double]
    val mx = scala.collection.mutable.Map.empty[String, Double]
    val famTot = scala.collection.mutable.Map.empty[String, Double]
    // Queries that THREW during a timed run. The catch below keeps the
    // run going (one broken query must not zero a whole rung), but a
    // swallowed failure records a partial time that silently pollutes
    // the rung — the sf3 ANSI-overflow incident. Failures are emitted
    // in the JSON line so a polluted run is self-identifying, like the
    // loadavg fields.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    // Warm-up seconds per family (r12 VERDICT #8): the untimed
    // family warm-up builds memoized spines OUTSIDE every timed
    // sample, so its cost must be a reported number in the line, not
    // an invisible subsidy. Additions-only: no timed-run protocol
    // change.
    val famWarm = scala.collection.mutable.Map.empty[String, Double]
    // SPARK_GRAFT_ONLY=q01_...,q64_... restricts the run to a subset —
    // the scaling-curve rungs (SCALE.md) time the headline set at big
    // sf without paying for fixture-artifact queries whose OUTPUT grows
    // quadratically in ScaleUp copies (q68: every copy pair is a
    // genuine near-dup pair).
    for (fam <- SparkEntry.selected) {
      val qs = fam.queries.toSeq.sortBy(_._1)
      // family warm-up: builds this family's shared spines and compiles
      // every generated class, so timed runs measure steady state
      val w0 = System.nanoTime()
      qs.foreach { case (_, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () } }
      famWarm(fam.name) = (System.nanoTime() - w0) / 1e9
      qs.foreach { case (name, fn) =>
        val reps = if (streamReplays(name)) SREPEATS else REPEATS
        // (elapsed, succeeded) per repeat: a throwing repeat records
        // its time-to-exception, but min/median/max are computed over
        // SUCCESSFUL samples only — a failed attempt lands the query
        // in `failed` without silently polluting the spread (if every
        // repeat failed, the failure times stand in so the row isn't
        // invisibly free, and `failed` flags it).
        val samples = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => failed += name; false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val good = samples.filter(_._2).map(_._1).sorted
        val ts = if (good.nonEmpty) good else samples.map(_._1).sorted
        med(name) = ts(ts.length / 2)
        mn(name) = ts.head
        mx(name) = ts.last
      }
      famTot(fam.name) = qs.map { case (n, _) => med.getOrElse(n, 0.0) }.sum
      // bound resident cache to one family: drop spines + cached plans,
      // and nudge the ContextCleaner to reap localCheckpoint blocks
      SessionMemo.releaseAll(spark)
      System.gc()
    }

    // Round per-query seconds to 4 decimals to keep the line short, and
    // close with a duplicate "total_sec" so a tail-capture that eats the
    // line's HEAD still carries the headline number. The full line is
    // also written to /tmp/bench.json, which log capture can't truncate.
    def r4(v: Double): Double = math.round(v * 10000).toDouble / 10000
    def jmap(m: collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r4(v) }
        .mkString("{", ",", "}")
    val total = r4(if (med.nonEmpty) med.values.sum else 0.0)
    val totalMin = r4(if (mn.nonEmpty) mn.values.sum else 0.0)
    val loadEnd = loadavg()
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-family subtotals + the streaming replays' full spread: the
    // batch surface's rung ratios are computable family-excluded, and
    // a jittery stream replay self-identifies inside the line.
    val famJson = famTot.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val warmJson = famWarm.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val warmTotal = r4(famWarm.values.sum)
    val spreadJson = streamReplays.toSeq.sorted.filter(med.contains)
      .map(n => "\"" + n + "\":[" + r4(mn(n)) + "," + r4(med(n)) + "," +
        r4(mx(n)) + "]").mkString("{", ",", "}")
    val loads =
      s""""sha":"$gitSha","dirty":$gitDirty,""" +
        s""""loadavg_start":${r4(loadStart)},"loadavg_end":${r4(loadEnd)}""" +
        s""","host_st_mops":${r4(hostSt)},"host_mt_mops":${r4(hostMt)},"failed":$failedJson""" +
        s""","families":$famJson,"stream_repeats":$SREPEATS,"stream_spread":$spreadJson""" +
        s""","warmup_sec":$warmTotal,"warmup_families":$warmJson"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(med)},"sf":"$sfDir","repeats":$REPEATS,$loads,"min_total_sec":$totalMin,"total_sec":$total}"""
    println(line)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","repeats":$REPEATS,"sf":"$sfDir",$loads,"median":${jmap(med)},"min":${jmap(mn)},"min_total_sec":$totalMin,"total_sec":$total}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/bench.json"), full + "\n")
    catch { case NonFatal(_) => () }
    // LAST stdout line: a short summary WITHOUT the per-query map, so a
    // head-truncated tail-capture of stdout always contains at least one
    // complete, parseable JSON line.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n":${med.size},"min_total_sec":$totalMin,$loads,"sf":"$sfDir"}""")
    // graceful-shutdown cleanup: drop this run's own state tables
    try Scratch.dropOwnState(spark) catch { case NonFatal(_) => () }
    spark.stop()
  }
}
