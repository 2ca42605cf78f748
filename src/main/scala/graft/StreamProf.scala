package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only stream-replay profiler (the round-8 stall hunt): runs the
  * named stream-replay queries N times and prints, per repeat, the
  * wall time split into STAGING (everything before the streaming
  * query starts), the per-micro-batch progress durations reported by
  * the engine, and the drain/stop tail — so a 4–15× outlier repeat
  * shows WHERE it stalled (trigger scheduling, source discovery,
  * state commit, or outside the stream entirely).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StreamProf q43_stream_tumbling 8
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.dropRight(
      if (args.last.forall(_.isDigit)) 1 else 0).toSeq
      else Seq("q43_stream_tumbling")
    val reps = args.lastOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(6)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)

    // progress log: (query runId, batchId, trigger timestamp, durations)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add(f"    START   ${System.currentTimeMillis()}%d ${e.name}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def g(k: String): Long = Option(d.get(k)).map(_.toLong).getOrElse(-1L)
        val state = Option(p.stateOperators).filter(_.nonEmpty)
          .map(ops => ops.map(o =>
            s"commit=${o.commitTimeMs}ms rows=${o.numRowsTotal}").mkString(";"))
          .getOrElse("-")
        events.add(
          f"    BATCH ${p.batchId}%3d rows=${p.numInputRows}%7d " +
          f"trigger=${g("triggerExecution")}%6dms addBatch=${g("addBatch")}%6dms " +
          f"getBatch=${g("getBatch")}%5dms latestOffset=${g("latestOffset")}%5dms " +
          f"queryPlanning=${g("queryPlanning")}%5dms walCommit=${g("walCommit")}%5dms " +
          f"commitOffsets=${g("commitOffsets")}%5dms state[$state]")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.add(f"    STOP    ${System.currentTimeMillis()}%d")
    })

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      println(s"== $name (reps=$reps, sf=$sfDir) ==")
      // warm-up (builds scratch staging dirs, codegen)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"  warmup failed: ${e.getMessage}") }
      for (r <- 1 to reps) {
        events.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val el = (System.nanoTime() - t0) / 1e9
        println(f"  repeat $r%2d: total ${el}%7.2f s")
        events.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
