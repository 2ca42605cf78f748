package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Execution counters filed under one span. */
final class ExecStats {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var scanBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var fetchWaitMs = 0L; var spillDisk = 0L; var peakExecMem = 0L
  var worstSkew = 1.0

  def add(o: ExecStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    scanBytes += o.scanBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spillDisk += o.spillDisk; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    worstSkew = math.max(worstSkew, o.worstSkew)
  }
}

/** Streaming counters filed under one span. */
final class StreamStats {
  var batches = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  var addBatchMs = 0L; var walCommitMs = 0L; var stateCommitMs = 0L
  var stateRows = 0L; var stateBytes = 0L
  /** triggerExecution of the first batch of each query run. */
  val firstBatchMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark's own listeners, filing what they see under the benchmark's
  * spans: a job carries the `perfbench.span` property of the thread that
  * started it, and its stages and tasks follow the job. Streaming
  * progress is filed under the span open when the query started. */
final class Probe extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val exec = mutable.Map.empty[Long, ExecStats]
  val stream = mutable.Map.empty[Long, StreamStats]
  private val queryRunSpan = mutable.Map.empty[java.util.UUID, Long]

  private def ex(span: Long) = exec.getOrElseUpdate(span, new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan(_) = span)
    ex(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = ex(stageSpan.getOrElse(e.stageId, 0L))
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillDisk += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        (e.taskInfo.duration)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).foreach { ds =>
      if (ds.length >= 2) {
        val sorted = ds.sorted
        val med = math.max(sorted(sorted.length / 2), 1L)
        val s = ex(stageSpan.getOrElse(id, 0L))
        s.worstSkew = math.max(s.worstSkew, sorted.last.toDouble / med)
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Probe.this.synchronized {
        // posted on the query's own thread, which inherited the local
        // properties, span included, of the thread that started it
        queryRunSpan(e.runId) = Option(Trace.sc).flatMap(sc =>
          Option(sc.getLocalProperty(Trace.SpanKey))).map(_.toLong).getOrElse(0L)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val span = queryRunSpan.getOrElse(p.runId, 0L)
        val st = stream.getOrElseUpdate(span, new StreamStats)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        st.batches += 1
        st.triggerMs += d("triggerExecution")
        if (p.batchId == 0L) st.firstBatchMs += d("triggerExecution")
        st.addBatchMs += d("addBatch")
        st.walCommitMs += d("walCommit") + d("commitOffsets")
        p.stateOperators.foreach { o =>
          st.stateCommitMs += o.commitTimeMs
          st.stateRows = math.max(st.stateRows, o.numRowsTotal)
          st.stateBytes = math.max(st.stateBytes, o.memoryUsedBytes)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def execUnder(spans: Set[Long]): ExecStats = synchronized {
    val acc = new ExecStats
    exec.foreach { case (k, v) => if (spans(k)) acc.add(v) }
    acc
  }

  def streamUnder(spans: Set[Long]): Seq[StreamStats] = synchronized {
    stream.collect { case (k, v) if spans(k) => v }.toSeq
  }
}
