package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}
import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionOut}

/** Structured Streaming specs: incremental MemoryStream feed through
  * the real streaming plans (SURVEY.md §2.8). */
class StreamingSpec extends SparkSuite {
  val MIN = 60L * 1000000 // one minute in micros

  /** The state operators of every stream `body` starts, as a listener on
    * the caller's `spark.streams` sees them, once each of those streams
    * has terminated (progress events reach a listener before the
    * termination event). */
  private def stateOpsOf(body: => Unit): Seq[StateOperatorProgress] = {
    val started, ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ops = new ConcurrentLinkedQueue[StateOperatorProgress]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = { started.add(e.runId); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(ops.add)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { ended.add(e.runId); () }
    }
    def done = !started.isEmpty && ended.containsAll(started)
    spark.streams.addListener(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 30000
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.streams.removeListener(listener)
    assert(done, s"started $started, terminated $ended")
    ops.asScala.toSeq
  }

  private val tiny = "/root/testdata/sf0.001"
  private val rollups = Seq[(String, SparkSession => DataFrame)](
    "q43" -> (Streams.tumblingCounts(_, tiny)),
    "q239" -> (Streams.lateDataTumbling(_, tiny)))

  test("a rollup stream's second call in a session compiles no classes") {
    rollups.foreach { case (name, q) =>
      q(spark).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      q(spark).collect()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before, name)
    }
  }

  test("declared streams keep HDFS-backed state at their widths") {
    (rollups.map { case (name, q) => (name, q, 2) } ++ Seq(
      ("q245", Streams.streamStreamAttribution(_: SparkSession, tiny), 8),
      ("q257", Streams.streamingDedupPlanted(_: SparkSession, tiny), 4))).foreach {
      case (name, q, width) =>
        val ops = stateOpsOf(q(spark).collect())
        assert(ops.nonEmpty, name)
        ops.foreach { o =>
          assert(o.numShufflePartitions == width, name)
          val metrics = o.customMetrics.keySet.asScala
          assert(metrics.contains("loadedMapCacheHitCount"), s"$name: $metrics")
          assert(!metrics.exists(_.startsWith("rocksdb")), s"$name: $metrics")
        }
    }
  }

  test("aggregation state survives a checkpointed stop/restart") {
    import spark.implicits._
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_meta").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def startQuery() = spark.readStream.schema(schema).parquet(src)
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("total"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ckpt_test").start()

    // epoch 1: first file, then a clean stop
    Seq(("a", 1L), ("b", 10L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // epoch 2: new file arrives while the query is DOWN
    Seq(("a", 2L), ("c", 100L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // the restarted query recovers offsets AND aggregate state from
    // the checkpoint: epoch-1 totals must still be included even
    // though only the epoch-2 file was read after restart
    val got = spark.table("ckpt_test").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 10L, "c" -> 100L))
  }

  test("stateful dedup is provider-agnostic: RocksDB state store ≡ default") {
    // at 100 TB/day the in-memory HDFS-backed store OOMs on big key
    // spaces; RocksDB spills state to local disk with the same
    // semantics — this pins that switching providers changes nothing
    // but the storage engine
    val dir = "/root/testdata/sf0.001"
    val default = Streams.streamingDedup(spark, dir).collect().toSeq
    val rocks = withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      Streams.streamingDedup(spark, dir).collect().toSeq
    }
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }

  test("stream-stream interval join attributes purchases across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{timestamp_micros, col}
    val clicks = MemoryStream[(Long, Long)]    // (user_id, tsUs)
    val buys = MemoryStream[(Long, Long, Double)] // (user_id, tsUs, value)
    val cDf = clicks.toDS().toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val pDf = buys.toDS().toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = Streams.purchaseAttribution(cDf, pDf)
      .selectExpr("user_id", "amount")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_test").start()

    // event times sit well above epoch 0: a row whose event time is at
    // or below the current watermark (initially 0) is dropped as late
    // before it ever reaches join state
    val B = 1704067200L * 1000000L // 2024-01-01
    // batch 1: clicks only — no output yet
    clicks.addData((7L, B), (8L, B))
    q.processAllAvailable()
    assert(spark.table("attr_test").count() == 0)
    // batch 2: user 7 buys 10 min after the click (joins), user 8 buys
    // 2 h after (outside the interval — no row), user 9 buys with no
    // click (no row)
    buys.addData((7L, B + 10 * MIN, 5.0), (8L, B + 120 * MIN, 9.0), (9L, B + 10 * MIN, 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attr_test").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((7L, 5.0)))
  }

  test("q245 file-replayed stream-stream join equals the batch interval join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val streamed = Streams.streamStreamAttribution(spark, dir)
      .collect().toSeq
    val ev = graft.engine.Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("amount"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("amount"))
      .orderBy("user_id", "click_id", "purchase_id")
      .collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer stream-stream join finalizes unconverted clicks as misses") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{timestamp_micros, col}
    val clicks = MemoryStream[(Long, Long)]
    val buys = MemoryStream[(Long, Long, Double)]
    val cDf = clicks.toDS().toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val pDf = buys.toDS().toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = Streams.purchaseAttribution(cDf, pDf, "left_outer")
      .selectExpr("user_id", "amount")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_outer_test").start()

    val B = 1704067200L * 1000000L
    val H = 60 * MIN
    // user 7 converts; user 8 never does
    clicks.addData((7L, B), (8L, B))
    q.processAllAvailable()
    buys.addData((7L, B + 10 * MIN, 5.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past user 8's match window so the
    // join can prove no purchase can ever arrive for it
    clicks.addData((97L, B + 4 * H))
    buys.addData((98L, B + 4 * H, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attr_outer_test")
      .as[(Long, Option[Double])].collect().toSet
    assert(rows.contains((7L, Some(5.0)))) // the conversion
    assert(rows.contains((8L, None)))      // the finalized miss
  }

  test("dropDuplicatesWithinWatermark suppresses a cross-batch retry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{timestamp_micros, col}
    val input = MemoryStream[(Long, Long)] // (event_id, tsUs)
    val df = input.toDS().toDF("event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = Streams.dedupWithinWatermark(df)
      .selectExpr("event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_wm_test").start()

    val B = 1704067200L * 1000000L // 2024-01-01, clear of the initial watermark
    input.addData((1L, B), (2L, B + 5 * MIN))
    q.processAllAvailable()
    // the retry of event 1 arrives a batch later, within the watermark
    input.addData((1L, B + 6 * MIN), (3L, B + 7 * MIN))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_wm_test").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("stateful sessionization closes a session after a 30-min gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStateful(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_test").start()

    // batch 1: two events 5 min apart (one open session)
    input.addData(Event(1, 0, 7, "click", 1.0), Event(2, 5 * MIN, 7, "view", 1.0))
    q.processAllAvailable()
    assert(spark.table("sessions_test").count() == 0) // still open

    // batch 2: event 40 min later → closes session 1, opens session 2
    input.addData(Event(3, 45 * MIN, 7, "click", 1.0))
    q.processAllAvailable()
    val closed = spark.table("sessions_test").as[SessionOut].collect()
    assert(closed.toSeq == Seq(SessionOut(7, 0, 5 * MIN, 2)))
    q.stop()
  }

  test("stateful streaming EWMA equals the batch aggregator bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // feed every event in global (ts, event_id) order across three
    // micro-batches — per-key order across batches, the state contract
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("tsUs"), $"user_id",
        $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.tsUs, e.event_id))
    val input = MemoryStream[Event]
    val q = Streams.ewmaStateful(input.toDS(), 0.2)
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_stream_test").start()
    ev.grouped(ev.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // final per-key update = the row with the largest n_events
    val streamed = spark.table("ewma_stream_test").as[Streams.EwmaOut]
      .collect().groupBy(_.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_.n_events) }
    // batch side: q103's exact shape minus the display round
    val ewma = graft.functions.EwmaAffine.udafFor(0.2)
    val batch = graft.engine.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"value")
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), ewma($"ts_us", $"event_id", $"value").as("e"))
      .as[(Long, Long, Double)].collect()
    assert(batch.nonEmpty && streamed.nonEmpty)
    batch.foreach { case (u, n, e) =>
      val s = streamed(u)
      assert(s.n_events == n, s"user $u event count: stream ${s.n_events} vs batch $n")
      assert(s.ewma == e, s"user $u ewma: stream ${s.ewma} != batch $e (bit-exact contract)")
    }
  }

  test("stateful streaming Holt equals the batch aggregator bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("tsUs"), $"user_id",
        $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.tsUs, e.event_id))
    val input = MemoryStream[Event]
    val q = Streams.holtStateful(input.toDS(), 0.5, 0.25)
      .writeStream.outputMode("update").format("memory")
      .queryName("holt_stream_test").start()
    ev.grouped(ev.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("holt_stream_test").as[Streams.HoltOut]
      .collect().groupBy(_.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_.n_events) }
    val holt = graft.functions.HoltAffine.udafFor(0.5, 0.25)
    val batch = graft.engine.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"value")
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), holt($"ts_us", $"event_id", $"value").as("h"))
      .select($"user_id", $"n", $"h.level", $"h.trend")
      .as[(Long, Long, Double, Double)].collect()
    assert(batch.nonEmpty && streamed.nonEmpty)
    batch.foreach { case (u, n, l, b) =>
      val s = streamed(u)
      assert(s.n_events == n, s"user $u event count: stream ${s.n_events} vs batch $n")
      assert(s.level == l, s"user $u level: stream ${s.level} != batch $l (bit-exact contract)")
      assert(s.trend == b, s"user $u trend: stream ${s.trend} != batch $b (bit-exact contract)")
    }
  }

  test("streaming HLL sketch state equals the batch sketch exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    // the 100 TB sketch-store pattern under incremental execution: a
    // streaming groupBy keeps ONE 64-int register array per group as
    // state, and because reduce/merge are pointwise max (commutative,
    // associative, idempotent), the state after any micro-batch split
    // is bit-identical to the batch sketch over the same rows
    val hll = udaf(new graft.engine.Sketches.Hll)
    val data = (1 to 20000).map(i => (i % 7L, s"v${i % 1303}"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("cohort", "x")
      .groupBy($"cohort").agg(hll(md5($"x")).as("st"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream_test").start()
    data.grouped(data.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("hll_stream_test")
      .as[(Long, Seq[Long])].collect().toMap
    val batch = data.toDF("cohort", "x")
      .groupBy($"cohort").agg(hll(md5($"x")).as("st"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(batch.nonEmpty && streamed == batch,
      "HLL register state must be identical under incremental execution")
  }

  test("streaming KMV and Bloom states equal their batch sketches exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    // same contract as the HLL test for the other two order-independent
    // sketches: bottom-k (KmvKeep) and OR-bitmap (BloomBits) states are
    // commutative-monoid folds, so micro-batch incrementalization is
    // invisible in the final state
    val keep = udaf(new graft.engine.Sketches.KmvKeep(32))
    val bloom = udaf(new graft.engine.Sketches.BloomBits(16))
    val data = (1 to 12000).map(i => (i % 5L, s"v${i % 797}"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("cohort", "x")
      .withColumn("p", conv(substring(md5($"x"), 1, 13), 16, 10)
        .cast("long") % 1024)
      .groupBy($"cohort")
      .agg(keep(md5($"x")).as("kmv"), bloom($"p").as("bm"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_bloom_stream_test").start()
    data.grouped(data.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("kmv_bloom_stream_test")
      .as[(Long, Seq[String], Seq[Long])].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    val batch = data.toDF("cohort", "x")
      .withColumn("p", conv(substring(md5($"x"), 1, 13), 16, 10)
        .cast("long") % 1024)
      .groupBy($"cohort")
      .agg(keep(md5($"x")).as("kmv"), bloom($"p").as("bm"))
      .as[(Long, Seq[String], Seq[Long])].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    assert(batch.nonEmpty && streamed == batch,
      "KMV/Bloom sketch state must be identical under incremental execution")
  }

  test("stateful streaming heavy hitters equal the batch summary in the exact regime") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.events(spark, dir)
      .select(($"user_id" % 5L).as("cohort"), $"event_type")
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = Streams.heavyHittersStateful(input.toDS(), cap = 8)
      .writeStream.outputMode("update").format("memory")
      .queryName("hh_stream_test").start()
    // arbitrary micro-batch slicing: exact-regime MG is order-free
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("hh_stream_test").as[Streams.HeavyHittersOut]
      .collect().groupBy(_.cohort)
      .map { case (c, rows) => c -> rows.maxBy(_.n_events) }
    // batch side = q112's summary on the same fixture
    val batch = SparkEntry.queries("q112_heavy_hitters_mg")(spark, dir)
      .as[(Long, Long, String)].collect()
    assert(batch.nonEmpty && streamed.size == batch.length)
    batch.foreach { case (c, n, hh) =>
      val s = streamed(c)
      assert(s.n_events == n && s.heavy_hitters == hh,
        s"cohort $c: stream (${s.n_events}, ${s.heavy_hitters}) vs batch ($n, $hh)")
    }
  }

  test("streaming ingest maintains dedup clusters identical to batch clustering") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)

    // maintained state: (band index, labels) — starts empty, each
    // micro-batch flows through the SAME dedupIncremental the batch
    // maintenance path uses
    var bands = Seq.empty[(Long, Long, String)]
      .toDF("doc_id", "band", "bandkey").localCheckpoint()
    var labels = Seq.empty[(Long, Long)]
      .toDF("doc_id", "cluster_id").localCheckpoint()
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val (b2, l2) = graft.engine.Dedup.dedupIncremental(bands, labels, batch)
          bands = b2.localCheckpoint(); labels = l2.localCheckpoint()
        }
        ()
      }.start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    // ground truth: the from-scratch batch pipeline over the full corpus
    val all = docs.toSeq.toDF("doc_id", "text")
    val pairs = graft.engine.Dedup.pairsOf(all).localCheckpoint()
    val clustered = graft.engine.Dedup.componentsStar(pairs)
    val singletons = all.select($"doc_id")
      .join(pairs.select($"a".as("doc_id"))
        .union(pairs.select($"b".as("doc_id"))), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"))
    val full = clustered.unionByName(singletons)
      .as[(Long, Long)].collect().toSet
    val streamed = labels.as[(Long, Long)].collect().toSet
    assert(streamed == full, {
      val d1 = streamed -- full; val d2 = full -- streamed
      s"stream-only ${d1.take(5)}, batch-only ${d2.take(5)}"
    })
  }

  test("streaming profile partials accumulate to the exact batch profile") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.engine.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .as[(Long, Long, Double)].collect().sortBy(_._1)

    // maintained state: the per-shard partial ROWS a stats service
    // persists — each micro-batch appends its own partials; no batch
    // ever re-reads earlier data
    var partials = graft.engine.Profiling
      .profilePartials(Seq.empty[(Long, Long, Double)]
        .toDF("o_orderkey", "o_custkey", "o_totalprice"))
      .localCheckpoint()
    val input = MemoryStream[(Long, Long, Double)]
    val q = input.toDS().toDF("o_orderkey", "o_custkey", "o_totalprice")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          partials = partials
            .unionByName(graft.engine.Profiling.profilePartials(batch))
            .localCheckpoint()
        ()
      }.start()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val streamed = graft.engine.Profiling.finalizeProfile(partials).head()
    val direct = graft.engine.Profiling.finalizeProfile(
      graft.engine.Profiling.profilePartials(
        graft.engine.Tables.orders(spark, dir))).head()
    assert(streamed === direct)
  }

  test("streaming AUC partials accumulate to the exact batch statistic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.engine.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .as[(Long, String, Double)].collect().sortBy(_._1)

    var partials = graft.engine.Profiling
      .aucPartials(Seq.empty[(Long, String, Double)]
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice"))
      .localCheckpoint()
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDS()
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          partials = partials
            .unionByName(graft.engine.Profiling.aucPartials(batch))
            .localCheckpoint()
        ()
      }.start()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val streamed = graft.engine.Profiling.finalizeAuc(partials).head()
    val direct = graft.engine.Profiling.finalizeAuc(
      graft.engine.Profiling.aucPartials(
        graft.engine.Tables.orders(spark, dir))).head()
    assert(streamed === direct)
  }

  test("streaming LSH band claims flag a late near-dup across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = Streams.bandClaims(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("band_claims_test").start()

    // batch 1: doc 1 claims A-D, doc 2 claims E-H (no collisions)
    input.addData(Seq("A", "B", "C", "D").map(b => (b, 1L)) ++
      Seq("E", "F", "G", "H").map(b => (b, 2L)): _*)
    q.processAllAvailable()
    // batch 2: doc 3 collides with doc 1 in band A only
    input.addData(Seq("A", "X", "Y", "Z").map(b => (b, 3L)): _*)
    q.processAllAvailable()
    q.stop()
    val claims = spark.table("band_claims_test")
      .as[Streams.BandClaim].collect()
    // every doc-1/doc-2 claim is its own (they arrived first)
    assert(claims.filter(c => c.docId == 1L || c.docId == 2L)
      .forall(c => c.claimedBy == c.docId))
    // doc 3 is flagged exactly once, in band A, against doc 1 — the
    // incremental candidate pair the batch band self-join would emit
    val flagged = claims.filter(c => c.docId == 3L && c.claimedBy != 3L)
    assert(flagged.toSeq == Seq(Streams.BandClaim("A", 3L, 1L)))
  }

  test("streaming gram census marks ≡ batch ExactSubstr marking, " +
    "including retroactive cross-batch first occurrences") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val b1 = Seq(1L -> "a b c d e", 2L -> "x y z w q")
    val b2 = Seq(3L -> "m n a b c p") // "a b c" again → census crosses 2
    val b3 = Seq(4L -> "x y z t u",   // "x y z" again
      5L -> "r s t r s t r s")        // within-one-doc repeats, one batch
    val input = MemoryStream[(Long, String)]
    val grams = graft.engine.Dedup
      .gramOccurrences(input.toDS().toDF("doc_id", "text"), 3)
      .select($"g", $"doc_id", $"pos").as[(String, Long, Long)]
    val q = Streams.gramMarks(grams)
      .writeStream.outputMode("append").format("memory")
      .queryName("gram_marks_test").start()

    def marks(): Set[(Long, Long)] = spark.table("gram_marks_test")
      .select($"docId", $"pos").as[(Long, Long)].collect().toSet

    input.addData(b1: _*); q.processAllAvailable()
    assert(marks().isEmpty) // no gram has crossed the census yet
    input.addData(b2: _*); q.processAllAvailable()
    // doc 3's occurrence AND doc 1's stored first occurrence surface
    assert(marks() == Set((1L, 1L), (3L, 3L)))
    input.addData(b3: _*); q.processAllAvailable()
    q.stop()

    val batch = graft.engine.Dedup
      .markedPositions((b1 ++ b2 ++ b3).toDF("doc_id", "text"), 3)
      .as[(Long, Long)].collect().toSet
    assert(marks() == batch) // stream-accumulated ≡ batch census, exactly
    // the within-doc repeats marked every occurrence position of doc 5
    assert(marks().filter(_._1 == 5L).map(_._2) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("streaming dedup + tumbling counts match batch semantics on replay") {
    val dir = "/root/testdata/sf0.001"
    val dedup = Streams.streamingDedup(spark, dir).collect()
    val batch = graft.engine.Tables.events(spark, dir)
      .groupBy("event_type").count().orderBy("event_type").collect()
    assert(dedup.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      batch.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("watermarked sliding windows = batch sliding minus unflushable tail") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Streams.watermarkedSliding(spark, dir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    // Append mode can only flush a window once the watermark (max event
    // time - 2h) passes its end: the batch equivalent is the sliding
    // aggregation restricted to windows ending at or before that final
    // watermark. Windows in the 2h tail are never emitted.
    val ev = graft.engine.Tables.events(spark, dir)
    val maxTs = ev.agg(max($"ts")).collect()(0).getTimestamp(0)
    val batch = ev
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .filter($"w.end" <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
      .select($"w.start", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    assert(out == batch)
  }

  test("stream-stream join: purchases to clicks within 10 minutes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    def withTs(ms: MemoryStream[Event]) =
      ms.toDS().withColumn("ts", timestamp_micros($"tsUs")).withWatermark("ts", "30 minutes")
    val p = withTs(purchases).select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val c = withTs(clicks).select($"event_id".as("c_id"),
      $"user_id".as("c_user"), $"ts".as("c_ts"))
    val joined = p.join(c,
      $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - org.apache.spark.sql.functions.expr("INTERVAL 10 MINUTES") &&
        $"c_ts" <= $"p_ts")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join_test").start()
    // purchase at t=20min; clicks at 12min (in window) and 5min (outside)
    purchases.addData(Event(100, 20 * MIN, 1, "purchase", 9.99))
    clicks.addData(Event(200, 12 * MIN, 1, "click", 0.0),
      Event(201, 5 * MIN, 1, "click", 0.0))
    q.processAllAvailable()
    val rows = spark.table("ss_join_test")
      .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((100L, 200L))) // only the in-window click joins
    q.stop()
  }

  test("stateful streaming pattern match equals batch q147 exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("tsUs"), $"user_id",
        $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.tsUs, e.event_id))
    val input = MemoryStream[Event]
    val q = Streams.patternMatchStateful(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("pattern_stream_test").start()
    // uneven micro-batches: the equality must hold under any slicing
    ev.grouped(ev.length / 4 + 3).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // final per-key update = the row with the largest total event count
    val streamed = spark.table("pattern_stream_test").as[Streams.PatternOut]
      .collect().groupBy(_.user_id)
      .map { case (u, rs) =>
        u -> rs.maxBy(r => r.n_view + r.n_click + r.n_purchase) }
    val batch = graft.engine.TimeSeries.queries("q147_pattern_match")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(batch.nonEmpty && streamed.nonEmpty)
    batch.foreach { case (u, nv, nc, nvc, np, nm) =>
      val s = streamed(u)
      assert((s.n_view, s.n_click, s.n_valid_click, s.n_purchase, s.n_matched)
        == ((nv, nc, nvc, np, nm)),
        s"user $u: stream $s != batch ($nv,$nc,$nvc,$np,$nm)")
    }
  }

  test("stateful streaming sessionization equals q198's batch islands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("tsUs"), $"user_id",
        $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.tsUs, e.event_id))
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStateful(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_parity_test").start()
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("sess_parity_test").as[Streams.SessionOut]
      .collect()
      .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events))
      .sorted.toSeq
    // batch side: q198 minus each user's LAST session (still open in
    // the stream's state — append mode only emits CLOSED sessions)
    val batch = SparkEntry.queries("q198_session_windows")(spark, dir)
      .select($"user_id", $"session_idx", unix_micros($"t_start"),
        unix_micros($"t_end"), $"n_events")
      .as[(Long, Long, Long, Long, Long)].collect()
    val closed = batch.groupBy(_._1).toSeq.flatMap { case (_, ss) =>
      ss.sortBy(_._2).dropRight(1)
    }.map(s => (s._1, s._3, s._4, s._5)).sorted
    assert(streamed === closed,
      "stream-emitted sessions must equal the batch islands minus the open tail")
    assert(streamed.nonEmpty)
  }
}
