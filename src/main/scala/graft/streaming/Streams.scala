package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.Bounded.sortedInOne
import graft.engine.Exact._

/** Structured Streaming surface (SURVEY.md §2.8): the reference's
  * event-shaped writes (notification fan-out, `defaultNow()` stamping)
  * re-expressed as streaming dataflows over the events table.
  *
  * Every streaming computation here has a batch-equivalent in
  * `graft.engine.Windows`, so correctness is oracle-checkable; the
  * functions below run the REAL `readStream → writeStream` pipeline
  * (file source → memory sink, `processAllAvailable` for synchronous
  * drain). On a cluster the memory sink becomes a Kafka/Delta sink and
  * the file source a log-backed source; the plan in between is
  * identical.
  */
object Streams {

  /** Staged-replay memo: the replayed queries (q239/q245/q257) stage
    * their micro-batch files under a per-(app, dataset) Scratch dir;
    * the staged bytes are a PURE function of the immutable source
    * table, so re-staging on every call only re-pays the fixture
    * conversion — at sf10 that was most of each repeat's wall time
    * (StreamProf split, round 9). Staging now runs once per (app,
    * dataset): the memo records a stage root whose files are complete,
    * and later calls replay the same files. The entry is set only
    * AFTER staging succeeds (a crashed staging is wiped and redone),
    * and the replay itself — source listing, micro-batch scheduling,
    * state commits, sink drain — still runs in full on every call:
    * what repeats measure is the streaming operator, not parquet
    * rewriting. */
  private val stagedOk =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private val stageLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def stageOnce(stageRoot: String)(build: => Unit): Unit = {
    // builds are serialized PER stage root (round-10 advice): two
    // threads racing the same root would both run build, and the
    // second build's wipe() could delete files the first replay is
    // mid-read on. The memo check re-runs under the lock so the loser
    // of the race sees the winner's completed staging and returns.
    val lock = stageLocks.getOrElseUpdate(stageRoot, new Object)
    lock.synchronized {
      val marker = new java.io.File(stageRoot)
      if (stagedOk.contains(stageRoot) && marker.isDirectory) return
      build
      stagedOk.put(stageRoot, true); ()
    }
  }

  /** Width for rollup-sized state (q43, q239): (1-hour window, event
    * type) keys, at most 720 × 5 = 3,600 at every scale, since the events
    * span a fixed 30 days. Every micro-batch commits once per state
    * partition, so the width is sized for the state, not the CPUs. */
  private val rollupWidth = "spark.sql.shuffle.partitions" -> "2"

  /** Serializes the conf window of [[drain]] across threads. */
  private val startLock = new Object

  /** Streams `df` into the memory sink `qn` with `settings` on `s`,
    * drains it, stops it and returns the sink's table.
    *
    * `start()` clones the caller's session, and the clone fixes what the
    * stream runs with: the state width (the shuffle partitions), the
    * state provider and artifact isolation. So the settings hold for
    * `start()` alone, and each key goes back to its old value, or is
    * unset again, before the drain. The stream still belongs to `s`, so
    * `s.streams` listeners see its progress (a stream started in
    * `s.newSession()` would not be seen).
    *
    * State stays on the session's provider, Spark's HDFS-backed store
    * unless the caller sets another. That store keeps each partition's
    * keys in a heap map. RocksDB keeps them in native memory and on local
    * disk, which only corpus-sized state can need (q245's join buffers,
    * q257's one key per event); on one commit it ran both slower than
    * the HDFS-backed store at sf0.1 and at sf1 (q257 2.2× at sf1), and
    * the last full sf30 rung ran both on HDFS-backed state without a
    * failure. A caller whose state outgrows the heap sets the RocksDB
    * provider on its session: the results are row-for-row the same
    * (StreamingSpec).
    *
    * Every start turns artifact isolation off: with it on, each clone
    * gets its own executor class loader and compiles the stream's
    * generated classes again (12 per q43 call). These plans use no
    * session artifacts, so the shared loader has every class they need. */
  private def drain(s: SparkSession, qn: String, df: DataFrame, mode: OutputMode,
                    settings: (String, String)*): DataFrame = {
    val kv = settings :+ ("spark.sql.artifact.isolation.enabled" -> "false")
    val q = startLock.synchronized {
      val before = s.conf.getAll
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      try df.writeStream.outputMode(mode).format("memory").queryName(qn).start()
      finally kv.foreach { case (k, _) =>
        before.get(k).fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** Raw event-typed record (ts in epoch micros for the typed demo). */
  case class Event(event_id: Long, tsUs: Long, user_id: Long,
                   event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start_us: Long,
                        session_end_us: Long, n_events: Long)

  /** Streaming read of the events parquet (nanos ts → micros, same as
    * the batch loader). In `metastore:<db>` mode the stream tails the
    * MANAGED table's file location (catalog lookup) — a file stream
    * over a catalog table's directory is exactly how a production
    * ingest tails a Hive-registered landing table, and it keeps the
    * whole streaming surface runnable against the catalog seam. */
  def eventStream(s: SparkSession, dir: String): DataFrame = {
    // also sets the nanos-as-longs read the file source needs, before
    // any start clones the session
    val schema = graft.engine.Tables.eventsStored(s, dir).schema
    graft.engine.Tables.metastoreDb(dir) match {
      case Some(db) =>
        // the registered table was saved through the batch accessor, so
        // ts is already micro-precision TimestampType
        val loc = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("events", Some(db)))
          .location.toString
        s.readStream.schema(schema).parquet(loc)
      case None =>
        // glob (not the bare file path): FileStreamSource requires its
        // basePath to be a directory, which the glob's parent provides
        graft.engine.Tables.normalizeTs(
          s.readStream.schema(schema).parquet(s"$dir/events.parque*"))
    }
  }

  /** Tumbling 1-hour windowed aggregation as a true streaming query,
    * drained synchronously into a memory sink and returned as a batch
    * DataFrame (verified against the same oracle as the batch variant). */
  def tumblingCounts(s: SparkSession, dir: String): DataFrame = {
    val qn = "stream_tumbling_" + graft.engine.Scratch.key(dir)
    val agg = eventStream(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), msum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
    drain(s, qn, agg, OutputMode.Complete(), rollupWidth)
      .transform(sortedInOne(col("window_start"), col("event_type")))
  }

  /** Watermarked sliding-window aggregation (late data beyond 2 hours
    * dropped) — append-mode demo. Append mode only emits a window once
    * the watermark passes its end, and the watermark trails max event
    * time by 2 hours — so windows ending within 2 hours of the last
    * event are still open when the bounded replay drains and are NEVER
    * emitted. The result is the batch sliding-window computation minus
    * that unflushable tail (StreamingSpec asserts exactly this); a
    * complete-mode sink (tumblingCounts above) is the variant with full
    * batch equivalence. */
  def watermarkedSliding(s: SparkSession, dir: String): DataFrame = {
    val qn = "stream_sliding_" + graft.engine.Scratch.key(dir)
    val agg = eventStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))
    drain(s, qn, agg, OutputMode.Append()).orderBy("window_start")
  }

  /** Stateful streaming dedup on event_id with a watermark bound on
    * state retention. */
  def streamingDedup(s: SparkSession, dir: String): DataFrame = {
    val qn = "stream_dedup_" + graft.engine.Scratch.key(dir)
    val agg = eventStream(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    drain(s, qn, agg, OutputMode.Complete()).orderBy("event_type")
  }

  /** Streaming dedup over a PLANTED duplicate replay — the cross-batch
    * dedup-state path, deterministically: the full events file as
    * batch 1, then every 5th event REPLAYED VERBATIM as batch 2;
    * `dropDuplicates("event_id")` must recognize the batch-2 rows
    * against batch-1 state, so the final complete-mode counts equal
    * the base table's distinct counts even though the input carried
    * ~20% extra rows — a broken dedup inflates the counts and fails
    * the oracle. Duplicate rows are byte-identical, so the result is
    * independent of which copy wins. No watermark: the declared query
    * needs a closed form, and exact global dedup is the one whose
    * oracle is plain COUNT; the bounded-state production variant
    * (`dropDuplicatesWithinWatermark`, state ∝ watermark horizon) is
    * the same plan shape and is parity-verified in StreamingSpec. */
  def streamingDedupPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qn = "stream_dedup_planted_" + graft.engine.Scratch.key(dir)
    val stage = graft.engine.Scratch.dir(s, "dedup_replay", dir)
    val ev = graft.engine.Tables.events(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = new java.io.File(s"$stage/in")
    stageOnce(stage) {
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(wipe) }
        f.delete(); ()
      }
      wipe(new java.io.File(stage))
      inDir.mkdirs()
      def stageBatch(df: DataFrame, name: String, mtime: Long,
                     fullCopy: Boolean): Unit = {
        val tmp = s"$stage/tmp_$name"
        // The single-file write's shape follows the batch's DATA
        // REDUCTION (measured at sf3, round 9): a batch that filters the
        // source down uses repartition(1) — the scan/filter stays
        // parallel and the one-partition shuffle carries only the kept
        // rows; a (near-)full COPY uses coalesce(1) — there the shuffle
        // would materialize the whole table a second time (row-format
        // shuffle bytes ≫ the parquet it just read), which tripled the
        // q257 replay median when staging rode repartition(1)
        // unconditionally. Within-batch row order is immaterial to every
        // replay (windowed counts, dedup, interval join are order-free
        // within a micro-batch), so either shape is correct.
        val shaped = if (fullCopy) df.coalesce(1) else df.repartition(1)
        shaped.write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        val dst = new java.io.File(inDir, name + ".parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis() - 600000L
      stageBatch(ev, "b1", t0, fullCopy = true)
      stageBatch(ev.filter($"event_id" % 5 === 0), "b2", t0 + 60000L,
        fullCopy = false)
    }
    // Width stays the SESSION width here (the rollupWidth rule cuts
    // the other way): dedup state is ~|events| KEYS — corpus-sized,
    // not rollup-sized — so per-partition state serialization dominates
    // the per-batch commit overhead and narrowing the width serializes it.
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.getAbsolutePath)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
    drain(s, qn, agg, OutputMode.Complete()).orderBy("event_type")
  }

  /** Watermarked tumbling counts over a PLANTED three-batch replay —
    * the late-data drop path, deterministically: bulk on-time rows as
    * file 1, a single heartbeat row (the latest on-time event) as
    * file 2, and the late set (every 7th event id in the older half
    * of the span) as file 3; `maxFilesPerTrigger = 1` replays them as
    * three micro-batches in mtime order. The heartbeat batch exists
    * because Spark's late-event watermark LAGS the eviction watermark
    * by one batch (lenient by design, SPARK-40925 semantics): only by
    * batch 3 has the late-event watermark advanced to
    * max(on-time) − 2 h, at which point every planted row sits far
    * below it and is DROPPED in full (the whole point of a watermark:
    * state for closed windows is gone). Emitted output = append-mode
    * finalized windows: windows whose end the final watermark passed,
    * counting ON-TIME rows only — a closed form the DuckDB oracle
    * replays, so the dropped rows are visible as the difference
    * against q40's full counts. At scale this is the standard
    * Kafka→window→sink shape; the watermark bounds state size and
    * late storms degrade to dropped rows, not OOM. */
  def lateDataTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qn = "stream_late_" + graft.engine.Scratch.key(dir)
    val stage = graft.engine.Scratch.dir(s, "late_replay", dir)
    val ev = graft.engine.Tables.events(s, dir)
      .select($"event_id", $"ts", $"event_type")
    val inDir = new java.io.File(s"$stage/in")
    stageOnce(stage) {
      // The planted late set: every 7th event id, RESTRICTED to the
      // older half of the time span (integer µs compare, no division),
      // so every late row sits far below the watermark when its batch
      // arrives — none straddle the boundary and the closed form is
      // sf-independent.
      val span = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
      val late = $"event_id" % 7 === 0 &&
        unix_micros($"ts") * 2L <= lit(minUs + maxUs)
      val ontime = ev.filter(!late)
      // Spark ≥3.4 filters late events with the PREVIOUS batch's
      // watermark (watermarkForLateEvents lags watermarkForEviction by
      // one batch — lenient by design), so a 2-batch replay never drops
      // anything. Three batches: bulk on-time → a 1-row heartbeat (the
      // latest on-time row) → the late file, which now meets an
      // already-advanced late-event watermark and is dropped in full.
      //
      // The heartbeat is picked with a parallel top-1
      // (TakeOrderedAndProject) + a filter, NOT a global row_number
      // window: the window form sorted the whole on-time corpus in ONE
      // task per repeat (10M+ rows at sf10), which both dominated the
      // replay's median and was the round-8 stall site — a single
      // straggler task is exactly where a GC/spill hiccup multiplies.
      val hbRow = ontime.orderBy($"ts".desc, $"event_id".desc).limit(1)
        .select(unix_micros($"ts").as("us"), $"event_id").head()
      val (hbUs, hbId) = (hbRow.getLong(0), hbRow.getLong(1))
      val bulk = ontime.filter(
        !(unix_micros($"ts") === hbUs && $"event_id" === hbId))
      val heartbeat = ontime.filter(
        unix_micros($"ts") === hbUs && $"event_id" === hbId)
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(wipe) }
        f.delete(); ()
      }
      wipe(new java.io.File(stage))
      inDir.mkdirs()
      def stageBatch(df: DataFrame, name: String, mtime: Long,
                     fullCopy: Boolean): Unit = {
        val tmp = s"$stage/tmp_$name"
        // coalesce(1) for (near-)full copies, repartition(1) for
        // reducing filters — see streamingDedupPlanted.stageBatch for
        // the measured rule. The heartbeat/late batches keep their full
        // SCAN parallel under repartition(1) and shuffle only the kept
        // rows; the bulk batch is ~the whole on-time corpus, where the
        // one-partition shuffle would double the staging I/O.
        val shaped = if (fullCopy) df.coalesce(1) else df.repartition(1)
        shaped.write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        val dst = new java.io.File(inDir, name + ".parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis() - 600000L
      stageBatch(bulk, "b1", t0, fullCopy = true)
      stageBatch(heartbeat, "b2", t0 + 60000L, fullCopy = false)
      stageBatch(ev.filter(late), "b3", t0 + 120000L, fullCopy = false)
    }
    // rollup state: 3 micro-batches each pay one state-store commit per
    // partition, and the aggregate holds at most 3,600 keys
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.getAbsolutePath)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    drain(s, qn, agg, OutputMode.Append(), rollupWidth)
      .transform(sortedInOne(col("window_start"), col("event_type")))
  }

  /** The watermarked STREAM-STREAM interval join as a file-replayed,
    * deterministic query (q245): clicks and purchases are two
    * separate file streams, each staged as three time-ordered batch
    * files (span tertiles, integer-µs splits), joined by
    * [[purchaseAttribution]] (equi-key user_id + `p.ts ∈
    * [c.ts, c.ts+30 min]`, both sides watermarked 1 h).
    *
    * Determinism argument (why the streamed result EQUALS the batch
    * interval join, making the DuckDB oracle applicable): the replay
    * is time-ordered, so no row is ever late — the only way a
    * stream-stream inner join can diverge from batch is a match
    * arriving after its partner's state was EVICTED. Eviction needs
    * watermark (= max ts seen − 1 h, taken across both sources) to
    * pass click_ts + 30 min; a cross-batch partner purchase lies
    * within 30 min of the click but after the batch boundary, so at
    * eviction time the purchase batch has necessarily arrived —
    * 30 min lag vs a 1 h delay leaves a half-hour safety margin at
    * every boundary. At 100 TB the same bound is the state-store
    * size guarantee: each side buffers only rows newer than
    * watermark − interval. */
  def streamStreamAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qn = "stream_ssj_" + graft.engine.Scratch.key(dir)
    val stage = graft.engine.Scratch.dir(s, "ssj_replay", dir)
    val ev = graft.engine.Tables.events(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"ts", $"user_id", $"value")
    stageOnce(stage) {
      val span = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
      val (t1, t2) = (minUs + (maxUs - minUs) / 3, minUs + 2 * ((maxUs - minUs) / 3))
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(wipe) }
        f.delete(); ()
      }
      wipe(new java.io.File(stage))
      def stageTertiles(df: DataFrame, sub: String): Unit = {
        val inDir = new java.io.File(s"$stage/$sub"); inDir.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        Seq[(String, org.apache.spark.sql.Column)](
          ("b1", unix_micros($"ts") <= t1),
          ("b2", unix_micros($"ts") > t1 && unix_micros($"ts") <= t2),
          ("b3", unix_micros($"ts") > t2)).zipWithIndex.foreach {
          case ((name, cond), i) =>
            val tmp = s"$stage/tmp_${sub}_$name"
            // repartition(1): see stageBatch — keep the scan parallel
            df.filter(cond).repartition(1).write.mode("overwrite").parquet(tmp)
            val part = new java.io.File(tmp).listFiles()
              .filter(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(".parquet")).head
            val dst = new java.io.File(inDir, name + ".parquet")
            java.nio.file.Files.move(part.toPath, dst.toPath)
            dst.setLastModified(t0 + 60000L * i); ()
        }
      }
      stageTertiles(clicks, "clicks")
      stageTertiles(purchases, "purchases")
    }
    val cDir = s"$stage/clicks"
    val pDir = s"$stage/purchases"
    val cS = s.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", "1").parquet(cDir)
    val pS = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(pDir)
    // same join shape as purchaseAttribution, with both event ids kept
    // so the output carries a total order (ts alone can tie)
    val c = cS.withWatermark("ts", "1 hour").alias("c")
    val p = pS.withWatermark("ts", "1 hour").alias("p")
    val joined = c.join(p, expr(
      """c.user_id = p.user_id AND
        |p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES""".stripMargin))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("c.ts").as("click_ts"),
        col("p.event_id").as("purchase_id"), col("p.ts").as("purchase_ts"),
        col("p.value").as("amount"))
    // join state width 8: each side buffers ≤ one watermark-interval of
    // rows per partition and every micro-batch commits per-partition
    // state deltas — size for state cardinality, not CPU count
    drain(s, qn, joined, OutputMode.Append(), "spark.sql.shuffle.partitions" -> "8")
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** One document's claim on one LSH band bucket: `claimedBy` is the
    * first document ever seen in this bucket; a claim with
    * `claimedBy != docId` is a near-dup CANDIDATE pair, incrementally. */
  case class BandClaim(bandkey: String, docId: Long, claimedBy: Long)

  /** Streaming near-dup candidate detection — the incremental form of
    * the batch LSH band-bucket self-join (engine.Dedup.lshPairs): the
    * stream carries (bandkey, doc_id) rows (band keys computed
    * map-side exactly as in batch); per-bucket `GroupState` remembers
    * the first claimant, so a later document colliding in ANY of its
    * buckets surfaces as a claim on someone else's bucket. State is
    * one long per distinct bucket — the same cardinality the batch
    * shuffle carries; at 100 TB bound it with a state-store TTL at the
    * dedup horizon. The cross-band OR (any collision ⇒ candidate) is a
    * stateless post-aggregation on the claim stream.
    */
  def bandClaims(bands: Dataset[(String, Long)]): Dataset[BandClaim] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(_._1)
      .flatMapGroupsWithState[Long, BandClaim](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, Long)], state: GroupState[Long]) =>
          // deterministic within a batch: lowest doc id claims first
          val docs = it.map(_._2).toSeq.sorted
          val first = state.getOption.getOrElse(docs.head)
          if (!state.exists) state.update(first)
          docs.iterator.map(d => BandClaim(key, d, first))
      }
  }

  /** One duplicated-gram occurrence surfaced by the streaming census:
    * the K-gram keyed `g` has now been seen ≥2 times stream-to-date,
    * and (docId, pos) is one of its occurrences. */
  case class GramMark(g: String, docId: Long, pos: Long)

  /** Streaming ExactSubstr census — the incremental form of q129's
    * batch duplicated-gram marking (engine.Dedup.dupSpans): the stream
    * carries (g, doc_id, pos) gram occurrences (computed map-side by
    * the SAME expression as batch, Dedup.gramOccurrences); per-gram
    * `GroupState` remembers the first occurrence until the census
    * crosses 2, at which point the FIRST occurrence is emitted
    * retroactively along with every later one — so the accumulated
    * mark multiset equals the batch census's marked positions exactly,
    * no matter how documents are batched (StreamingSpec pins
    * stream ≡ batch including the cross-batch retroactive case).
    * State is ≤(one doc_id, pos, flag) per distinct gram; at 100 TB
    * bound it with a state-store TTL at the crawl-dedup horizon, the
    * bandClaims discipline. Region-merge (gaps-and-islands) stays a
    * batch post-pass over the mark stream's sink. */
  def gramMarks(grams: Dataset[(String, Long, Long)]): Dataset[GramMark] = {
    import grams.sparkSession.implicits._
    grams.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Boolean), GramMark](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long, Boolean)]) =>
          // deterministic within a batch: occurrences in (doc, pos) order
          val occ = it.map(t => (t._2, t._3)).toSeq.sorted
          state.getOption match {
            case Some((_, _, true)) => // census already ≥2: mark every new one
              occ.iterator.map { case (d, p) => GramMark(g, d, p) }
            case Some((fd, fp, false)) =>
              if (occ.isEmpty) Iterator.empty
              else { // crossing 2 now: the stored first occurrence marks too
                state.update((fd, fp, true))
                (Iterator((fd, fp)) ++ occ.iterator)
                  .map { case (d, p) => GramMark(g, d, p) }
              }
            case None =>
              if (occ.size >= 2) { // ≥2 inside one batch (incl. same doc)
                state.update((occ.head._1, occ.head._2, true))
                occ.iterator.map { case (d, p) => GramMark(g, d, p) }
              } else {
                occ.headOption.foreach(o => state.update((o._1, o._2, false)))
                Iterator.empty
              }
          }
      }
  }

  /** Stream-stream interval join: purchases attributed to the click
    * that preceded them by ≤30 minutes, both sides watermarked. This
    * is THE stateful join shape Structured Streaming supports at
    * scale: the equi-key (user_id) hash-partitions both streams to
    * the same tasks, and the time-range predicate + watermarks give
    * the state store a provable eviction bound (each side buffers
    * only rows newer than watermark − interval — without the range
    * condition the join state would grow forever). Output rows appear
    * as soon as both sides arrive; with `joinType = "left_outer"` a
    * click whose match window has passed the watermark is FINALIZED
    * as a null-padded miss — the streaming form of "which clicks
    * never converted", provably emitted exactly once. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                          joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p, expr(
      """c.user_id = p.user_id AND
        |p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES""".stripMargin),
      joinType)
      .select(col("c.user_id").as("user_id"), col("c.ts").as("click_ts"),
        col("p.ts").as("purchase_ts"), col("p.value").as("amount"))
  }

  /** At-least-once → exactly-once repair at the sink boundary:
    * `dropDuplicatesWithinWatermark` deduplicates retried events by id
    * while only keeping state for the watermark horizon — the bounded
    * form of streaming dedup (plain dropDuplicates state never
    * expires; this one provably evicts ids older than the delay, which
    * is what makes it deployable over an unbounded 100 TB/day feed). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Per-key streaming EWMA state: the SAME O(1) composed affine run
    * the batch aggregator keeps (graft.functions.EwmaAffine.Run,
    * minus the lo-span bookkeeping a single growing run never needs). */
  case class EwmaRunState(firstX: Double, m: Double, b: Double,
                          n: Long, hiTs: Long, hiId: Long)
  case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Stateful streaming EWMA: one bounded run per key, updated with
    * the IDENTICAL operand order as the batch aggregator
    * (m' = β·m, b' = α·x + β·b, result m·x₀ + b) — so after the last
    * event the streaming answer equals the batch q103 answer
    * bit-exactly (StreamingSpec asserts), the one-engine-two-modes
    * property. Same input contract as the batch sorted-partition form:
    * each key's events arrive in (ts, event_id) order across
    * micro-batches (within a batch the group is sorted here); an
    * out-of-order arrival fails loudly instead of folding wrong.
    * State is three doubles + three longs per key — no history. */
  def ewmaStateful(events: Dataset[Event], alpha: Double): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val beta = 1.0 - alpha
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EwmaRunState, EwmaOut](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[EwmaRunState]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption
          sorted.foreach { e =>
            st = st match {
              case None =>
                Some(EwmaRunState(e.value, 1.0, 0.0, 1L, e.tsUs, e.event_id))
              case Some(r) =>
                require(r.hiTs < e.tsUs || (r.hiTs == e.tsUs && r.hiId < e.event_id),
                  s"ewmaStateful: out-of-order arrival (${e.tsUs},${e.event_id}) " +
                    s"after (${r.hiTs},${r.hiId}) for key $uid")
                Some(EwmaRunState(r.firstX, beta * r.m,
                  alpha * e.value + beta * r.b, r.n + 1, e.tsUs, e.event_id))
            }
          }
          st.foreach(state.update)
          val r = st.get
          EwmaOut(uid, r.n, r.m * r.firstX + r.b)
      }
  }

  /** Per-key streaming Holt state: the batch aggregator's composed
    * 2×2 affine run (graft.functions.HoltAffine.Run, minus the
    * lo-span bookkeeping a single growing run never needs). */
  case class HoltRunState(firstX: Double,
                          m11: Double, m12: Double, m21: Double, m22: Double,
                          b1: Double, b2: Double,
                          n: Long, hiTs: Long, hiId: Long)
  case class HoltOut(user_id: Long, n_events: Long,
                     level: Double, trend: Double)

  /** Stateful streaming Holt level+trend smoothing: identical operand
    * order as graft.functions.HoltAffine.step, so after the last event
    * the streaming answer equals the batch q170 answer bit-exactly
    * (StreamingSpec asserts) — the one-engine-two-modes property the
    * EWMA path already pins, now with matrix state. Same in-order
    * input contract, loud failure on violation; state is seven
    * doubles + three longs per key — no history. */
  def holtStateful(events: Dataset[Event], alpha: Double,
                   gamma: Double): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    val a = 1.0 - alpha
    val ga = gamma * alpha
    val nga = -ga
    val gag = gamma * a + (1.0 - gamma)
    events.groupByKey(_.user_id)
      .mapGroupsWithState[HoltRunState, HoltOut](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[HoltRunState]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption
          sorted.foreach { e =>
            st = st match {
              case None =>
                Some(HoltRunState(e.value, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0,
                  1L, e.tsUs, e.event_id))
              case Some(r) =>
                require(r.hiTs < e.tsUs || (r.hiTs == e.tsUs && r.hiId < e.event_id),
                  s"holtStateful: out-of-order arrival (${e.tsUs},${e.event_id}) " +
                    s"after (${r.hiTs},${r.hiId}) for key $uid")
                Some(HoltRunState(r.firstX,
                  a * r.m11 + a * r.m21,
                  a * r.m12 + a * r.m22,
                  nga * r.m11 + gag * r.m21,
                  nga * r.m12 + gag * r.m22,
                  a * r.b1 + a * r.b2 + alpha * e.value,
                  nga * r.b1 + gag * r.b2 + ga * e.value,
                  r.n + 1, e.tsUs, e.event_id))
            }
          }
          st.foreach(state.update)
          val r = st.get
          HoltOut(uid, r.n, r.m11 * r.firstX + r.b1, r.m21 * r.firstX + r.b2)
      }
  }

  case class PatternState(lastViewUs: Long, lastClickUs: Long,
                          nView: Long, nClick: Long, nValidClick: Long,
                          nPurchase: Long, nMatched: Long,
                          hiTs: Long, hiId: Long)
  case class PatternOut(user_id: Long, n_view: Long, n_click: Long,
                        n_valid_click: Long, n_purchase: Long,
                        n_matched: Long)

  /** Stateful streaming sequential-pattern matching — the incremental
    * form of batch q147 (view → click ≤ 1 h → purchase ≤ 24 h): per
    * key the state is just the latest view/valid-click timestamps plus
    * the counters, updated with the IDENTICAL comparisons as the batch
    * running windows (µs integer arithmetic), so after the last event
    * the per-user counts equal the batch q147 row exactly under ANY
    * micro-batch slicing (StreamingSpec asserts). Same input contract
    * as ewmaStateful: per-key (ts, event_id) order across batches,
    * enforced loudly. State is O(1) per user — two timestamps and five
    * counters — which is what makes a conversion monitor deployable
    * over an unbounded clickstream. */
  def patternMatchStateful(events: Dataset[Event]): Dataset[PatternOut] = {
    import events.sparkSession.implicits._
    val HourUs = 3600L * 1000000L
    val DayUs = 24L * HourUs
    events.groupByKey(_.user_id)
      .mapGroupsWithState[PatternState, PatternOut](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[PatternState]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption.getOrElse(
            PatternState(-1L, -1L, 0L, 0L, 0L, 0L, 0L, Long.MinValue, Long.MinValue))
          sorted.foreach { e =>
            require(st.hiTs < e.tsUs || (st.hiTs == e.tsUs && st.hiId < e.event_id),
              s"patternMatchStateful: out-of-order arrival (${e.tsUs},${e.event_id}) " +
                s"after (${st.hiTs},${st.hiId}) for key $uid")
            st = e.event_type match {
              case "view" =>
                st.copy(lastViewUs = e.tsUs, nView = st.nView + 1,
                  hiTs = e.tsUs, hiId = e.event_id)
              case "click" =>
                val valid = st.lastViewUs >= 0 && e.tsUs <= st.lastViewUs + HourUs
                st.copy(
                  lastClickUs = if (valid) e.tsUs else st.lastClickUs,
                  nClick = st.nClick + 1,
                  nValidClick = st.nValidClick + (if (valid) 1 else 0),
                  hiTs = e.tsUs, hiId = e.event_id)
              case "purchase" =>
                val matched = st.lastClickUs >= 0 && e.tsUs <= st.lastClickUs + DayUs
                st.copy(nPurchase = st.nPurchase + 1,
                  nMatched = st.nMatched + (if (matched) 1 else 0),
                  hiTs = e.tsUs, hiId = e.event_id)
              case _ =>
                st.copy(hiTs = e.tsUs, hiId = e.event_id)
            }
          }
          state.update(st)
          PatternOut(uid, st.nView, st.nClick, st.nValidClick,
            st.nPurchase, st.nMatched)
      }
  }

  case class HeavyHittersOut(cohort: Long, n_events: Long, heavy_hitters: String)

  /** Stateful streaming Misra-Gries heavy hitters: per-cohort state is
    * the SAME ≤ cap counter map as the batch Aggregator
    * (graft.engine.Sketches.MisraGries), fed through the identical
    * reduce step — in the exact regime (distinct keys ≤ cap, no
    * eviction) the streaming summary after the last event equals the
    * batch q112 summary exactly, for any micro-batch slicing
    * (StreamingSpec asserts). State stays ≤ cap entries per cohort no
    * matter how many events flow — the bounded-state property that
    * makes a top-k dashboard deployable over an unbounded stream. */
  def heavyHittersStateful(events: Dataset[(Long, String)],
                           cap: Int): Dataset[HeavyHittersOut] = {
    import events.sparkSession.implicits._
    val mg = new graft.engine.Sketches.MisraGries(cap)
    events.groupByKey(_._1)
      .mapGroupsWithState[(Map[String, Long], Long), HeavyHittersOut](
        GroupStateTimeout.NoTimeout()) {
        (cohort: Long, it: Iterator[(Long, String)],
         state: GroupState[(Map[String, Long], Long)]) =>
          var (m, n) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          it.foreach { case (_, key) => m = mg.reduce(m, key); n += 1 }
          state.update((m, n))
          HeavyHittersOut(cohort, n, mg.finish(m))
      }
  }

  /** Custom-state sessionization with flatMapGroupsWithState — the
    * §2.9 "UDF with state" extension point. Emits a session row when a
    * 30-minute gap closes it; `GroupState` holds the open session.
    * (Used by the streaming spec on a MemoryStream; batch-oracle
    * equivalence is covered by q42's window construction.) */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[(Long, Long, Long)]) =>
          // state = (session_start_us, session_end_us, n_events)
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.event_id))
          var out = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            cur = cur match {
              case Some((st, en, n)) if e.tsUs - en <= gapUs => Some((st, e.tsUs, n + 1))
              case Some((st, en, n)) =>
                out = SessionOut(uid, st, en, n) :: out
                Some((e.tsUs, e.tsUs, 1L))
              case None => Some((e.tsUs, e.tsUs, 1L))
            }
          }
          cur.foreach(state.update)
          out.reverseIterator
      }
  }
}
