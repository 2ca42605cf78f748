package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Tables => T}

/** Near-duplicate detection operators (SURVEY.md §2.10): MinHash+LSH
  * banding, SimHash fingerprints, and n-gram Jaccard verification —
  * the holy trinity of large-corpus dedup.
  *
  * Scale design: every stage is shingle-parallel (explode → hash →
  * groupBy doc) and the only all-pairs work happens INSIDE an LSH
  * band bucket (q51) or on shared-shingle matches (q53) — never a
  * corpus cross join. Hashes are md5-derived so the DuckDB oracle can
  * reproduce them bit-for-bit (xxhash64 exists in both engines but
  * with different seeds/variants).
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Storage tier for the corpus-scale dedup spines, decided by the
    * MEASURED corpus (the adaptiveWidth rule: physical encodings
    * follow the data). Three tiers were measured at the 40 GiB sf30
    * rung across rounds 10–11:
    *
    *   - deserialized MEMORY_AND_DISK: fastest per access and fine
    *     while everything fits (≤ sf10 / 500k docs), but past the
    *     storage fraction blocks evict and every consumer re-runs the
    *     spine self-join — dedup family e = 1.44 (round 10).
    *   - MEMORY_AND_DISK_SER: packs ~3× denser, which is exactly the
    *     problem at the ceiling — the denser blocks stay RESIDENT,
    *     squeezing execution memory under 32 concurrent tasks whose
    *     deserialization buffers and join state spike the heap: the
    *     round-11 sf30 attempt died in q53 with GCLocker retry
    *     failures on multi-hundred-MB allocations. Serialized-in-heap
    *     is the worst of both at this tier.
    *   - DISK_ONLY: the spine never occupies managed memory at all;
    *     consumers stream it back through the OS page cache (the
    *     sandbox holds 128 GiB — the 3–4 GB serialized spine stays
    *     hot), execution gets the whole heap, and eviction is
    *     structurally impossible. On a production cluster this tier
    *     is the same decision as checkpointing the spine to local
    *     SSD/HDFS.
    *
    * Round 12 refines the gate from one all-or-nothing decision to a
    * PER-FRAME budget: the round-11 whole-family DISK_ONLY flip fixed
    * the single-scan consumers (q53 61.8→19.3 s at sf30) but made the
    * repeated-scan ones pay a deserialization pass per re-read
    * (q167's greedy rounds, q233/q225's spine scans). The two spines
    * have very different mass — the shingle spine is ~32 B/row ×
    * docs·shingles-per-doc (~2.5 GB at sf30) while the pair list is
    * quadratic-in-overlap (339M rows ≈ 11 GB at sf30) — so they are
    * charged against the budget in consumer-count order: the shingle
    * spine (5 consumer families, small) claims memory first, the pair
    * list takes what's left or goes to disk. At sf30/40 GiB that
    * yields shingles in memory + pairs on disk; at ≤sf10 both fit; at
    * sf100 both spill — each frame degrades independently instead of
    * the family cliffing as one.
    *
    * The mass estimates are measured, not assumed: shingles-per-doc
    * is SAMPLED from the corpus once per (app, dataset) (≤1024 docs,
    * map-side — the fixture constant drifted silently when doc shape
    * changed, ADVICE r11), at 32 B/row deserialized (the round-11
    * sf30 block-manager reading: 339M pair rows ≈ 11 GB); the pair
    * mass comes from the Σc·(c−1)/2 collision census over the
    * shingle spine ([[pairSlotUpperBound]] — an exact upper bound,
    * 1.12× at sf30). The budget is a quarter of the CLUSTER storage
    * pool — executor memory × instances from the conf when set, this
    * JVM's heap in local mode — so a bigger cluster extends the fast
    * path instead of hardcoding a scale factor. */
  private val docCountCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private def corpusDocs(s: SparkSession, dir: String): Long =
    docCountCache.getOrElseUpdate((s.sparkContext.applicationId, dir),
      T.documents(s, dir).count())
  private val shPerDocCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Double]
  private def sampledShinglesPerDoc(s: SparkSession, dir: String): Double =
    shPerDocCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      import s.implicits._
      // same size ≥ 3 pre-filter as [[shingleStrings]]: sequence(1, 0)
      // runs descending and ANSI element_at throws past the array end
      val r = T.documents(s, dir).select($"text").limit(1024)
        .select(split(trim($"text"), "\\s+").as("ws"))
        .filter(size($"ws") >= 3)
        .select(expr(
          """size(array_distinct(transform(sequence(1, size(ws) - 2),
            |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
            |                 element_at(ws, i + 2)))))"""
            .stripMargin).cast("double").as("n"))
        .agg(avg($"n")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    })
  private[engine] def clusterHeapBytes(s: SparkSession): Long = {
    val conf = s.sparkContext.getConf
    if (conf.get("spark.master", "local[*]").startsWith("local"))
      Runtime.getRuntime.maxMemory
    else
      conf.getSizeAsBytes("spark.executor.memory", "4g") *
        math.max(1, conf.getInt("spark.executor.instances", 1))
  }
  private def shingleMassBytes(s: SparkSession, dir: String): Long =
    (corpusDocs(s, dir) * sampledShinglesPerDoc(s, dir) * 32.0).toLong
  private def shingleSpineLevel(s: SparkSession, dir: String)
      : org.apache.spark.storage.StorageLevel = {
    if (shingleMassBytes(s, dir) > clusterHeapBytes(s) / 4)
      org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  }
  /** Upper bound on the pair spine's row count: Σ_sh c·(c−1)/2 over
    * the shingle document frequencies — every candidate pair occupies
    * at least one slot, pairs sharing k shingles occupy k (measured
    * at sf30: 380M slots vs 339M actual rows, a 1.12× overestimate —
    * tight because most colliding pairs share few shingles). ONE
    * combine-able aggregate over the (already persisted) shingle
    * spine, memoized per (app, dataset): this replaces round 12's
    * first attempt at a fixture-measured pairs/shingles ratio, which
    * under-read the 11 GB sf30 pair list ~2× and let it claim memory
    * — the measured result was the round-10 squeeze all over again
    * (q167 back to 65 s). Counting beats ratios. */
  private val pairSlotsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private def pairSlotUpperBound(s: SparkSession, dir: String): Long =
    pairSlotsCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val r = shingles(s, dir).groupBy(col("sh"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
  private def pairSpineLevel(s: SparkSession, dir: String)
      : org.apache.spark.storage.StorageLevel = {
    val budget = clusterHeapBytes(s) / 4
    val shMass = shingleMassBytes(s, dir)
    val charged = if (shMass > budget) 0L else shMass // shingles claim first
    val pairMass = pairSlotUpperBound(s, dir) * 32L // B/row, measured sf30
    if (charged + pairMass > budget)
      org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  }

  /** Shared-shingle candidate pairs WITH intersection counts AND both
    * documents' distinct-shingle sizes — the spine every verification
    * stage consumes (q53 divides the counts into Jaccard, q233 into
    * directed containments, q225 into the ground-truth gate, q100
    * verifies prefix candidates, q85 runs the Levenshtein kernel over
    * the pair list). The shingle equi-join is the one expensive pass
    * in this family, so it is a memoized materialized view like the
    * LSH pair list: work ∝ true shingle overlap, computed once per
    * dataset.
    *
    * sz1/sz2 are DENORMALIZED INTO the spine at build time (round
    * 12): every consumer needs them, and joining the |docs|-sized
    * [[docSizes]] dimension per query re-shuffled the full 339M-row
    * spine TWICE per consumer once |docs| outgrew the 10 MB
    * auto-broadcast threshold (~600k docs) — four consumers × two
    * spine shuffles at sf30, the dedup family's super-linear term.
    * Paid once here instead, with the size side broadcast under the
    * measured-count gate (the q176 rule: hint only what a measured
    * bound says fits; past it, fall back to a shuffle that is still
    * amortized across all consumers). Two extra longs widen the
    * persisted spine ~25% — bought back on the first avoided
    * re-shuffle. */
  private val interCache = new SessionMemo[String]
  private def sharedShinglePairs(s: SparkSession, dir: String): DataFrame =
    interCache.getOrElseUpdate(s, dir) {
      // the pair list is the family's biggest resident frame (339M
      // rows ≈ 11 GB deserialized at sf30) — its storage tier follows
      // the measured corpus ([[pairSpineLevel]]): in-memory while it
      // fits AFTER the shingle spine's claim, DISK_ONLY past the heap
      // gate so an access costs a page-cached columnar re-read, never
      // a join recompute and never an execution-memory squeeze.
      val sh = shingles(s, dir)
      val sizes = docSizes(s, dir)
      val szJ =
        if (corpusDocs(s, dir) <= 2000000L) broadcast(sizes) else sizes
      sh.alias("a")
        .join(sh.alias("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .agg(count(lit(1)).as("n_common"))
        .join(szJ.select(col("doc_id").as("doc1"), col("sz").as("sz1")), "doc1")
        .join(szJ.select(col("doc_id").as("doc2"), col("sz").as("sz2")), "doc2")
        .persist(pairSpineLevel(s, dir))
    }

  /** (doc_id, sh): distinct 3-token shingles per document, as 64-BIT
    * HASHES (`xxhash64` of the shingle string), not strings.
    *
    * Built map-side with a higher-order array `transform` over the
    * token array — zero shuffles until the `distinct` (the windowed
    * `lead` formulation the oracle uses would shuffle the full token
    * stream; at 100 TB that's the difference between a scan and a
    * sort). Memoized per (session, dataset) and persisted: the LSH,
    * Jaccard, prefix-join, and edit-distance stages all consume it.
    *
    * Why hashes: every consumer uses `sh` ONLY for equality — equi-
    * joins, distinct counts, df ranking — so intersection/union counts
    * under an injective-in-practice 64-bit hash equal the string
    * counts (collision odds across a whole 10^8-shingle corpus are
    * ~10^16/2^64 ≈ 5·10^-4, and ~10^-10 at the oracle sfs; the DuckDB
    * oracles join the STRINGS, so a collision would fail the hash
    * gate loudly, not silently). A STRING-keyed spine is what OOMed
    * the 40 GiB sf30 rung (round 8's honest finding): ~40-byte keys ×
    * 300M rows in cache blocks AND in every downstream join/shuffle
    * buffer. 8-byte keys shrink the spine and all derived shuffles
    * ~5×, and the distinct now shuffles longs instead of strings.
    * Consumers that need the actual string (q126's bloom bit
    * positions are md5 of the shingle TEXT) recompute it map-side via
    * [[shingleStrings]] — one extra scan, zero resident state. */
  private val shingleCache = new SessionMemo[String]
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir)(shinglesUncached(s, dir))

  /** Per-document distinct-shingle counts — the tiny (doc_id, sz)
    * dimension every verification stage joins (q53/q100/q225/q233
    * divide intersection counts by it). Memoized + persisted: it is
    * |docs|-sized, and without the memo each consumer re-aggregated
    * the full spine to rebuild it. */
  private val sizesCache = new SessionMemo[String]
  private def docSizes(s: SparkSession, dir: String): DataFrame =
    sizesCache.getOrElseUpdate(s, dir) {
      shingles(s, dir).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("sz")).persist()
    }
  private def shinglesUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingleStrings(s, dir)
      .select($"doc_id", xxhash64($"sh").as("sh")) // map-side, pre-distinct
      .distinct()
      // corpus-scale frame: storage tier follows the measured corpus
      // ([[shingleSpineLevel]]) — in-memory deserialized while it
      // fits (this spine claims budget FIRST: it is the smaller of
      // the two and feeds five consumer families), DISK_ONLY past
      // the heap gate
      .persist(shingleSpineLevel(s, dir))
  }

  /** The raw (doc_id, shingle STRING) stream — map-side only, NEVER
    * cached (string shingles are the round-8 sf30 OOM shape; anything
    * resident must be the hashed [[shingles]] view). */
  private def shingleStrings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.spread(T.documents(s, dir))
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= 3) // sequence(1,0) would run DESCENDING
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(ws) - 2),
          |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
          |                 element_at(ws, i + 2)))""".stripMargin)).as("sh"))
  }

  /** LSH candidate pairs (doc1 < doc2, distinct): MinHash signatures
    * (8 hashes) → LSH bands (4 bands × 2 rows) → pairs where any band
    * collides.
    *
    * The entire signature/band computation is MAP-SIDE: per document,
    * higher-order array functions build the distinct shingle set and
    * fold each band's two minhashes (`array_min` over md5s) without a
    * single shuffle — the only shuffle is the band-bucket self-join.
    * At 100 TB that one shuffle carries 4 short rows per document,
    * nothing else. Shared by q51 (the pair list), q57/q88 (clustering
    * over the pairs), and q86 (star contraction) — memoized per
    * (session, dataset) like Commission.testAncestors: the pair list
    * is a materialized view every downstream dedup stage consumes, so
    * it is computed once, not once per query. */
  private val pairsCache = new SessionMemo[String]
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir)(lshPairsUncached(s, dir).localCheckpoint())
  /** (doc_id, band, bandkey) LSH band signatures for any (doc_id,
    * text) frame — the per-document map-side stage of the near-dup
    * pipeline, factored out so an INCREMENTAL batch can compute its
    * signatures alone and probe the stored index
    * ([[dedupIncremental]]). Identical expression as the full
    * pipeline, so signatures are comparable across runs. */
  def bandsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= 3)
      .withColumn("shs", expr(
        """array_distinct(transform(sequence(1, size(ws) - 2),
          |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
          |                 element_at(ws, i + 2))))""".stripMargin))
      .select($"doc_id", explode(expr(
        """transform(sequence(0, 3), b -> struct(CAST(b AS BIGINT) AS band,
          |  concat_ws('|',
          |    array_min(transform(shs, sh -> md5(concat(CAST(b*2 AS STRING), ':', sh)))),
          |    array_min(transform(shs, sh -> md5(concat(CAST(b*2+1 AS STRING), ':', sh)))))
          |    AS bandkey))""".stripMargin)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bandkey".as("bandkey"))
  }

  private def lshPairsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread: the md5 minhash fold is the expensive stage and would
    // otherwise run in the scan's single task (one-row-group file)
    val bands = bandsOf(T.spread(T.documents(s, dir)))
      .cache() // both sides of the candidate self-join consume it
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bandkey") === col("b.bandkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    "q51_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      lshPairs(s, dir).orderBy($"doc1", $"doc2")
    }),

    // Incremental near-dup maintenance AS A VERIFIED QUERY (the
    // IncrementalDedupSpec scenario promoted into the oracle matrix):
    // cluster the seed corpus (doc_id < 400) from scratch, then ingest
    // the remaining documents through [[dedupIncremental]] — batch-only
    // signatures, stored-index probe, contracted-graph label merge.
    // The oracle is the FULL-RECOMPUTE clustering SQL (identical to
    // q57's), so the driver independently re-proves that delta
    // maintenance ≡ recompute. At 100 TB this is the difference
    // between re-clustering the corpus per crawl cycle and paying
    // ∝ batch: every incremental stage is bounded by the delta.
    // Greedy maximum-coverage subset selection: pick 5 documents that
    // together cover the most distinct shingles — the classic (1−1/e)
    // greedy for the NP-hard max-coverage objective, and the
    // diverse-exemplar selection step an LLM-data pipeline runs when
    // it wants k representative documents rather than k random ones.
    // Each round is ONE aggregate over the shingle spine: uncovered
    // shingles per doc (anti-join against the covered set), argmax
    // with min-doc_id tie-break, then the winner's shingles fold into
    // the covered set. The driver holds exactly one (doc, gain) row
    // per round — the q148 BPE-argmax discipline; the covered set
    // stays distributed and chains localCheckpoints. At 100 TB the
    // spine is the memoized dedup shingle table (bucketed by shingle)
    // and each round is a co-partitioned anti-join + combine-able
    // count. Oracle: the 5 rounds unrolled as MATERIALIZED CTEs with
    // the identical tie-break.
    "q167_greedy_coverage" -> ((s, dir) => {
      import s.implicits._
      val sh = shingles(s, dir)
      // DELTA-MAINTAINED greedy (round 13, §2.4): round r's gains
      // differ from round r−1's by exactly the overlap with the
      // winner's NEWLY covered shingles — newCov is disjoint from the
      // prior covered set by construction, so
      //   |sh(d) \ covered_r| = |sh(d) \ covered_{r−1}| − |sh(d) ∩ newCov|
      // is exact integer maintenance, never an approximation. The old
      // form re-derived every round's gains from scratch: an anti-join
      // over the full spine plus a corpus-wide groupBy(doc_id) shuffle
      // per round (5× at sf30). Now only round 1 pays the full
      // aggregate; rounds 2–5 cost one broadcast semi-join SCAN of the
      // spine (the winner's ≤|doc| shingles) and a |docs|-row gains
      // update. Tie-break (gain desc, doc_id asc) and the selection
      // domain (every spine doc, zero gains included — gains decrement
      // to exactly 0 when a doc's shingles are fully covered, matching
      // the old coalesce(g, 0)) are unchanged, so the greedy order is
      // bit-stable vs the recompute form the oracle unrolls.
      var gains = sh.groupBy($"doc_id").agg(count(lit(1)).as("gain"))
        .localCheckpoint()
      var covered = s.emptyDataset[Long].toDF("sh").localCheckpoint()
      var excluded = Seq.empty[Long]
      var total = 0L
      val picks = Seq.newBuilder[(Long, Long, Long, Long)]
      for (r <- 1 to 5) {
        val inPlay =
          if (excluded.isEmpty) gains
          else gains.filter(!$"doc_id".isin(excluded: _*))
        val Array((doc, gain)) = inPlay.orderBy($"gain".desc, $"doc_id")
          .limit(1).as[(Long, Long)].collect()
        total += gain
        picks += ((r.toLong, doc, gain, total))
        excluded :+= doc
        if (r < 5) {
          // winner's newly covered shingles: ≤ |doc| rows (the spine
          // scan is batch-pruned by the doc_id predicate), broadcast
          // into both the covered fold and the delta semi-join
          val newCov = sh.filter($"doc_id" === doc).select($"sh")
            .join(covered, Seq("sh"), "left_anti").localCheckpoint()
          covered = covered.unionByName(newCov).localCheckpoint()
          val delta = sh.join(broadcast(newCov), Seq("sh"), "left_semi")
            .groupBy($"doc_id").agg(count(lit(1)).as("d"))
          gains = gains.join(delta, Seq("doc_id"), "left")
            .select($"doc_id",
              ($"gain" - coalesce($"d", lit(0L))).as("gain"))
            .localCheckpoint()
        }
      }
      s.createDataFrame(picks.result())
        .toDF("pick_round", "doc_id", "gain", "covered_total")
        .orderBy($"pick_round")
    }),

    "q122_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val docs = T.documents(s, dir).select($"doc_id", $"text")
        // newest ~20% of doc ids are the delta batch (proportional at
        // every sf — a fixed id cut would turn the whole corpus into
        // "delta" on larger fixtures and measure a rebuild instead)
        val maxId = docs.agg(max($"doc_id")).head().getLong(0)
        val cut = maxId - maxId / 5
        val seed = docs.filter($"doc_id" <= cut)
        val delta = docs.filter($"doc_id" > cut)
        // Seed state = full pipeline on the seed corpus only. In
        // production this state is PERSISTED (it's the stored
        // band-index + label table the delta probes — see
        // dedupIncremental's scaladoc), so it's memoized per
        // (session, dataset) like the other materialized views: the
        // query measures DELTA ingest, not rebuilding the store it
        // ingests into. SessionMemo.releaseAll is the residency bound.
        val prevBands = seedBandsCache.getOrElseUpdate(s, dir)(
          bandsOf(seed).localCheckpoint())
        val prevLabels = seedLabelsCache.getOrElseUpdate(s, dir) {
          val pairs = pairsOf(seed).localCheckpoint()
          val touched = pairs.select($"a".as("doc_id"))
            .union(pairs.select($"b".as("doc_id")))
          val singles = seed.select($"doc_id")
            .join(touched, Seq("doc_id"), "left_anti")
            .select($"doc_id", $"doc_id".as("cluster_id"))
          componentsStar(pairs).unionByName(singles).localCheckpoint()
        }
        val (_, labels) = dedupIncremental(prevBands, prevLabels, delta)
        val byCluster = Window.partitionBy($"cluster_id")
        labels
          .withColumn("cluster_size", count(lit(1)).over(byCluster))
          .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
          .orderBy($"doc_id")
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    }),

    // q122 as a RUNNABLE NIGHTLY JOB: the same incremental dedup, but
    // the seed state lives in BUCKETED TABLES ON DISK (Catalog
    // machinery), not a session-memoized DataFrame — the last gap
    // between "incremental as verified query" and "incremental as a
    // pipeline you could run nightly". Generation 1 (band index
    // bucketed by bandkey — the probe key, so the delta probe join
    // reads the stored side SHUFFLE-FREE; labels bucketed by doc_id)
    // is written once per (session, dataset); every run re-READS it
    // from disk, ingests the delta, and writes the ADVANCED state
    // back as generation 2, from which the output labels are read —
    // the full state round-trip a scheduler would execute. Output ≡
    // q122 ≡ the full-recompute oracle (MaintenanceSpec asserts the
    // g1→g2 round-trip and the memoized-path hash parity).
    "q238_incremental_dedup_disk" -> ((s, dir) => {
      import s.implicits._
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val docs = T.documents(s, dir).select($"doc_id", $"text")
        val maxId = docs.agg(max($"doc_id")).head().getLong(0)
        val cut = maxId - maxId / 5
        val seed = docs.filter($"doc_id" <= cut)
        val delta = docs.filter($"doc_id" > cut)
        // State-table names carry the APPLICATION id (Scratch.stateKey)
        // so concurrent sessions sharing a warehouse can never collide
        // on — or sweep — each other's live state; the sweep itself is
        // scoped by construction to warehouse-resident graft_state_*
        // dirs of THIS application (Scratch.sweepStaleState refuses
        // anything else).
        val key = Scratch.stateKey(s, dir)
        val bandsT = s"graft_state_bands_$key"
        val labelsT = s"graft_state_labels_$key"
        Seq(bandsT, labelsT, s"${bandsT}_g2", s"${labelsT}_g2")
          .foreach(Scratch.sweepStaleState(s, _))
        if (!s.catalog.tableExists(bandsT)) {
          Catalog.bucketize(bandsOf(seed), bandsT, "bandkey", buckets = 8)
          val pairs = pairsOf(seed).localCheckpoint()
          val touched = pairs.select($"a".as("doc_id"))
            .union(pairs.select($"b".as("doc_id")))
          val singles = seed.select($"doc_id")
            .join(touched, Seq("doc_id"), "left_anti")
            .select($"doc_id", $"doc_id".as("cluster_id"))
          Catalog.bucketize(
            componentsStar(pairs).unionByName(singles), labelsT,
            "doc_id", buckets = 8)
        }
        val (nextBands, nextLabels) =
          dedupIncremental(s.table(bandsT), s.table(labelsT), delta)
        Catalog.bucketize(nextBands, s"${bandsT}_g2", "bandkey", buckets = 8)
        Catalog.bucketize(nextLabels, s"${labelsT}_g2", "doc_id", buckets = 8)
        val labels = s.table(s"${labelsT}_g2")
        val byCluster = Window.partitionBy($"cluster_id")
        labels
          .withColumn("cluster_size", count(lit(1)).over(byCluster))
          .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
          .orderBy($"doc_id")
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    }),

    // Dedup CLUSTERING — the stage after candidate generation: group
    // near-duplicate pairs into connected components and elect one
    // canonical document per component (cluster_id = min doc_id). This
    // is what turns a pair list into an actual "keep/drop" decision.
    //
    // Spark-first shape: iterative min-label propagation over the edge
    // list — per round, every node takes the min of its own label and
    // its neighbors' labels; converges in graph-diameter rounds. Each
    // round is ONE shuffle of the (thin) edge-end labels; the corpus
    // itself is touched once at the start and once at the end. Near-dup
    // graphs are overwhelmingly tiny components (pairs ≪ corpus), so
    // the per-round working set is the pair list, not the corpus; for
    // adversarial chain-shaped graphs use componentsStar (alternating
    // large-star/small-star contraction, O(log d) rounds) — not needed
    // at the fixture's diameter.
    // localCheckpoint truncates lineage so round k doesn't replay
    // rounds 1..k-1; width 8 for the same frontier-sized-shuffle
    // reasoning as q67.
    "q57_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val byCluster = Window.partitionBy($"cluster_id")
      components(s, dir)
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
        .orderBy($"doc_id")
    }),

    // Leakage-free train/test split: assign the SPLIT BY CLUSTER, not
    // by document — near-duplicate documents share a cluster_id, so a
    // document can never end up in train while its near-dup sits in
    // test (the classic eval-contamination bug that per-doc random
    // splits commit). The split decision is one md5 nibble of the
    // cluster id: deterministic, engine-portable, ~94/6 (15 of the 16
    // nibble values pass `% 10 < 9`). Zero extra shuffles beyond the
    // clustering itself.
    "q88_cluster_split" -> ((s, dir) => {
      import s.implicits._
      val nibble = expr(
        """(instr('0123456789abcdef',
          |  substr(md5(concat(CAST(cluster_id AS STRING), ':split')), 1, 1)) - 1)
          |  % 10""".stripMargin)
      components(s, dir)
        .withColumn("split", when(nibble < 9, "train").otherwise("test"))
        .select($"doc_id", $"cluster_id", $"split")
        .orderBy($"doc_id")
    }),

    // Same clustering, computed by STAR CONTRACTION instead of label
    // propagation — identical output (same oracle as q57), different
    // convergence class: O(log d) rounds vs O(d), which is what an
    // adversarial chain-shaped component needs. Isolated documents
    // (no near-dup pair) are their own cluster, as in q57.
    "q86_dedup_clusters_star" -> ((s, dir) => {
      import s.implicits._
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        // star labels memoized like the propagation labels: the
        // contraction loop is a materialized view, computed once per
        // (session, dataset), not once per invocation
        val labels = starCache.getOrElseUpdate(s, dir) {
          val edges = lshPairs(s, dir)
            .select($"doc1".as("a"), $"doc2".as("b"))
          componentsStar(edges).localCheckpoint()
        }
        val byCluster = Window.partitionBy($"cluster_id")
        T.documents(s, dir).select($"doc_id")
          .join(labels.withColumnRenamed("doc_id", "n"), $"doc_id" === $"n", "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
          .withColumn("cluster_size", count(lit(1)).over(byCluster))
          .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
          .orderBy($"doc_id")
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    }),

    // Benchmark DECONTAMINATION — flag training documents sharing any
    // 3-gram with a held-out eval set (docs 0-24 stand in for the
    // benchmark). The benchmark shingle set is tiny by construction, so
    // it broadcasts and the corpus-side check is a map-side hash probe:
    // zero shuffles of the corpus, one small aggregation of the hits.
    "q74_decontamination" -> ((s, dir) => {
      import s.implicits._
      val hits = contaminationCounts(s, dir)
      T.documents(s, dir).filter($"doc_id" >= 25)
        .select($"doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_overlap", lit(0L)).as("n_overlap"),
          (coalesce($"n_overlap", lit(0L)) > 0L).as("contaminated"))
        .orderBy($"doc_id")
    }),

    // Bloom-filter decontamination pre-filter next to q74's exact
    // answer: a 4096-bit bitmap (Sketches.BloomBits — 64 longs,
    // merge = pointwise OR) is built from the benchmark's distinct
    // shingles and broadcast as ONE row; every corpus shingle then
    // tests its k = 3 md5-derived bit positions MAP-SIDE (codegen'd
    // shifts over the broadcast array — no join against the benchmark
    // set at all). No false negatives by construction (n_bloom ≥
    // n_overlap per doc, bloom_flagged ⊇ contaminated — BloomSpec
    // pins both); false_positive shows the price of the 512-byte
    // state. At 100 TB this is the shape that matters: the bitmap (a
    // few MB in production) ships to every executor, and only
    // bloom-positive docs pay q74's exact verification join.
    "q126_bloom_decontamination" -> ((s, dir) => {
      import s.implicits._
      val mBits = 4096
      val bloomAgg = udaf(new Sketches.BloomBits(mBits / 64))
      // bit positions are md5 of the shingle TEXT (the oracle replays
      // them), so this query rides the map-side STRING stream — the
      // memoized spine is hashed and can't serve it. One distinct
      // (strings shuffle once, nothing stays resident).
      val sh = shingleStrings(s, dir).distinct()
      def posCol(sfx: Column): Column =
        conv(substring(md5(concat($"sh", lit(":bf"), sfx)), 1, 13), 16, 10)
          .cast("long") % mBits
      val bloom = sh.filter($"doc_id" < 25).select($"sh").distinct()
        .withColumn("i", explode(sequence(lit(0), lit(2))))
        .agg(bloomAgg(posCol($"i")).as("bm"))
      def bitTest(p: String): String =
        s"(shiftright(element_at(bm, CAST($p div 64 AS INT) + 1), CAST($p % 64 AS INT)) & 1) = 1"
      val probed = sh.filter($"doc_id" >= 25)
        .withColumn("p0", posCol(lit(0)))
        .withColumn("p1", posCol(lit(1)))
        .withColumn("p2", posCol(lit(2)))
        .crossJoin(broadcast(bloom))
        .withColumn("in_bloom",
          expr(bitTest("p0")) && expr(bitTest("p1")) && expr(bitTest("p2")))
        .groupBy($"doc_id")
        .agg(sum(when($"in_bloom", 1L).otherwise(0L)).as("n_bloom"))
      T.documents(s, dir).filter($"doc_id" >= 25).select($"doc_id")
        .join(contaminationCounts(s, dir), Seq("doc_id"), "left")
        .join(probed, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_overlap", lit(0L)).as("n_overlap"),
          coalesce($"n_bloom", lit(0L)).as("n_bloom"),
          (coalesce($"n_overlap", lit(0L)) > 0L).as("contaminated"),
          (coalesce($"n_bloom", lit(0L)) > 0L).as("bloom_flagged"),
          (coalesce($"n_bloom", lit(0L)) > 0L &&
            coalesce($"n_overlap", lit(0L)) === 0L).as("false_positive"))
        .orderBy($"doc_id")
    }),

    // 16-bit SimHash fingerprint per document (md5-derived token
    // hashes, per-bit majority vote) — pure integer arithmetic so both
    // engines agree exactly.
    "q52_simhash" -> ((s, dir) =>
      simhashOf(s, dir).orderBy(col("doc_id"))),

    // SimHash pair search: fingerprints within Hamming distance ≤ 3,
    // scored by the codegen'd popcount kernel
    // (graft.functions.HammingDistance).
    //
    // Candidate generation is PIGEONHOLE BANDING, not a cross join:
    // split the fingerprint into 4 blocks — any pair within Hamming
    // distance 3 differs in at most 3 blocks, so it agrees EXACTLY on
    // at least one block. Each doc emits 4 (block, masked-fingerprint)
    // probe keys; candidates come from a plain equi-join on that key,
    // so the shuffle is 4 short rows per document and work is
    // proportional to true bucket collisions.
    //
    // The fingerprint WIDTH FOLLOWS THE DATA (adaptiveWidth — block
    // width bitlen(n−1)−5, floored at 4 so the 500-doc oracle sf
    // keeps the original 16-bit output, capped at 15 so the value
    // stays a positive BIGINT): a fixed 16-bit fingerprint saturates
    // by birthday at ~10^4 docs — block buckets hold n/2^bb docs, so
    // candidate pairs grow n²/2^bb, quadratic at any fixed width.
    // With bb tracking bitlen(n), occupancy stays 16–32 and candidate
    // work is ~64·n at every corpus size. The oracle replays the
    // width formula from count(*) and brute-forces all pairs, so the
    // banding is proven lossless AT THE CHOSEN WIDTH per sf. (q124
    // pins the fixed 60-bit production variant; q52 pins the 16-bit
    // fingerprint itself.)
    "q68_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      val hd = graft.functions.HammingDistance.hamming(s) _
      val n = T.documents(s, dir).count()
      val bb = adaptiveWidth(n, 4, 15) // block bits; fingerprint = 4·bb
      val sh = simhashOfW(s, dir, 4 * bb)
      val blocks = sh.select($"doc_id", $"simhash",
          explode(sequence(lit(0), lit(3))).as("blk"))
        .withColumn("bval",
          expr(s"(simhash div shiftleft(CAST(1 AS BIGINT), blk * $bb)) % " +
            s"shiftleft(CAST(1 AS BIGINT), $bb)"))
        .cache() // both sides of the candidate self-join consume it
      blocks.alias("a")
        .join(blocks.alias("b"),
          col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          col("a.simhash").as("h1"), col("b.simhash").as("h2"))
        .distinct() // a close pair can collide in several blocks
        .select($"doc1", $"doc2", hd($"h1", $"h2").as("hamming"))
        .filter($"hamming" <= 3L)
        .orderBy($"doc1", $"doc2")
    }),

    // The PRODUCTION-WIDTH SimHash (SCALE.md's q68 scaling note made
    // executable): a 60-bit fingerprint (15 md5 hex chars per token —
    // the widest value that stays positive in a signed BIGINT on both
    // engines) with 4 × 15-bit pigeonhole blocks. Same lossless-banding
    // theorem (Hamming ≤ 3 ⇒ some block matches exactly), but block
    // buckets now span 2^15 values, so bucket occupancy — and with it
    // the candidate count — stays bounded through ~10^8 docs where the
    // 16-bit q68 fingerprint saturates at ~10^5. Oracle is the brute-
    // force all-pairs check, so the banding is again PROVEN lossless.
    "q124_simhash64_pairs" -> ((s, dir) => {
      import s.implicits._
      val hd = graft.functions.HammingDistance.hamming(s) _
      val sh = simhash64Of(s, dir)
      val blocks = sh.select($"doc_id", $"simhash",
          explode(sequence(lit(0), lit(3))).as("blk"))
        .withColumn("bval",
          expr("(simhash div shiftleft(CAST(1 AS BIGINT), blk * 15)) % 32768"))
        .cache() // both sides of the candidate self-join consume it
      blocks.alias("a")
        .join(blocks.alias("b"),
          col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          col("a.simhash").as("h1"), col("b.simhash").as("h2"))
        .distinct() // a close pair can collide in several blocks
        .select($"doc1", $"doc2", hd($"h1", $"h2").as("hamming"))
        .filter($"hamming" <= 3L)
        .orderBy($"doc1", $"doc2")
    }),

    // Edit-distance fuzzy verification over shared-shingle candidates —
    // the character-level sibling of q53's token-level Jaccard. The
    // Levenshtein kernel is O(|t1|·|t2|) per pair, which is exactly why
    // it runs ONLY on candidate pairs from the shingle equi-join (work
    // ∝ true overlap), never on the corpus triangle. Both engines
    // implement the same unit-cost insert/delete/substitute DP.
    "q85_edit_distance" -> ((s, dir) => {
      import s.implicits._
      val cand = sharedShinglePairs(s, dir).select($"doc1", $"doc2")
      // Join strategy (round 13, replacing the round-9 "default plan
      // stands" note): the text dimension's ESTIMATED size sits right
      // at the 10 MB autoBroadcast cliff once a counting consumer
      // prunes `t` (~12 MB of doc_id keys at sf30), so the planner
      // flip-flopped between broadcast (~10 s) and a double
      // 339M-pair-spine SortMergeJoin (~32 s) run to run — the r12
      // sf30 instability. Pin the choice with the spine's own
      // measured-count gate: ≤ 2M docs broadcasts the dimension
      // deterministically (the same 2M rule as the sz1/sz2 build
      // join); past it, SHUFFLE_HASH builds the dimension per
      // partition (|docs|÷width rows each) and the pair spine is
      // shuffled but never sorted. Caveat recorded: for a consumer
      // that keeps the text columns, the broadcast at the 2M edge
      // carries the text payload too (~350 B/doc) — the verified
      // sfs are far under it, and past-the-gate corpora take the
      // shuffle path by construction.
      val docs = T.documents(s, dir).select($"doc_id", trim($"text").as("t"))
      val dimJ = (df: DataFrame) =>
        if (corpusDocs(s, dir) <= 2000000L) broadcast(df)
        else df.hint("shuffle_hash")
      cand
        .join(dimJ(docs.select($"doc_id".as("doc1"), $"t".as("t1"))), "doc1")
        .join(dimJ(docs.select($"doc_id".as("doc2"), $"t".as("t2"))), "doc2")
        .select($"doc1", $"doc2",
          levenshtein($"t1", $"t2").cast("long").as("edit_dist"),
          (lit(1.0) - levenshtein($"t1", $"t2").cast("double") /
            greatest(length($"t1"), length($"t2")).cast("double"))
            .as("char_sim"))
        .orderBy($"doc1", $"doc2")
    }),

    // PPJoin-style PREFIX-FILTERED set-similarity join at t = 0.8:
    // order every document's shingles by global rarity (df, then
    // shingle), keep only the first |d| − ⌈t·|d|⌉ + 1 as the join
    // prefix — any pair with Jaccard ≥ t MUST collide inside the
    // prefixes (I ≥ t·|A| ⇒ a shared shingle appears before either
    // prefix runs out under one global order), so the candidate join
    // shuffles prefix tokens instead of every token, and rarity-first
    // ordering makes those prefixes the LEAST collision-prone
    // shingles. Verification is per-pair map-side `array_intersect`
    // over the two full sets — no corpus shuffle. The oracle is the
    // BRUTE-FORCE all-shared-pairs Jaccard at the same threshold:
    // hash-equality proves the prefix filter is lossless, not just
    // plausible.
    "q100_prefix_jaccard" -> ((s, dir) => {
      import s.implicits._
      val t = 0.8
      val sh = shingles(s, dir)
      val dfreq = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      // Prefix selection is per-document top-k by (df, sh) — done with
      // collect_list + one per-doc array_sort/slice, NOT a row_number
      // window (round-10): the window form sorted the whole df-tagged
      // spine inside doc-partitioned SortExec (plus a second window for
      // |d|), where the hash aggregate needs no partition sort at all
      // and each doc sorts its own ≤|d|-entry array map-side. Same
      // (rk ≤ |d| − ⌈t·|d|⌉ + 1) arithmetic, same (df asc, sh asc)
      // total order — struct array_sort compares fields in declaration
      // order. Per-doc state stays bounded by document size, so the
      // shape holds on 100 TB doc counts.
      // Round 13, §3.1: the rarity join rides SHUFFLE_HASH — the
      // sort-merge default planned a SortMergeJoin per self-join alias
      // and sorted the 78M-row spine and the 8.2M-row dictionary for
      // each of them at sf30 (four corpus-sized sorts) for an
      // equi-join whose build side is bounded per partition by
      // uniform 64-bit-hash keys: dfreq is the distinct-shingle
      // DICTIONARY (~8.2M × 16 B at sf30, ~4 MB per partition at
      // width 32; scale widens partitions with the data, the
      // per-partition build stays dictionary÷width). Candidate
      // generation itself is the sort-based streaming device — see
      // the `cand` comment below.
      val prefix = sh.join(dfreq.hint("shuffle_hash"), "sh")
        .groupBy($"doc_id")
        .agg(collect_list(struct($"df", $"sh")).as("arr"))
        .select($"doc_id", explode(expr(
          s"""slice(array_sort(arr), 1,
             |  CAST(size(arr) - ceil(size(arr) * $t) + 1 AS INT))""".stripMargin))
          .as("x"))
        .select($"doc_id", $"x.sh".as("sh"))
      // Candidate generation is the q163 sort-based streaming device,
      // not a self-join (round 13, third variant — the first two were
      // measured and rejected at sf30/8 g): repartition the prefix
      // stream on sh, sort within partitions by (sh, doc_id), then a
      // mapPartitions closure streams each sh-run and lazily emits the
      // i < j doc pairs. Identical pair set to the old SMJ self-join
      // (same groups, same a.doc_id < b.doc_id condition, duplicates
      // handled by the same downstream distinct) at a fraction of the
      // machinery: the prefix pipeline — dfreq join + per-doc
      // collect_list, the block's dominant cost — is evaluated ONCE
      // instead of once per join alias, and the 19M-row stream pays
      // one exchange + one sort instead of two of each plus the merge
      // join. Memory stays bounded by ONE group's doc_ids (8 B each,
      // emission itself is a lazy iterator) — unlike the rejected
      // variants: (1) SHUFFLE_HASH self-join OOMed (32 concurrent
      // ~19M-row hash builds competing with the persisted pair spine,
      // §3.1's stated SHJ risk); (2) groupBy(sh) + collect_list doc
      // arrays OOMed (a hash-aggregate buffers a partition's WORTH of
      // doc lists, not one group's). The closure is opaque to the
      // optimizer, so EliminateSorts cannot drop the sort it depends
      // on (the q163 lesson).
      // NO .distinct() (round 13): candidate multiplicity (pairs
      // sharing several prefix shingles) is harmless to a LEFT SEMI
      // consumer — semi tests key EXISTENCE, so duplicate right rows
      // cannot change the output — and the distinct was the 8 g OOM:
      // its partial hash aggregate grew 128 MB managed pages in 32
      // concurrent tasks while the independent pair-spine stage did
      // the same (TaskMemoryManager "Failed to allocate a page
      // (134217728 bytes)" + GCLocker retries, measured twice at
      // sf30). The semi join's per-partition SORT of the raw pair
      // stream spills gracefully where a hash map cannot.
      val cand = prefix
        .repartition($"sh")
        .sortWithinPartitions($"sh", $"doc_id")
        .select($"sh", $"doc_id")
        .as[(Long, Long)]
        .mapPartitions { rows =>
          val in = rows.buffered
          val groups = new Iterator[Array[Long]] {
            def hasNext: Boolean = in.hasNext
            def next(): Array[Long] = {
              val sh = in.head._1
              val buf = scala.collection.mutable.ArrayBuilder.make[Long]
              while (in.hasNext && in.head._1 == sh) buf += in.next()._2
              buf.result() // ascending: sorted by (sh, doc_id)
            }
          }
          groups.flatMap { ds =>
            if (ds.length < 2) Iterator.empty
            else ds.indices.iterator.flatMap(i =>
              Iterator.range(i + 1, ds.length).map(j => (ds(i), ds(j))))
          }
        }
        .toDF("doc1", "doc2")
        // the mapPartitions output has no stats — pin the semi join to
        // sort-merge so the planner can never try to broadcast-build
        // the corpus-sized raw pair stream
        .hint("merge")
      // verification rides the memoized shared-shingle spine (the q53/
      // q85 materialized view) instead of re-collecting per-doc shingle
      // ARRAYS and intersecting them per pair — candidates share a
      // prefix shingle by construction, so losslessness makes the semi
      // join exact; sz1/sz2 ride the spine (denormalized at build).
      // Spine side first (round 13): output columns all come from the
      // spine, so the join is exactly a LEFT SEMI — which prunes every
      // candidate column from the join output, dedupes candidate
      // multiplicity by construction (existence test), and lets the
      // jaccard ≥ t gate (pushed below the join by the optimizer) run
      // map-side off the persisted spine before the join sees a row.
      sharedShinglePairs(s, dir)
        .select($"doc1", $"doc2", $"n_common",
          ($"n_common".cast("double") / ($"sz1" + $"sz2" - $"n_common").cast("double"))
            .as("jaccard"))
        .filter($"jaccard" >= t)
        .join(cand, Seq("doc1", "doc2"), "left_semi")
        .orderBy($"doc1", $"doc2")
    }),

    // Exact n-gram Jaccard on shared-shingle candidate pairs —
    // verification stage after LSH, thresholded at 0.1. Integer
    // intersection/union counts → bit-exact division.
    "q53_jaccard_pairs" -> ((s, dir) => {
      import s.implicits._
      // one map-side pass over the enriched spine — sz1/sz2 were
      // denormalized in at build, so no per-query sizes join remains
      sharedShinglePairs(s, dir)
        .select($"doc1", $"doc2", $"n_common",
          ($"n_common".cast("double") / ($"sz1" + $"sz2" - $"n_common").cast("double"))
            .as("jaccard"))
        .filter($"jaccard" >= 0.1)
        .orderBy($"doc1", $"doc2")
    }),

    // Dedup-quality MEASUREMENT: precision/recall of the MinHash-LSH
    // candidate generator (q51's 4×2 banding) against exact-Jaccard
    // ≥ 0.5 ground truth — "we dedup with LSH" is an empty claim
    // until its miss rate is a number a pipeline owner can read.
    // Truth rides the memoized shared-shingle spine (pairs sharing no
    // shingle have J = 0, so the spine is complete for any positive
    // threshold); the Jaccard gate is the integer micro ratio — no
    // float compare. Candidates are the identical banding the dedup
    // pipeline runs. Both are |pairs|-sized frames; the verdict is
    // three 1-row aggregates crossed (the q151/q166 shape) with
    // integer micro P/R and a zero-denominator guard mirrored on both
    // engines.
    "q225_dedup_pr" -> ((s, dir) => {
      import s.implicits._
      // map-side truth gate over the enriched spine (sz1/sz2 ride it);
      // n_truth and n_hit fold in ONE spine scan via a left-join
      // marker — the two-aggregate form scanned the 339M-row spine
      // twice per call (round-12 sf30 fix)
      val truth = sharedShinglePairs(s, dir)
        .withColumn("j_micro",
          expr("(n_common * 1000000) div (sz1 + sz2 - n_common)"))
        .filter($"j_micro" >= 500000L)
        .select($"doc1", $"doc2")
      val cand = lshPairs(s, dir)
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val th = truth
        .join(cand.withColumn("hit", lit(1L)), Seq("doc1", "doc2"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce($"hit", lit(0L))).as("n_hit"))
      th.crossJoin(broadcast(nCand))
        .withColumn("precision_micro",
          when($"n_cand" > 0L, expr("(n_hit * 1000000) div n_cand")))
        .withColumn("recall_micro",
          when($"n_truth" > 0L, expr("(n_hit * 1000000) div n_truth")))
        .select($"n_truth", $"n_cand", $"n_hit", $"precision_micro",
          $"recall_micro")
    }),

    // CONTAINMENT similarity (|A∩B|/|A|, asymmetric) — the direction
    // Jaccard is blind to: a short document quoted whole inside a
    // long one has tiny Jaccard but containment ≈ 1, and quote/clone
    // detection in a training corpus needs exactly that signal (the
    // same reason ExactSubstr exists beside near-dup). Rides the
    // memoized shared-shingle spine; both directed containments are
    // integer micro ratios, pairs kept when EITHER direction ≥ 0.9.
    "q233_containment" -> ((s, dir) => {
      import s.implicits._
      // one map-side pass over the enriched spine (sz1/sz2 ride it)
      sharedShinglePairs(s, dir)
        .withColumn("cont12_micro", expr("(n_common * 1000000) div sz1"))
        .withColumn("cont21_micro", expr("(n_common * 1000000) div sz2"))
        .filter($"cont12_micro" >= 900000L || $"cont21_micro" >= 900000L)
        .select($"doc1", $"doc2", $"n_common", $"sz1", $"sz2",
          $"cont12_micro", $"cont21_micro")
        .orderBy($"doc1", $"doc2")
    }),

    // Exact-substring duplicate SPANS (the ExactSubstr dedup of Lee et
    // al., "Deduplicating Training Data Makes Language Models Better",
    // ACL 2022 — PAPERS.md): instead of a per-document near-dup
    // decision, find the exact repeated REGIONS inside each document.
    // Any 5-token gram occurring ≥2 times corpus-wide (including twice
    // in one document) marks its span; overlapping/adjacent spans merge
    // into maximal duplicated regions (gaps-and-islands: a new region
    // starts when the next duplicated gram position is > K past the
    // previous one). Per document: duplicated-gram count, tokens
    // covered by merged regions, coverage fraction, longest region.
    //
    // Spark-first scale shape: grams build MAP-SIDE (one transform/
    // explode, like the shingle spine); the census is ONE combine-able
    // groupBy on the md5 of the gram (32-char key, not the raw 5-token
    // string, so the shuffle carries fixed-width keys); marking is a
    // semi-join against the (small) duplicated-gram set; region-merge
    // is a per-document window — partitioned by doc_id, state bounded
    // by document length. No stage ever holds more than one document's
    // positions; the suffix-array construction the paper uses is a
    // single-machine algorithm, while this census form is exactly
    // parallel. K=5 (fixture docs ~54 tokens); production K≈50 is the
    // same plan.
    "q129_dup_spans" -> ((s, dir) =>
      dupSpans(T.spread(T.documents(s, dir)), 5)
        .orderBy(col("doc_id"))))

  /** Per-document exact-substring duplication stats over `docs`
    * (`doc_id`, `text`): for K-token grams occurring ≥2 times
    * corpus-wide, merge their K-token spans into maximal duplicated
    * regions (two marked gram positions belong to one region when
    * they are ≤ K apart — their token intervals overlap or touch) and
    * report per document the marked-gram count, tokens covered by the
    * merged regions, the covered fraction, and the longest region.
    * Documents shorter than K tokens are excluded; clean documents
    * report zeros. See the q129 comment for the scale shape. */
  def dupSpans(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= k)
      .select($"doc_id", size($"ws").cast("long").as("n_tokens"), $"ws")
    val grams = gramsOfTokens(base, k)
    val dup = grams.groupBy($"g").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"g")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val isl = grams.join(dup, Seq("g"), "left_semi")
      .withColumn("prev", lag($"pos", 1).over(w))
      .withColumn("ni", when($"prev".isNull || $"pos" - $"prev" > k, 1L)
        .otherwise(0L))
      .withColumn("grp", sum($"ni").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(count(lit(1)).as("n_pos"),
        (max($"pos") - min($"pos") + k).as("covered"))
      .groupBy($"doc_id")
      .agg(sum($"n_pos").as("dup_grams"),
        sum($"covered").as("covered_tokens"),
        max($"covered").as("max_dup_span"))
    base.select($"doc_id", $"n_tokens")
      .join(isl, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_grams", lit(0L)).as("dup_grams"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
        (coalesce($"covered_tokens", lit(0L)).cast("double") /
          $"n_tokens".cast("double")).as("dup_frac"),
        coalesce($"max_dup_span", lit(0L)).as("max_dup_span"))
  }

  /** Positional K-gram occurrences `(doc_id, n_tokens, pos, g)` for a
    * `(doc_id, n_tokens, ws)` token frame — entirely MAP-SIDE (one
    * transform/explode per document), shared by [[dupSpans]] and the
    * streaming census (`Streams.gramMarks` consumes the same
    * expression over a stream, so stream and batch gram keys are
    * comparable by construction). Gram key = md5 of the
    * space-joined tokens: fixed-width shuffle keys. */
  def gramsOfTokens(tokenFrame: DataFrame, k: Int): DataFrame = {
    val gramCols = (0 until k)
      .map(j => s"element_at(ws, i + $j)").mkString(", ")
    tokenFrame
      .select(col("doc_id"), col("n_tokens"), explode(expr(
        s"""transform(sequence(1, size(ws) - ${k - 1}),
           |  i -> struct(CAST(i AS BIGINT) AS pos,
           |    md5(concat_ws(' ', $gramCols)) AS g))""".stripMargin)).as("pg"))
      .select(col("doc_id"), col("n_tokens"),
        col("pg.pos").as("pos"), col("pg.g").as("g"))
  }

  /** Gram occurrences straight from a `(doc_id, text)` frame (batch or
    * streaming — every step is per-row). */
  def gramOccurrences(docs: DataFrame, k: Int): DataFrame =
    gramsOfTokens(
      docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= k)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
          col("ws")),
      k)

  /** The duplicated-gram POSITIONS of a corpus — `(doc_id, pos)` for
    * every occurrence of a gram with total count ≥ 2 (the marking
    * stage of [[dupSpans]], exposed for stream/batch parity checks). */
  def markedPositions(docs: DataFrame, k: Int): DataFrame = {
    val grams = gramOccurrences(docs, k)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("g"))
    grams.join(dup, Seq("g"), "left_semi").select(col("doc_id"), col("pos"))
  }

  /** Skew-aware within-bucket pair generation — the executable form of
    * the LSH hot-band mitigation SCALE.md describes (boilerplate-heavy
    * band buckets: cookie banners, license headers, template pages can
    * put 10⁵+ documents into ONE bucket, and a plain bucket self-join
    * then puts that bucket's entire n² pair matrix on one reducer).
    *
    * Buckets at or below `hotThreshold` take the normal self-join path.
    * Hot buckets are processed on an s×s SALT GRID: each row gets a
    * deterministic salt in [0,s); the left side replicates each row s
    * times tagged (salt, j) and the right side s times tagged (i, salt),
    * so the join on (bucket, i, j) lands each (a,b) pair in exactly one
    * of s² grid cells — the bucket's pair matrix spreads over s²
    * reducers instead of one. Total work is unchanged (it's the true
    * pair count); only the per-task maximum drops, which is what
    * matters for stragglers/spill. AQE's skew-split can do this
    * adaptively for sort-merge joins; the explicit grid also covers
    * broadcast-hash plans and makes the bound deterministic.
    *
    * @param rows (keyCol, idCol) bucket membership
    * @return (id1, id2) with id1 < id2, each in-bucket pair exactly once
    */
  def bucketPairsSkewAware(rows: DataFrame, keyCol: String, idCol: String,
                           hotThreshold: Long = 100000L, s: Int = 8): DataFrame = {
    val r = rows.select(col(keyCol).as("k"), col(idCol).as("id"))
    val sizes = r.groupBy(col("k")).agg(count(lit(1)).as("__n"))
    val tagged = r.join(broadcast(sizes), "k")
    val cold = tagged.filter(col("__n") <= hotThreshold).drop("__n")
    val coldPairs = cold.alias("a")
      .join(cold.alias("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val hot = tagged.filter(col("__n") > hotThreshold).drop("__n")
      .withColumn("__salt", pmod(hash(col("id")), lit(s)))
    val grid = explode(sequence(lit(0), lit(s - 1)))
    val left = hot.withColumn("__j", grid)
      .select(col("k"), col("id").as("id_l"),
        col("__salt").as("__i"), col("__j"))
    val right = hot.withColumn("__i", grid)
      .select(col("k"), col("id").as("id_r"),
        col("__i"), col("__salt").as("__j"))
    // shuffle_hash hint: the hot path exists precisely when the bucket
    // is too big to broadcast — a broadcast plan here would silently
    // skip the grid shuffle (and at fixture scale Spark would pick it),
    // leaving the pair matrix wherever the inputs happened to sit.
    val hotPairs = left.hint("shuffle_hash").join(right, Seq("k", "__i", "__j"))
      .filter(col("id_l") < col("id_r"))
      .select(col("id_l").as("id1"), col("id_r").as("id2"))
    coldPairs.unionByName(hotPairs)
  }

  /** (doc_id, cluster_id): connected components over the LSH pair
    * graph via iterative min-label propagation — per round every node
    * takes the min of its own and its neighbors' labels; converges in
    * graph-diameter rounds (monotone, so the label-sum strictly
    * decreases until fixpoint — the convergence check is one cheap
    * aggregate, not a join). Each round shuffles only edge-end labels
    * (the corpus never re-shuffles: edges broadcast on one side,
    * neighbor-minima broadcast back on the other), and localCheckpoint
    * truncates lineage so round k doesn't replay rounds 1..k-1. Width 8
    * for the frontier-sized-shuffle reasoning of q67. Near-dup graphs
    * are overwhelmingly tiny components (pairs ≪ corpus); for
    * adversarial chain-shaped graphs whose diameter exceeds the round
    * cap, [[componentsStar]] is the O(log d) alternative
    * (StarComponentsSpec exercises a 300-node chain). */
  private val compCache = new SessionMemo[String]
  private val starCache = new SessionMemo[String]
  // q122's persisted seed state (stored band index + labels) — see the
  // comment at its build site
  private val seedBandsCache = new SessionMemo[String]
  private val seedLabelsCache = new SessionMemo[String]
  def components(s: SparkSession, dir: String): DataFrame =
    compCache.getOrElseUpdate(s, dir)(componentsUncached(s, dir))
  private def componentsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val pairs = lshPairs(s, dir)
      val edges = pairs.select($"doc1".as("a"), $"doc2".as("b"))
        .union(pairs.select($"doc2".as("a"), $"doc1".as("b")))
        .localCheckpoint()
      var labels = T.documents(s, dir)
        .select($"doc_id", $"doc_id".as("label")).localCheckpoint()
      var sumPrev = Long.MaxValue
      var sumCur = labels.agg(sum($"label")).head.getLong(0)
      var rounds = 0
      while (sumCur < sumPrev && rounds < 32) {
        val nbrMin = broadcast(edges)
          .join(labels.select($"doc_id".as("b"), $"label".as("nl")), "b")
          .groupBy($"a").agg(min($"nl").as("nbr_min"))
        labels = labels
          .join(broadcast(nbrMin), $"doc_id" === $"a", "left")
          .select($"doc_id",
            least($"label", coalesce($"nbr_min", $"label")).as("label"))
          .localCheckpoint()
        sumPrev = sumCur
        sumCur = labels.agg(sum($"label")).head.getLong(0)
        rounds += 1
      }
      labels.select($"doc_id", $"label".as("cluster_id"))
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the adversarial-graph replacement for
    * [[components]]' min-label propagation. Label propagation moves a
    * label one hop per round, so a pathological chain-shaped near-dup
    * component of diameter d costs d rounds (and [[components]] caps
    * at 32); star contraction re-points whole neighborhoods at their
    * minimum each round, converging in O(log d) rounds. Every round is
    * two groupBy+join passes over the EDGE list only — the corpus is
    * never touched, same as label propagation.
    *
    *  - large-star(u): every neighbor v > u re-links to
    *    m = min(Γ(u) ∪ {u})
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-links
    *    to that minimum
    *
    * Fixpoint = the edge multiset stops changing (monotone: the
    * (count, Σends) checksum strictly decreases until the graph is a
    * set of stars centered on component minima).
    *
    * @param edges0 (a, b) undirected pair list
    * @return ((doc_id, cluster_id) for every node that appears in an
    *         edge, rounds used)
    */
  def componentsStarWithRounds(edges0: DataFrame,
                               maxRounds: Int = 40): (DataFrame, Int) = {
    val nodes = edges0.select(col("a").as("n"))
      .union(edges0.select(col("b").as("n"))).distinct().localCheckpoint()
    var edges = edges0
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), sum(col("a") + col("b"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = (-1L, -1L)
    var cur = checksum(edges)
    var round = 0
    while (cur != prev && round < maxRounds) {
      // large-star: neighbors bigger than u hook onto u's minimum
      val und = edges
        .union(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a").as("u"), least(col("a"), col("mn")).as("m"))
      val large = und.join(mins, und("a") === mins("u"))
        .filter(col("b") > col("a"))
        .select(col("m").as("a"), col("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star over (bigger end u, smaller end v): v and u both
      // hook onto u's minimum smaller neighbor
      val dir = large.select(col("b").as("u"), col("a").as("v"))
      val mins2 = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      edges = dir.join(mins2, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .union(mins2.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
      prev = cur; cur = checksum(edges); round += 1
    }
    val labels = nodes
      .join(edges.select(col("b").as("n"), col("a").as("lbl")), Seq("n"), "left")
      .select(col("n").as("doc_id"),
        coalesce(col("lbl"), col("n")).as("cluster_id"))
    (labels, round)
  }

  /** [[componentsStarWithRounds]] without the round count. */
  def componentsStar(edges0: DataFrame, maxRounds: Int = 40): DataFrame =
    componentsStarWithRounds(edges0, maxRounds)._1

  /** Incremental connected components for an APPEND-ONLY edge delta —
    * the dedup-clustering maintenance path: when a new crawl batch
    * lands, near-dup edges only ever ADD (a pair once similar stays
    * similar), so cluster labels never split and maintenance reduces
    * to merging.
    *
    * The trick is to run the merge on the CONTRACTED component graph:
    * each delta endpoint is replaced by its previous component label
    * (new nodes label themselves), and [[componentsStar]] runs over
    * that label graph — whose size is |affected components + new
    * nodes|, NOT the corpus. The corpus itself is touched exactly
    * once, by a broadcast-join relabel (map-side, no corpus shuffle):
    * labels in the merge mapping move to their merged minimum,
    * everything else keeps its label untouched. Labels stay canonical
    * (min doc_id per component), so the result is row-identical to a
    * full recompute (IncrementalComponentsSpec).
    *
    * @param prevLabels (doc_id, cluster_id) from the previous run
    * @param newEdges   (a, b) new similarity pairs
    * @return (labels, contracted-graph node count — the work measure)
    */
  def componentsIncremental(prevLabels: DataFrame,
                            newEdges: DataFrame): (DataFrame, Long) = {
    val lbl = prevLabels.select(col("doc_id"), col("cluster_id"))
    val le = newEdges
      .join(lbl.select(col("doc_id").as("a"), col("cluster_id").as("la")),
        Seq("a"), "left")
      .join(lbl.select(col("doc_id").as("b"), col("cluster_id").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val contractedN = le.select(col("a")).union(le.select(col("b")))
      .distinct().count()
    if (contractedN == 0)
      return (prevLabels.select(col("doc_id"), col("cluster_id")), 0L)
    // merge mapping over the tiny contracted graph: old label → new min
    val merged = componentsStar(le)
    val mapping = broadcast(merged
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("new_label")))
    val kept = prevLabels.join(mapping, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    // brand-new nodes all carry delta edges, so `merged` labels them
    val news = newEdges.select(col("a").as("doc_id"))
      .union(newEdges.select(col("b").as("doc_id"))).distinct()
      .join(prevLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(broadcast(merged.withColumnRenamed("cluster_id", "nl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nl"), col("doc_id")).as("cluster_id"))
    (kept.unionByName(news), contractedN)
  }

  /** Within-frame LSH candidate pairs: equi-self-join on (band,
    * bandkey), id-ordered. */
  private def selfPairs(bands: DataFrame): DataFrame =
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bandkey") === col("b.bandkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))

  /** Full-pipeline candidate pairs for any (doc_id, text) frame — the
    * from-scratch comparator IncrementalDedupSpec checks
    * [[dedupIncremental]] against. */
  def pairsOf(docs: DataFrame): DataFrame = selfPairs(bandsOf(docs))

  /** End-to-end incremental near-dup maintenance for a NEW document
    * batch — the composition a 100 TB crawl pipeline actually runs per
    * ingest cycle, with every stage ∝ the BATCH, never the corpus:
    *
    *  1. band signatures for the batch only ([[bandsOf]] — map-side);
    *  2. candidate pairs = batch self-join ∪ batch-probe of the STORED
    *     band index (both equi-joins on (band, bandkey); the corpus
    *     index is probed, never self-joined again);
    *  3. [[componentsIncremental]] merges the new pairs into the
    *     stored labels on the contracted component graph;
    *  4. batch docs that collide with nothing become their own
    *     singleton clusters.
    *
    * Returns the updated (bandIndex, labels) state pair — exactly what
    * the next cycle feeds back in. IncrementalDedupSpec asserts the
    * composed result is row-identical to re-running the FULL pipeline
    * on the union corpus.
    *
    * @param prevBands  stored (doc_id, band, bandkey) index
    * @param prevLabels stored (doc_id, cluster_id) labels
    * @param newDocs    (doc_id, text) batch, ids disjoint from corpus
    */
  def dedupIncremental(prevBands: DataFrame, prevLabels: DataFrame,
                       newDocs: DataFrame): (DataFrame, DataFrame) = {
    val s = newDocs.sparkSession
    import s.implicits._
    val nb = bandsOf(newDocs).localCheckpoint()
    val within = selfPairs(nb)
    val cross = nb.alias("n")
      .join(prevBands.alias("p"),
        col("n.band") === col("p.band") && col("n.bandkey") === col("p.bandkey"))
      .select(least(col("n.doc_id"), col("p.doc_id")).as("a"),
        greatest(col("n.doc_id"), col("p.doc_id")).as("b"))
    val newPairs = within.unionByName(cross)
      .filter($"a" =!= $"b").distinct().localCheckpoint()
    val (merged, _) = componentsIncremental(prevLabels, newPairs)
    // batch docs colliding with nothing: their own singleton clusters
    val paired = newPairs.select($"a".as("doc_id"))
      .union(newPairs.select($"b".as("doc_id")))
    val singletons = newDocs.select($"doc_id")
      .join(paired, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"))
    (prevBands.unionByName(nb), merged.unionByName(singletons))
  }

  /** (doc_id, n_overlap) for training docs (doc_id >= benchCut):
    * distinct-shingle overlap with the held-out docs below benchCut.
    * The benchmark shingle set broadcasts; the corpus-side check is a
    * map-side hash probe. */
  def contaminationCounts(s: SparkSession, dir: String, benchCut: Int = 25): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
    val bench = sh.filter($"doc_id" < benchCut).select($"sh").distinct()
    sh.filter($"doc_id" >= benchCut)
      .join(broadcast(bench), "sh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Data-following hash width in exact INTEGER bit-length arithmetic
    * (no log2 floats — a power-of-two corpus count must widen
    * identically in both engines): w = bitlen(n−1) − 5, floored at
    * `floor` (the width at the 500-row oracle sf, so oracle outputs
    * are unchanged there) and capped at `cap` (so shifted values stay
    * positive in a signed BIGINT). Keeps expected bucket occupancy
    * n/2^w in the 16–32 band at every corpus size — the HLL-register
    * discipline applied to banding: a FIXED width saturates by
    * birthday at ~2^(w/2) items and turns any pair search quadratic
    * (round 7's rung-exclusion cause); width must follow the data.
    * Oracle mirror, token for token:
    * `least(cap, greatest(floor, length(bin(n - 1)) - 5))`. */
  def adaptiveWidth(n: Long, floor: Int, cap: Int): Int = {
    val bitlen = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, n - 1)))
    math.min(cap, math.max(floor, bitlen - 5))
  }

  /** (doc_id, simhash): w-bit md5-majority SimHash per document
    * (w a multiple of 4, ≤ 60: the token value is the first w/4 md5
    * hex chars — the widest slice that stays a positive signed BIGINT
    * in both engines). At w = 16 this is bit-identical to the
    * original fixed-width fingerprint (q52's pinned output). */
  def simhashOfW(s: SparkSession, dir: String, w: Int): DataFrame = {
    require(w % 4 == 0 && w >= 4 && w <= 60, s"simhash width $w")
    import s.implicits._
    // ONE doc-keyed aggregate computes every bit's majority lean as a
    // conditional sum over the token stream. The previous (doc, bit)
    // explode form shuffled w× the token volume into a key domain w×
    // wider, and the per-task partial-aggregate hash map covered an
    // ever-smaller fraction of that domain as the corpus grew —
    // measured isolated sf10→sf30 exponent ≈ 1.45 (round 12). Here
    // the shuffle carries |docs| keys × w combine-able longs and the
    // fingerprint folds from the leans in the same projection, so the
    // pre-shuffle volume is the token stream itself, at any width and
    // any corpus size. Bit shifts are Scala-folded literals (w ≤ 60
    // keeps every 1L<<b and the fingerprint positive in a BIGINT).
    val leans = (0 until w).map { b =>
      sum(when(expr(s"(v div ${1L << b}) % 2") === 1, 1L).otherwise(-1L))
        .as(s"lean$b")
    }
    val fp = (0 until w).map { b =>
      when(col(s"lean$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    T.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("tok"))
      .withColumn("v",
        conv(substring(md5($"tok"), 1, w / 4), 16, 10).cast("long"))
      .groupBy($"doc_id")
      .agg(leans.head, leans.tail: _*)
      .select($"doc_id", fp.as("simhash"))
  }

  /** (doc_id, simhash): 16-bit md5-majority SimHash per document. */
  def simhashOf(s: SparkSession, dir: String): DataFrame =
    simhashOfW(s, dir, 16)

  /** (doc_id, simhash): 60-bit md5-majority SimHash — [[simhashOf]]
    * at the production width (see q124). */
  def simhash64Of(s: SparkSession, dir: String): DataFrame =
    simhashOfW(s, dir, 60)

  /** 60-bit variant of [[simhashCte]] (q124): token value = first 15
    * md5 hex chars via hex cast (both engines parse the same 60-bit
    * positive BIGINT). */
  private val simhash64Cte =
    """tv AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS v
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents) raw),
      |bits AS (
      |  SELECT doc_id, bit,
      |    sum(CASE WHEN (v // (CAST(1 AS BIGINT) << bit)) % 2 = 1
      |             THEN 1 ELSE -1 END) AS lean
      |  FROM tv CROSS JOIN (SELECT unnest(range(60)) AS bit) b
      |  GROUP BY doc_id, bit),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN lean > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
      |      AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private val simhashCte =
    """toks AS (
      |  SELECT doc_id, substr(md5(w), 1, 4) AS h4
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents) raw),
      |vals AS (
      |  SELECT doc_id,
      |    CAST((strpos('0123456789abcdef', substr(h4,1,1))-1)*4096
      |       + (strpos('0123456789abcdef', substr(h4,2,1))-1)*256
      |       + (strpos('0123456789abcdef', substr(h4,3,1))-1)*16
      |       + (strpos('0123456789abcdef', substr(h4,4,1))-1) AS BIGINT) AS v
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, bit,
      |    sum(CASE WHEN (v // (CAST(1 AS BIGINT) << bit)) % 2 = 1
      |             THEN 1 ELSE -1 END) AS lean
      |  FROM vals CROSS JOIN (SELECT unnest(range(16)) AS bit) b
      |  GROUP BY doc_id, bit),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN lean > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
      |      AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private val shinglesCte =
    """toks AS (
      |  SELECT doc_id, w, ord,
      |    lead(w,1) OVER (PARTITION BY doc_id ORDER BY ord) AS w1,
      |    lead(w,2) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(trim(text), '\s+')) AS w,
      |          generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS ord
      |        FROM documents) raw),
      |shingles AS (
      |  SELECT DISTINCT doc_id, w || ' ' || w1 || ' ' || w2 AS sh
      |  FROM toks WHERE w1 IS NOT NULL AND w2 IS NOT NULL)""".stripMargin

  /** Full-recompute clustering SQL — the shared oracle for every path
    * that must land on the same (doc_id, cluster_id) labeling: q57
    * (label propagation), q86 (star contraction), and q122 (the
    * incremental maintenance path — delta ingest must be
    * indistinguishable from this full recompute). */
  private def clustersOracleSql: String =
    s"""WITH RECURSIVE $shinglesCte,
       |sigs AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
       |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
       |  GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
       |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
       |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
       |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc1 AS a, doc2 AS b FROM pairs
       |  UNION ALL SELECT doc2, doc1 FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_canonical
       |FROM comp ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q122_incremental_dedup" -> clustersOracleSql,
    // Same full-recompute oracle: the on-disk state round-trip must
    // land on exactly the clustering a from-scratch pass computes.
    "q238_incremental_dedup_disk" -> clustersOracleSql,

    "q167_greedy_coverage" -> {
      val rounds = (1 to 5).map { r =>
        s"""gain$r AS MATERIALIZED (
           |  SELECT d.doc_id, CAST(coalesce(u.g, 0) AS BIGINT) AS gain
           |  FROM docs${r - 1} d LEFT JOIN (
           |    SELECT doc_id, count(*) AS g FROM shingles
           |    WHERE sh NOT IN (SELECT sh FROM cov${r - 1})
           |    GROUP BY doc_id) u ON u.doc_id = d.doc_id),
           |pick$r AS MATERIALIZED (
           |  SELECT doc_id, gain FROM gain$r
           |  ORDER BY gain DESC, doc_id LIMIT 1),
           |cov$r AS MATERIALIZED (
           |  SELECT sh FROM cov${r - 1}
           |  UNION
           |  SELECT sh FROM shingles
           |  WHERE doc_id IN (SELECT doc_id FROM pick$r)),
           |docs$r AS MATERIALIZED (
           |  SELECT doc_id FROM docs${r - 1}
           |  WHERE doc_id NOT IN (SELECT doc_id FROM pick$r))""".stripMargin
      }.mkString(",\n")
      val arms = (1 to 5).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS pick_round, doc_id, gain,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered_total
           |FROM pick$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $shinglesCte,
         |docs0 AS MATERIALIZED (SELECT DISTINCT doc_id FROM shingles),
         |cov0 AS MATERIALIZED (
         |  SELECT sh FROM shingles WHERE 1 = 0),
         |$rounds
         |$arms
         |ORDER BY pick_round""".stripMargin
    },

    "q51_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |sigs AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
         |  GROUP BY doc_id, seed),
         |bands AS (
         |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
         |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
         |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT))
         |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
         |ORDER BY doc1, doc2""".stripMargin,

    // Connected components via a recursive reachability CTE: UNION
    // (not UNION ALL) dedups visited (src, dst) states, so the
    // recursion terminates on the cyclic undirected edge relation;
    // cluster_id = min reachable node. Same label-is-min-reachable
    // definition BOTH Spark algorithms converge to: q57 (label
    // propagation) and q86 (star contraction) share this oracle.
    "q57_dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte,
         |sigs AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
         |  GROUP BY doc_id, seed),
         |bands AS (
         |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
         |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
         |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc1 AS a, doc2 AS b FROM pairs
         |  UNION ALL SELECT doc2, doc1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q88_cluster_split" ->
      s"""WITH RECURSIVE $shinglesCte,
         |sigs AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
         |  GROUP BY doc_id, seed),
         |bands AS (
         |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
         |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
         |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc1 AS a, doc2 AS b FROM pairs
         |  UNION ALL SELECT doc2, doc1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN (strpos('0123456789abcdef',
         |      substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 1, 1)) - 1)
         |      % 10 < 9
         |    THEN 'train' ELSE 'test' END AS split
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q86_dedup_clusters_star" ->
      s"""WITH RECURSIVE $shinglesCte,
         |sigs AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
         |  GROUP BY doc_id, seed),
         |bands AS (
         |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
         |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
         |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc1 AS a, doc2 AS b FROM pairs
         |  UNION ALL SELECT doc2, doc1 FROM pairs),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q74_decontamination" ->
      s"""WITH $shinglesCte,
         |bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id < 25),
         |hits AS (
         |  SELECT s.doc_id, count(*) AS n_overlap
         |  FROM shingles s JOIN bench b ON s.sh = b.sh
         |  WHERE s.doc_id >= 25 GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(h.n_overlap, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id >= 25 ORDER BY d.doc_id""".stripMargin,

    "q126_bloom_decontamination" ->
      s"""WITH $shinglesCte,
         |bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id < 25),
         |bpos AS (SELECT DISTINCT
         |    CAST(('0x' || substr(md5(b.sh || ':bf' || CAST(t.i AS VARCHAR)), 1, 13))
         |      AS BIGINT) % 4096 AS p
         |  FROM bench b, range(3) t(i)),
         |shf AS (SELECT s.doc_id,
         |    (CAST(('0x' || substr(md5(s.sh || ':bf0'), 1, 13)) AS BIGINT) % 4096
         |       IN (SELECT p FROM bpos))
         |    AND (CAST(('0x' || substr(md5(s.sh || ':bf1'), 1, 13)) AS BIGINT) % 4096
         |       IN (SELECT p FROM bpos))
         |    AND (CAST(('0x' || substr(md5(s.sh || ':bf2'), 1, 13)) AS BIGINT) % 4096
         |       IN (SELECT p FROM bpos)) AS in_bloom
         |  FROM shingles s WHERE s.doc_id >= 25),
         |blm AS (SELECT doc_id,
         |    CAST(count(CASE WHEN in_bloom THEN 1 END) AS BIGINT) AS n_bloom
         |  FROM shf GROUP BY doc_id),
         |hits AS (SELECT s.doc_id, count(*) AS n_overlap
         |         FROM shingles s JOIN bench b ON s.sh = b.sh
         |         WHERE s.doc_id >= 25 GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(b.n_bloom, 0) AS n_bloom,
         |  coalesce(h.n_overlap, 0) > 0 AS contaminated,
         |  coalesce(b.n_bloom, 0) > 0 AS bloom_flagged,
         |  coalesce(b.n_bloom, 0) > 0 AND coalesce(h.n_overlap, 0) = 0
         |    AS false_positive
         |FROM documents d
         |LEFT JOIN hits h ON h.doc_id = d.doc_id
         |LEFT JOIN blm b ON b.doc_id = d.doc_id
         |WHERE d.doc_id >= 25 ORDER BY d.doc_id""".stripMargin,

    "q52_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,

    // Brute-force ground truth at the ADAPTIVE width: the width CTE
    // replays adaptiveWidth's integer bit-length formula from
    // count(*), so banding is proven lossless at whatever width the
    // corpus size selects (16 bits at the 500-doc oracle sf — the
    // original pinned output).
    "q68_simhash_pairs" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |wid AS (SELECT least(15, greatest(4, length(bin(n - 1)) - 5)) AS bb FROM nn),
        |tv AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(w), 1, (SELECT bb FROM wid))) AS BIGINT) AS v
        |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents) raw),
        |bits AS (
        |  SELECT doc_id, bit,
        |    sum(CASE WHEN (v // (CAST(1 AS BIGINT) << bit)) % 2 = 1
        |             THEN 1 ELSE -1 END) AS lean
        |  FROM tv CROSS JOIN (SELECT unnest(range((SELECT bb * 4 FROM wid))) AS bit) b
        |  GROUP BY doc_id, bit),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN lean > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
        |      AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 3
        |ORDER BY doc1, doc2""".stripMargin,

    // brute-force ground truth again ⇒ the 4×15-bit banding is lossless
    "q124_simhash64_pairs" ->
      s"""WITH $simhash64Cte
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 3
         |ORDER BY doc1, doc2""".stripMargin,

    "q85_edit_distance" ->
      s"""WITH $shinglesCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM shingles a JOIN shingles b
         |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |docs AS (SELECT doc_id, trim(text) AS t FROM documents)
         |SELECT doc1, doc2,
         |  CAST(levenshtein(d1.t, d2.t) AS BIGINT) AS edit_dist,
         |  1.0 - CAST(levenshtein(d1.t, d2.t) AS DOUBLE) /
         |        CAST(greatest(len(d1.t), len(d2.t)) AS DOUBLE) AS char_sim
         |FROM cand
         |JOIN docs d1 ON d1.doc_id = doc1
         |JOIN docs d2 ON d2.doc_id = doc2
         |ORDER BY doc1, doc2""".stripMargin,

    "q53_jaccard_pairs" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
         |  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2, n_common,
         |  CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc1
         |JOIN sizes sb ON sb.doc_id = doc2
         |WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.1
         |ORDER BY doc1, doc2""".stripMargin,

    // Brute shingle join, both directed integer containments, the
    // identical either-direction gate.
    "q233_containment" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
         |  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(sa.sz AS BIGINT) AS sz1, CAST(sb.sz AS BIGINT) AS sz2,
         |  (n_common * 1000000) // sa.sz AS cont12_micro,
         |  (n_common * 1000000) // sb.sz AS cont21_micro
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc1
         |JOIN sizes sb ON sb.doc_id = doc2
         |WHERE (n_common * 1000000) // sa.sz >= 900000
         |   OR (n_common * 1000000) // sb.sz >= 900000
         |ORDER BY doc1, doc2""".stripMargin,

    // Identical truth gate (integer micro Jaccard over the brute
    // shingle join), identical minhash banding, identical 1-row P/R
    // tail with the zero-denominator guard.
    "q225_dedup_pr" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
         |  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |truth AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc1
         |  JOIN sizes sb ON sb.doc_id = doc2
         |  WHERE (n_common * 1000000) // (sa.sz + sb.sz - n_common) >= 500000),
         |sigs AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shingles CROSS JOIN (SELECT unnest(range(8)) AS seed) s
         |  GROUP BY doc_id, seed),
         |bands AS (
         |  SELECT doc_id, CAST(floor(seed/2) AS BIGINT) AS band,
         |    max(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    max(CASE WHEN seed % 2 = 1 THEN mh END) AS bandkey
         |  FROM sigs GROUP BY doc_id, CAST(floor(seed/2) AS BIGINT)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id),
         |agg AS (
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand
         |     JOIN truth USING (doc1, doc2)) AS n_hit)
         |SELECT n_truth, n_cand, n_hit,
         |  CASE WHEN n_cand > 0 THEN (n_hit * 1000000) // n_cand END
         |    AS precision_micro,
         |  CASE WHEN n_truth > 0 THEN (n_hit * 1000000) // n_truth END
         |    AS recall_micro
         |FROM agg""".stripMargin,

    // Deliberately the BRUTE-FORCE form (no prefix logic): matching it
    // hash-exactly proves the Spark side's prefix filter is lossless.
    "q100_prefix_jaccard" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
         |  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2, n_common,
         |  CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc1
         |JOIN sizes sb ON sb.doc_id = doc2
         |WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8
         |ORDER BY doc1, doc2""".stripMargin,

    // Mirrors q129 stage for stage: same md5 gram keys, same ≥2 census
    // threshold, same K=5 gaps-and-islands merge arithmetic.
    "q129_dup_spans" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents)
        |  WHERE len(ws) >= 5),
        |grams AS (
        |  SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS pos,
        |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |        ws[i+3] || ' ' || ws[i+4]) AS g
        |  FROM base, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i) ix),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |flag AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL
        |           OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS ni
        |  FROM grams WHERE g IN (SELECT g FROM dup)
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |grp AS (
        |  SELECT doc_id, pos,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flag),
        |isl AS (
        |  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS n_pos,
        |    max(pos) - min(pos) + 5 AS covered
        |  FROM grp GROUP BY doc_id, grp),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n_pos) AS BIGINT) AS dup_grams,
        |    CAST(sum(covered) AS BIGINT) AS covered_tokens,
        |    max(covered) AS max_dup_span
        |  FROM isl GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(a.dup_grams, 0) AS dup_grams,
        |  coalesce(a.covered_tokens, 0) AS covered_tokens,
        |  CAST(coalesce(a.covered_tokens, 0) AS DOUBLE) /
        |    CAST(b.n_tokens AS DOUBLE) AS dup_frac,
        |  coalesce(a.max_dup_span, 0) AS max_dup_span
        |FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)
}
